"""Similarity search over embedding columns (``array<float>``).

Two tiers, both returning (query_id, neighbour_id, cos_sim, rank):

* ``brute_force_topk`` — exact: every query scored against every corpus
  vector via JVM-side higher-order functions, then a per-query window
  top-k.  The shuffle is one hash partition on query_id; cost is
  O(|Q|·|C|) dot products.  Correct baseline and the right choice when
  |Q| is small (ad-hoc lookups) even at a 100-TB corpus *if* the corpus
  side is pre-filtered.
* ``lsh_topk`` — approximate scale path: sign-random-projection
  (hyperplane) LSH buckets both sides, candidates come from a bucket
  equi-join (shuffle keyed on 16–32-bit bucket ids, never all-pairs),
  then exact cosine re-rank inside buckets.  Recall is tuned by
  ``num_tables`` independent hash tables; each table adds one
  O(rows × 1) bucket column, not a data copy.

Hyperplanes are derived deterministically from a seed via numpy
``default_rng`` inside an Arrow-batched pandas UDF — the one Python
boundary, amortized over whole record batches (BLAS matrix multiply per
batch), never per row.

Design notes for the reference parity check: the reference
(JaromirKoflak/gdp-etl) has no similarity search at all; this module is
part of the beyond-reference LLM-data-pipeline surface required by the
build brief.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.storagelevel import StorageLevel

from ..functions.expressions import bigint_array_sql, bigint_matrix_lit
from ..functions.vectors import cosine_exact_arrow


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbours for every query vector.

    The query side is usually small → broadcast it so the corpus never
    shuffles for the join; the only shuffle is the per-query window,
    keyed on query_id.  Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbour_id"), F.col(corpus_vec).alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbour_id"))
        .withColumn("cos_sim", cosine_exact_arrow(F.col("__qv"), F.col("__cv")))
        .drop("__qv", "__cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbour_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbour_id", "cos_sim", "rank")
    )


def hyperplane_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_bits: int = 16,
    dim: int | None = None,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Append a sign-random-projection LSH bucket id (int, ``num_bits``
    bits) per row.  Vectors with cosine near 1 agree on most hyperplane
    signs, so they land in the same bucket with high probability:
    P[sign match per bit] = 1 − θ/π.

    The hyperplane matrix (num_bits × dim) is generated once per executor
    from ``seed`` — deterministic, no broadcast needed — and applied as a
    single matrix multiply per Arrow batch.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("empty DataFrame and no dim given")
        dim = first["d"]

    @F.pandas_udf(IntegerType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        import numpy as np

        planes = np.random.default_rng(seed).standard_normal((dim, num_bits))
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, num_bits)
        weights = (1 << np.arange(num_bits)).astype(np.int64)
        return pd.Series((bits @ weights).astype(np.int32))

    return df.withColumn(out_col, _bucket(F.col(vec_col)))


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    num_bits: int = 12,
    num_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    out_col: str = "buckets",
) -> DataFrame:
    """All ``num_tables`` bucket ids in ONE Arrow pass: a single
    (dim × num_bits·num_tables) matrix multiply per record batch, then
    per-table bit packing — num_tables× fewer Python boundary crossings
    than calling :func:`hyperplane_lsh_bucket` per table."""
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("empty DataFrame and no dim given")
        dim = first["d"]

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        planes = np.hstack(
            [
                np.random.default_rng(seed + t).standard_normal((dim, num_bits))
                for t in range(num_tables)
            ]
        )  # (dim, num_bits*num_tables) — matches per-table seeding exactly
        mat = np.vstack(vecs.to_numpy())
        bits = (mat @ planes) > 0  # (batch, num_bits*num_tables)
        weights = (1 << np.arange(num_bits)).astype(np.int64)
        out = [
            (bits[:, t * num_bits : (t + 1) * num_bits] @ weights).astype(np.int32)
            for t in range(num_tables)
        ]
        return pd.Series(np.stack(out, axis=1).tolist())

    return df.withColumn(out_col, _buckets(F.col(vec_col)))


def rademacher_signs(
    num_bits: int, dim: int, seed: str
) -> list[list[int]]:
    """±1 sign matrix ``[bit j][element i]`` from the md5-parity recipe
    shared with :func:`gdp_etl_spark.functions.vectors.random_projection`:
    sign(i, j) = +1 iff the first hex digit of md5(f"{i}:{j}:{seed}") is
    even.  Generated driver-side with hashlib (md5 is md5 everywhere), so
    the same matrix is reproducible in any engine — the DuckDB oracle
    embeds it as list literals and matches bit-for-bit."""
    import hashlib

    even = set("02468ace")
    return [
        [
            1
            if hashlib.md5(f"{i}:{j}:{seed}".encode()).hexdigest()[0] in even
            else -1
            for i in range(dim)
        ]
        for j in range(num_bits)
    ]


def rademacher_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    num_bits: int = 8,
    num_tables: int = 4,
    dim: int | None = None,
    seed: str = "lsh",
    out_col: str = "buckets",
) -> DataFrame:
    """Sign-random-projection buckets with **Rademacher (±1) hyperplanes**
    instead of Gaussian ones — same collision geometry (sign projections
    only need symmetric zero-mean entries), but fully deterministic and
    engine-portable:

    * the sign matrix is built driver-side from md5 parity
      (:func:`rademacher_signs`) and inlined as *array literals*, so the
      whole bucket computation is JVM-side whole-stage codegen — zero
      Python boundary, zero runtime hashing;
    * per-bit projections use the repo's fixed-point recipe
      (``floor(x·1e12)`` bigint sums), so buckets are bit-identical
      across engines/partitionings and the DuckDB oracle can recompute
      them exactly — which upgrades LSH queries from rows-only to full
      hash-checked correctness.

    Output: ``out_col`` = ``array<int>`` of ``num_tables`` bucket ids
    (``num_bits`` bits each), table t seeded ``f"{seed}:{t}"``.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("empty DataFrame and no dim given")
        dim = first["d"]

    # ONE nested higher-order expression over a literal sign matrix
    # (rows = num_tables·num_bits hyperplanes) instead of
    # num_tables·num_bits flattened fold expressions: semantically
    # identical, but the generated code is ~num_bits·num_tables×
    # smaller, which keeps whole-stage codegen compile time negligible.
    # r16: the matrix is ONE parsed literal (bigint_matrix_lit) — the
    # old num_tables·num_bits·dim F.lit py4j calls cost ~0.5 s of
    # driver-side plan construction per build (the lambda already
    # casts each sign to bigint, so values are unchanged).
    sign_matrix = bigint_matrix_lit(
        [
            rademacher_signs(num_bits, dim, f"{seed}:{t}")[j]
            for t in range(num_tables)
            for j in range(num_bits)
        ]
    )
    from ..functions.hof import bind_once

    # bind the double-cast vector ONCE per row: captured in the
    # per-sign-row lambda it re-casts the vector per PROJECTION row
    projs = bind_once(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        lambda vd: F.transform(
            sign_matrix,
            lambda row: F.aggregate(
                F.zip_with(
                    vd,
                    row,
                    lambda x, s: F.floor(x * F.lit(1e12)).cast("bigint")
                    * s.cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        ),
    )
    with_projs = df.withColumn("__rlb_projs", projs)
    buckets = [
        sum(
            (
                F.when(F.col("__rlb_projs")[t * num_bits + j] > 0, F.lit(1 << j))
                .otherwise(F.lit(0))
                for j in range(num_bits)
            ),
            start=F.lit(0),
        ).cast("int")
        for t in range(num_tables)
    ]
    return with_projs.withColumn(out_col, F.array(*buckets)).drop("__rlb_projs")


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_bits: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    method: str = "gaussian",
) -> DataFrame:
    """Approximate all-pairs top-k: per vector, its top-k neighbours among
    vectors sharing an LSH bucket in ANY of ``num_tables`` tables.

    Shuffle shape: rows explode ×num_tables, one equi-join keyed on
    (table, bucket), then a distinct + window.  Candidate volume is
    sum over buckets of n_b², bounded far below n² when buckets are
    balanced — the knob is num_bits (more bits → smaller buckets →
    fewer candidates, lower recall per table; recover recall with more
    tables).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # materialize before the self-join: both sides consume the frame, so
    # without the barrier the bucket-signature pandas UDF runs twice
    # (for "rademacher" the barrier instead stops the 2048-op codegen
    # expression from inlining into both join sides)
    if method == "rademacher":
        bucketed = rademacher_lsh_buckets(
            base, "vec", num_bits=num_bits, num_tables=num_tables,
            seed=str(seed), out_col="__bs",
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        bucketed = hyperplane_lsh_buckets(
            base, "vec", num_bits=num_bits, num_tables=num_tables, seed=seed,
            out_col="__bs",
        ).persist(StorageLevel.MEMORY_AND_DISK)
    exploded = bucketed.select(
        "id", "vec", F.posexplode(F.col("__bs")).alias("table", "bucket")
    )

    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias("neighbour_id"),
            F.col("a.vec").alias("__qv"),
            F.col("b.vec").alias("__cv"),
        )
        .dropDuplicates(["query_id", "neighbour_id"])
    )
    scored = cand.withColumn(
        "cos_sim", cosine_exact_arrow(F.col("__qv"), F.col("__cv"))
    ).drop("__qv", "__cv")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbour_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbour_id", "cos_sim", "rank")
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into Voronoi
    cells around sampled centroids, then search each query only in its
    ``nprobe`` nearest cells.

    Scale shape (the FAISS-IVF recipe, Spark-ified):

    * **train**: centroids come from a driver-side k-means-lite (a few
      Lloyd iterations over a bounded sample).  Centroid matrices are
      model state — kilobytes — so driver compute is the right place;
      the corpus itself never leaves the executors.
    * **assign**: one Arrow pass tags each corpus vector with its
      nearest-centroid cell id.  At rest this would be the partition /
      cluster key of the vector table.
    * **probe**: queries fan out to ``nprobe`` cells (explode), candidates
      come from the cell equi-join — shuffle ∝ |corpus| + |Q|·nprobe·cell
      size, never |Q|·|corpus| — and exact cosine re-ranks inside cells.
    """
    import numpy as np

    from .kmeans import _check_nprobe

    _check_nprobe(nprobe, "ivf_topk")
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    n_total = base.count()
    if n_total == 0:
        raise ValueError("empty corpus")
    frac = sample_fraction or min(1.0, (num_centroids * 64) / max(n_total, 1))
    sample = np.array(
        base.sample(fraction=frac, seed=seed).select("vec").toPandas()["vec"].tolist(),
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    if len(sample) < num_centroids:
        num_centroids = max(1, len(sample))
    centroids = sample[rng.choice(len(sample), num_centroids, replace=False)]
    for _ in range(5):  # Lloyd iterations on the sample
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(num_centroids):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    cent = centroids  # (num_centroids, dim)

    @F.pandas_udf(IntegerType())
    def _cell(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, : min(nprobe, cent.shape[0])].astype(np.int32)
        return pd.Series(order.tolist())

    corpus_cells = base.withColumn("cell", _cell(F.col("vec")))
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .withColumn("cell", F.explode(_probe_cells(F.col("__qv"))))
    )
    cand = corpus_cells.join(F.broadcast(q), "cell").filter(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbour_id"),
        cosine_exact_arrow(F.col("__qv"), F.col("vec")).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbour_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbour_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbour_id", "cos_sim", "rank")
    )


def ivf_topk_fixed(
    df: DataFrame,
    query_ids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 3,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "ivf",
    train_ppm: int | None = None,
) -> DataFrame:
    """Engine-replayable IVF approximate top-k — :func:`ivf_topk`'s
    semantics on the repo's deterministic fixed-point recipe, so the
    whole pipeline (coarse-quantizer training, cell assignment, probe
    selection, candidate scoring, ranking) replays bit-exactly in any
    engine: the driver check is HASH equality on the generated-CTE
    DuckDB oracle, not a recall bound.  :func:`ivf_topk` keeps the
    float/NumPy sampled-training path (and its exhaustive-probe
    equality harness ``ivf_recall``); this is the variant whose result
    is itself a verifiable contract.

    The FAISS-IVF shape, unchanged:

    * **train** — coarse centroids from
      :func:`~gdp_etl_spark.operators.kmeans.train_kmeans_fixed` over
      the FULL corpus by default (hash-seeded, integer Lloyd updates;
      per iteration one k-row shuffle + a k·dim driver collect — model
      state, bounded by parameters, never by data).  ``train_ppm``
      caps the training SET the FAISS way: only rows whose portable
      md5 gate ``hash(id : seed) mod 1e6 < train_ppm`` enter the
      Lloyd passes (each iteration scans the training set, so at
      100 TB training on everything pays |corpus| per iteration for
      centroids a bounded deterministic sample fixes identically in
      distribution).  The gate is the repo's hash_sample recipe, so
      the ORACLE replays the same membership — sampled training stays
      hash-exact, unlike :func:`ivf_topk`'s ``df.sample``.
    * **assign** — each corpus vector's nearest-centroid cell via the
      shared literal-centroid argmin (:func:`kmeans.assign_expr`):
      map-only, whole-stage codegen, no shuffle.  At rest the cell is
      the vector table's partition key.
    * **probe** — each query's ``nprobe`` nearest cells are computed
      DRIVER-side from the same integer distances (queries are a
      bounded literal list, like :func:`pq_topk`); candidates are the
      corpus rows whose cell is probed, scored with the EXACT integer
      squared distance — the per-query distance sits behind a
      ``CASE WHEN cell IN probes`` so unprobed rows never evaluate it.
      Work ∝ |corpus| assignment + |corpus ∩ probed cells|·|Q|
      scoring, never |Q|·|corpus|.
    * **rank** — the per-query top-k ``row_number`` window that
      Catalyst prunes map-side (WindowGroupLimit, see
      skew.grouped_topk).

    Returns ``(query_id, neighbour_id, score_d2, rank)`` with
    ``score_d2`` the exact fixed-point squared L2 distance;
    self-matches excluded; ties break to the smaller neighbour id,
    probe ties to the smaller cell id (matching the oracle's
    ``ORDER BY d2, cluster``).
    """
    from .kmeans import (
        _check_id_col,
        _check_nprobe,
        _check_query_ids,
        _explode_scores,
        _ivf_scores,
        _probe_cells,
        _quantize,
        _query_vectors,
        _sql_ident,
        _topk_d2,
        assign_expr,
        train_kmeans_fixed,
    )

    query_ids = _check_query_ids(query_ids, "ivf_topk_fixed")
    _check_nprobe(nprobe, "ivf_topk_fixed")
    _check_id_col(df, id_col, "ivf_topk_fixed")
    base = df.filter(F.col(vec_col).isNotNull())
    train = base
    if train_ppm is not None:
        if not 0 < train_ppm <= 1_000_000:
            raise ValueError(
                f"train_ppm must be in (0, 1_000_000], got {train_ppm}"
            )
        gate = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        ":", F.col(id_col).cast("string"), F.lit(seed)
                    )),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint"),
            F.lit(1_000_000),
        )
        train = base.filter(gate < F.lit(int(train_ppm)))
    centroids = train_kmeans_fixed(
        train, id_col, vec_col, k=num_centroids, n_iter=n_iter,
        scale=scale, offset=offset, seed=seed,
    )
    if not centroids:
        raise ValueError(
            "empty corpus"
            if train_ppm is None
            else "training sample is empty — raise train_ppm"
        )

    quantized = base.select(
        id_col, _quantize(vec_col, scale, offset).alias("q")
    )
    cell, _ = assign_expr(centroids, "q")
    qvecs = _query_vectors(
        quantized.filter(F.col(id_col).isin(query_ids)).collect(),
        query_ids, id_col, "corpus",
    )
    probes = {qi: _probe_cells(qv, centroids, nprobe)
              for qi, qv in qvecs.items()}
    assigned = quantized.selectExpr(
        _sql_ident(id_col), "q", f"{cell} AS cell"
    )
    scored = _explode_scores(
        assigned, id_col, _ivf_scores(qvecs, probes, "cell", "q")
    )
    return _topk_d2(scored, k)


def expected_bucket_collision_prob(cos_sim: float, num_bits: int) -> float:
    """P[two vectors with given cosine share one table's bucket] =
    (1 − θ/π)^num_bits — the tuning identity for (num_bits, num_tables)."""
    theta = math.acos(max(-1.0, min(1.0, cos_sim)))
    return (1.0 - theta / math.pi) ** num_bits


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Element-wise mean of embedding vectors per group — the pooling
    step that turns chunk embeddings into a document embedding, or a
    cluster's members into a refreshed centroid.

    Exactness: every component is quantized to ``floor(x·scale)``
    int64 BEFORE summing, so per-group sums are exact integers —
    bit-stable across partitionings, runs and engines (the repo's
    standard fixed-point signature move); the mean is then two
    correctly-rounded double operations in a fixed order.

    Returns ``(group_col, n_vecs, centroid array<double>)``.

    Scale shape: ONE group shuffle with packed Arrow vector batches —
    the pure-SQL alternative (posexplode → groupBy (group, pos))
    inflates rows ×dim (64–4096) before its shuffle, paying dim× the
    shuffle bytes for the same result.  r16 rewrite: the shuffle+sort
    is the same exchange `groupBy().applyInPandas` produced, but the
    Python side is `mapInArrow` over group-contiguous partitions —
    ONE Python call per ~10k-row Arrow batch instead of one pandas
    frame per GROUP (per-group frame construction dominated the old
    stage: thousands of tiny frames for document-chunk pooling;
    measured 5.20 → 0.92 s on chunk_embed_pool).  Arrow — not pandas —
    because the pandas conversion coerces an integer key column with
    NULLs to float64 (NaN keys split runs and can lose >2⁵³ id
    precision); the Arrow batch keeps keys exact.  Partial sums carry
    across batch boundaries; per-group sums are exact int64 either
    way, so results are bit-identical to the per-group form
    (associative integer addition).  Ragged or NULL vectors, and
    NULL, NaN or ±Inf elements, raise inside the stream fn naming the
    group: pooling them is a data bug, not a soft case.  NaN group keys
    pool as one group, as ``groupBy`` groups them.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType as _Arr,
        DoubleType as _Dbl,
        LongType as _Lng,
        StructField as _Fld,
        StructType as _Sct,
    )

    gfield = df.schema[group_col]
    out_schema = _Sct(
        [
            _Fld(group_col, gfield.dataType),
            _Fld("n_vecs", _Lng()),
            _Fld("centroid", _Arr(_Dbl())),
        ]
    )

    def pool_stream(batches):
        # carried partial state for the group spanning a batch boundary
        cur_key, cur_sum, cur_n = None, None, 0
        started = False
        key_type = None

        def same_key(a, b):
            # NaN keys form one group, as in groupBy
            return a == b or (a != a and b != b)

        def finish(key, q_sum, n):
            centroid = (q_sum.astype(np.float64) / scale) / n
            return key, n, centroid.tolist()

        def emit(rows):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in rows], type=key_type),
                    pa.array([r[1] for r in rows], type=pa.int64()),
                    pa.array(
                        [r[2] for r in rows], type=pa.list_(pa.float64())
                    ),
                ],
                names=[group_col, "n_vecs", "centroid"],
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            key_type = batch.schema.field(0).type
            keys = batch.column(0).to_pylist()  # exact: None stays None
            vcol = batch.column(1)
            if vcol.null_count:
                bad = keys[np.flatnonzero(np.asarray(vcol.is_null()))[0]]
                raise ValueError(f"NULL {vec_col!r} in group {bad!r}")
            offs = np.asarray(vcol.offsets)
            flat = np.asarray(
                vcol.values.to_numpy(zero_copy_only=False), dtype=np.float64
            )
            nonfinite = ~np.isfinite(flat)
            if nonfinite.any():
                bad = keys[
                    int(
                        np.searchsorted(
                            offs, np.flatnonzero(nonfinite)[0], "right"
                        )
                    ) - 1
                ]
                raise ValueError(
                    f"NULL, NaN or ±Inf {vec_col!r} element in group "
                    f"{bad!r}"
                )
            q_flat = np.floor(flat * scale).astype(np.int64)
            n_rows = batch.num_rows
            # segment boundaries: rows are group-contiguous (sorted
            # within the hash partition), so each run is one group
            bounds = [0] + [
                i for i in range(1, n_rows)
                if not same_key(keys[i], keys[i - 1])
            ] + [n_rows]
            out = []
            for b in range(len(bounds) - 1):
                lo, hi = bounds[b], bounds[b + 1]
                key = keys[lo]
                lens = offs[lo + 1:hi + 1] - offs[lo:hi]
                if (lens != lens[0]).any():
                    raise ValueError(
                        f"inconsistent {vec_col!r} dimensions in group "
                        f"{key!r}: sizes {sorted(set(lens.tolist()))}"
                    )
                seg = q_flat[offs[lo]:offs[hi]].reshape(hi - lo, lens[0])
                s, n = seg.sum(axis=0), hi - lo
                if started and same_key(key, cur_key):
                    if len(cur_sum) != len(s):
                        raise ValueError(
                            f"inconsistent {vec_col!r} dimensions in "
                            f"group {key!r}: sizes "
                            f"{sorted({len(cur_sum), len(s)})}"
                        )
                    cur_sum = cur_sum + s
                    cur_n += n
                else:
                    if started:
                        out.append(finish(cur_key, cur_sum, cur_n))
                    cur_key, cur_sum, cur_n = key, s, n
                    started = True
            # everything except the still-open last group is final
            if out:
                yield emit(out)
        if started:
            yield emit([finish(cur_key, cur_sum, cur_n)])

    return (
        df.select(group_col, vec_col)
        .repartition(F.col(group_col))
        .sortWithinPartitions(group_col)
        .mapInArrow(pool_stream, schema=out_schema)
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 10**6,
    center: bool = True,
) -> DataFrame:
    """Distributed covariance / Gram matrix of an embedding column —
    the one-pass aggregation behind PCA, whitening, and subspace drift
    checks over a 100-TB embedding store.

    Exactness: components quantize to ``floor(x·scale)`` int64 FIRST
    (the repo's fixed-point signature move), so the per-partition
    partial Gram matrices, the component sums, and the row count are
    all exact integers — bit-stable across runs, partitionings and
    engines; the final covariance entries are a fixed-order double
    formula over those integers.  With ``center=True`` entries are
    ``E[xᵢxⱼ] − E[xᵢ]E[xⱼ]`` (population covariance); otherwise the
    raw second-moment matrix ``E[xᵢxⱼ]``.

    Returns ``(i, j, n, cov)`` — ``dim²`` rows (both triangles, so a
    consumer can reshape without symmetrizing).

    Scale shape: ONE ``mapInPandas`` pass computing a per-partition
    int64 Gram via a single numpy matmul (no dim²-per-row explode —
    the SQL formulation would shuffle ``dim²·n`` rows; this ships
    ``dim²`` PER PARTITION), then one tiny positional aggregation;
    total shuffle is ``partitions · dim²`` rows of three longs.
    Overflow headroom: |q| ≲ scale for unit-normalized embeddings, so
    a partition would need ~10⁶ rows × scale² ≈ 10¹⁸ before nearing
    int64 — repartition upstream for bigger partitions or drop
    ``scale`` a decade.
    """
    import numpy as np
    from pyspark.sql.types import (
        LongType as _Lng,
        StructField as _Fld,
        StructType as _Sct,
    )

    part_schema = _Sct(
        [
            _Fld("pos", _Lng()),
            _Fld("sum_q", _Lng()),
            _Fld("comp_i", _Lng()),
            _Fld("n", _Lng()),
        ]
    )

    def partial_gram(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        comp = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            vecs = pdf[vec_col].tolist()
            if not vecs:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.shape[1] != dim:
                raise ValueError(
                    f"expected dim={dim}, got {mat.shape[1]}"
                )
            q = np.floor(mat * scale).astype(np.int64)
            acc += q.T @ q
            comp += q.sum(axis=0)
            n += q.shape[0]
        if n == 0:
            return
        flat = acc.reshape(-1)
        pos = np.arange(dim * dim, dtype=np.int64)
        # component sums ride along on the diagonal positions (i == j)
        comp_col = np.zeros(dim * dim, dtype=np.int64)
        comp_col[pos % (dim + 1) == 0] = comp
        yield pd.DataFrame(
            {
                "pos": pos,
                "sum_q": flat,
                "comp_i": comp_col,
                "n": np.full(dim * dim, n, dtype=np.int64),
            }
        )

    partials = df.select(vec_col).mapInPandas(partial_gram, part_schema)
    agg = partials.groupBy("pos").agg(
        F.sum("sum_q").alias("sq"),
        F.sum("comp_i").alias("ci"),
        F.sum("n").alias("n"),
    )
    i = (F.col("pos") / dim).cast("int")
    j = F.pmod(F.col("pos"), F.lit(dim)).cast("int")
    # exact integers in, fixed-order double math out:
    # E[xi xj] = sq / (n·scale²);  E[xi] from the diagonal row of i (a
    # self-join on two dim²-row frames — broadcast, dimension-sized)
    out = agg.select(
        i.alias("i"), j.alias("j"), F.col("sq"), F.col("ci"), F.col("n")
    )
    if not center:
        return out.select(
            "i",
            "j",
            F.col("n"),
            (
                F.col("sq").cast("double")
                / (F.col("n").cast("double") * float(scale) * float(scale))
            ).alias("cov"),
        )
    means = out.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("__k"),
        (
            F.col("ci").cast("double")
            / (F.col("n").cast("double") * float(scale))
        ).alias("__mean"),
    )
    mi = means.select(F.col("__k").alias("i"), F.col("__mean").alias("__mi"))
    mj = means.select(F.col("__k").alias("j"), F.col("__mean").alias("__mj"))
    return (
        out.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.col("n"),
            (
                F.col("sq").cast("double")
                / (F.col("n").cast("double") * float(scale) * float(scale))
                - F.col("__mi") * F.col("__mj")
            ).alias("cov"),
        )
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    out_col: str = "pca",
    scale: int = 10**6,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components —
    the dimensionality-reduction step before clustering / ANN indexing
    / visualization of an embedding store.

    The covariance comes from :func:`embedding_gram` (exact fixed-point
    distributed aggregation); its ``dim²`` rows — dimension-sized, not
    data-sized — are the ONLY driver materialization, and the
    eigendecomposition of that ``dim×dim`` symmetric matrix is driver
    numpy (``eigh``).  Components are sign-canonicalized (largest-|·|
    coordinate positive) so the projection is reproducible across
    runs; the component matrix then broadcasts inside an Arrow-batched
    pandas iterator and the projection is one numpy matmul per batch —
    map-only, zero shuffle on the corpus.

    Returns the input plus ``out_col`` (``array<double>`` length k).
    Not oracle-registered: eigenvectors are LAPACK-determined and not
    portably recomputable in SQL; parity is pinned by tests against
    numpy instead.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType as _Arr,
        DoubleType as _Dbl,
        StructField as _Fld,
        StructType as _Sct,
    )

    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")
    gram_rows = embedding_gram(df, vec_col, dim, scale=scale).collect()
    cov = np.zeros((dim, dim))
    for r in gram_rows:
        cov[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)       # ascending eigenvalues
    comps = vecs[:, ::-1][:, :k]           # top-k columns
    # sign canon: the largest-|coordinate| of each component positive
    for c in range(k):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    comps_b = comps.copy()
    fields = [f for f in df.schema.fields]
    out_schema = _Sct(fields + [_Fld(out_col, _Arr(_Dbl()))])
    cols = [f.name for f in fields]

    def project(batches):
        for pdf in batches:
            if len(pdf):
                mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                proj = mat @ comps_b
                pdf = pdf.assign(**{out_col: list(map(list, proj))})
            else:
                pdf = pdf.assign(**{out_col: []})
            yield pdf[cols + [out_col]]

    return df.mapInPandas(project, out_schema)


def pq_topk(
    df: DataFrame,
    query_ids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "pq",
    rerank: int = 0,
) -> DataFrame:
    """Product-quantization approximate top-k — the third leg of the
    FAISS triad next to :func:`lsh_topk` (hash buckets) and
    :func:`ivf_topk` (coarse cells): compress every vector to ``m``
    codebook indices (here 4 × 16 codes = 4 bytes/vector instead of
    256) and score queries against the CODES via asymmetric distance
    computation (ADC) — at 100 TB of embeddings, the only way the
    whole index fits a memory tier at all.

    Spark-first shape:

    * **train** — per subspace, the deterministic fixed-point Lloyd's
      of :func:`~gdp_etl_spark.operators.kmeans.train_kmeans_fixed`
      (hash-seeded, integer updates) on the SLICED vectors: codebooks
      are model state, k_codes·dim integers on the driver.
    * **encode** — ONE map-only pass: each row's m argmin codes against
      the literal codebooks (nested HOFs, whole-stage codegen, no
      shuffle).  At rest the codes column IS the index.
    * **score** — the |queries|·m·k_codes ADC lookup tables are exact
      Python ints computed driver-side and shipped as literals; each
      corpus row's approximate distance per query is m array lookups —
      again map-only — and the per-query top-k is a row_number window
      that Catalyst prunes map-side (WindowGroupLimit, see
      skew.grouped_topk).

    Everything is the repo's fixed-point recipe, so the DuckDB oracle
    replays training, encoding, and ADC bit-exactly — the check is
    hash equality on (query_id, neighbour_id, approx_d2, rank), not a
    recall bound.  (Recall vs exact cosine is characterized separately
    in tests, the ivf_recall pattern.)

    Returns (query_id, neighbour_id, score_d2, rank), self-matches
    excluded.  ``score_d2`` is the ADC estimate when ``rerank=0``;
    with ``rerank=R`` the top-R ADC shortlist is re-scored with the
    EXACT fixed-point distance and ``score_d2`` is exact — the
    standard recall repair (uniform-random embeddings are PQ's worst
    case: pure ADC recall@10 ≈ 0.2 on the synthetic table, shortlist
    re-rank at R=5k/|corpus| restores most of it; characterized in
    tests/test_similarity_multimodal.py).
    """
    from .kmeans import (
        _adc_scores,
        _check_id_col,
        _check_query_ids,
        _dist2,
        _explode_scores,
        _pq_encode,
        _quantize,
        _query_vectors,
        _sql_ident,
        _topk_d2,
        train_pq_codebooks,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    query_ids = _check_query_ids(query_ids, "pq_topk")
    _check_id_col(df, id_col, "pq_topk")
    sub = dim // m
    base = df.filter(F.col(vec_col).isNotNull())

    # fused trainer: one persisted frame + one action per Lloyd's step
    # for ALL m subspaces
    codebooks = train_pq_codebooks(
        base, id_col, vec_col, m=m, sub=sub, k=k_codes, n_iter=n_iter,
        scale=scale, offset=offset, seed=seed,
    )

    quantized = base.select(
        id_col, _quantize(vec_col, scale, offset).alias("q")
    )
    # encode: one map-only pass; the codes array is the persisted PQ
    # index's column shape, so one ADC expression serves both
    codes = quantized.selectExpr(
        _sql_ident(id_col), f"{_pq_encode('q', codebooks, sub)} AS codes"
    )
    # exact integer ADC tables, driver-side (|Q|·m·k_codes ints)
    qvecs = _query_vectors(
        quantized.filter(F.col(id_col).isin(query_ids)).collect(),
        query_ids, id_col, "corpus",
    )
    scored = _explode_scores(
        codes, id_col, _adc_scores(qvecs, codebooks, sub, "codes")
    )
    if not rerank:
        return _topk_d2(scored, k)
    # ADC shortlist → EXACT fixed-point re-rank (the standard FAISS
    # recipe): quantization distortion picks the shortlist, the true
    # integer distance picks the final k.  The shortlist is
    # |Q|·rerank rows; the exact pass joins it back to the quantized
    # vectors once — still engine-replayable, still hash-exact.
    shortlist = _topk_d2(scored, rerank).select("query_id", "neighbour_id")
    full = quantized.selectExpr(
        f"{_sql_ident(id_col)} AS neighbour_id", "q AS __qv"
    )
    # the shortlist is ≤ |Q|·rerank rows by construction — hint it as
    # the broadcast side so the CORPUS never shuffles for the re-rank
    # (at sf0.01 the planner would happily build the other side)
    exact = F.broadcast(shortlist).join(full, "neighbour_id").selectExpr(
        "query_id", "neighbour_id",
        "coalesce(" + ",".join(
            f"CASE WHEN query_id = {qi} THEN "
            f"{_dist2(bigint_array_sql(qv), '__qv')} END"
            for qi, qv in qvecs.items()
        ) + ") AS score_d2",
    )
    return _topk_d2(exact, k)


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    label_col: str = "label",
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    max_sim: float | None = None,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    sentence-transformers recipe): for every anchor, the top-``k``
    most-similar corpus items with a DIFFERENT ``label_col`` — similar
    enough to be informative negatives, excluded from the anchor's own
    class so they are actually negative.

    ``exclude_same_id`` (default True) drops candidates whose corpus
    id equals the anchor id — correct when anchors are drawn FROM the
    corpus (the self-mining case).  Pass False when queries and
    corpus are distinct collections with unrelated id spaces, where a
    coincidental id match is a different object and a valid negative
    (review finding).

    ``max_sim`` additionally drops candidates at cosine >=
    ``max_sim``: near-identical cross-label pairs are usually label
    noise (false negatives), and training on them poisons the loss —
    the standard "margin" filter.

    Scale shape: anchors are a bounded training batch → broadcast, so
    the corpus never shuffles for the join; similarity is the repo's
    fixed-point ``cosine_exact`` (engine-replayable, so the mined set
    is hash-checkable); per-anchor top-k is rank-windowed on the
    anchor key (WindowGroupLimit map-side prune).  At full corpus
    scale swap the brute-force candidate join for ``ivf_topk_fixed``
    cells — mining only needs *hard* negatives, which live in the
    anchor's probe cells by construction.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.col(label_col).alias("__qlab"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neg_id"),
        F.col(corpus_vec).alias("__cv"),
        F.col(label_col).alias("__clab"),
    )
    # label inequality is NULL-safe-negated: a NULL-labelled candidate
    # is not provably a negative, so it must NOT be mined (eqNullSafe
    # keeps NULL != NULL out of the negative set too)
    cond = (
        ~F.col("__qlab").eqNullSafe(F.col("__clab"))
        & F.col("__qlab").isNotNull()
        & F.col("__clab").isNotNull()
    )
    if exclude_same_id:
        cond = (F.col("query_id") != F.col("neg_id")) & cond
    scored = (
        c.join(F.broadcast(q), cond)
        .withColumn("cos_sim", cosine_exact_arrow(F.col("__qv"), F.col("__cv")))
        .drop("__qv", "__cv", "__qlab", "__clab")
    )
    if max_sim is not None:
        scored = scored.filter(F.col("cos_sim") < F.lit(float(max_sim)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neg_id", "cos_sim",
                F.col("rank").cast("int").alias("rank"))
    )
