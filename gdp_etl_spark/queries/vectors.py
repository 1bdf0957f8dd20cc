"""Vectors and ANN: pooling, cosine top-k, IVF/PQ in-query and persisted
indexes under churn, k-means, semantic dedup and lexical/hybrid retrieval."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.dedup import embedding_near_dup_pairs
from gdp_etl_spark.operators.similarity import (
    brute_force_topk, ivf_topk, lsh_topk,
)
from gdp_etl_spark.queries import query


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of functions.vectors.dot_fixed (fixed-point bigint sum)."""
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) AS BIGINT)"
        f")) AS DOUBLE) / 1e12)"
    )


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of functions.vectors.cosine_exact."""
    return (
        f"({_dot_sql(a, b, dim)} / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)})))"
    )


def _rademacher_bucket_sql(
    num_bits: int, dim: int, seed: str, col: str = "embedding"
) -> str:
    """Mirror of operators.similarity.rademacher_lsh_buckets for ONE
    table: the ±1 sign matrix is regenerated with the same hashlib-md5
    parity recipe and inlined as DuckDB list literals; projections use
    the shared fixed-point fold, so bucket ids match Spark bit-for-bit."""
    from gdp_etl_spark.operators.similarity import rademacher_signs

    signs = rademacher_signs(num_bits, dim, seed)
    terms = []
    for j in range(num_bits):
        lit = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(floor(CAST({col}[i] AS DOUBLE) * 1e12) AS BIGINT)"
            f" * ({lit})[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INT)"


@query(oracle="""
            WITH e AS (
              SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS pos,
                     unnest(embedding) AS v
              FROM embeddings
            ),
            s AS (
              SELECT label, pos,
                     CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6)
                                   AS BIGINT)) AS BIGINT) AS sq,
                     CAST(count(*) AS BIGINT) AS n
              FROM e GROUP BY 1, 2
            )
            SELECT label,
                   min(n) AS n_vecs,
                   string_agg(
                     CAST(CAST(floor(((CAST(sq AS DOUBLE) / 1e6) / n) * 1e6)
                               AS BIGINT) AS VARCHAR),
                     ',' ORDER BY pos) AS centroid_csv
            FROM s GROUP BY label
        """)
def q_mean_pool(spark, sf_dir):
    """Per-label embedding mean-pooling (similarity.
    mean_pool_embeddings): fixed-point int64 component sums inside one
    Arrow-batched applyInPandas group shuffle — vectors travel packed
    (the posexplode alternative pays dim× the shuffle bytes).  The
    centroid serializes to fixed-point CSV because raw array outputs
    are not driver-canonicalizer-safe."""
    from gdp_etl_spark.operators.similarity import mean_pool_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool_embeddings(emb, "label", "embedding")
    return pooled.select(
        "label",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
            ),
        ).alias("centroid_csv"),
    )


# buckets recomputed exactly (md5-parity Rademacher signs +
# fixed-point projections) -> full hash equality, not a bound
@query(oracle=f"""
            WITH v AS (SELECT vec_id, embedding,
                       {_rademacher_bucket_sql(4, 64, 'nd:0')} AS bkt
                       FROM embeddings)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
              FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.bkt = b.bkt)
            WHERE cos_sim >= 0.3
        """)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over **deterministic Rademacher
    LSH buckets** (the scale path: bucket equi-join, never all-pairs).
    The md5-parity sign matrix makes buckets engine-portable, so the
    oracle recomputes the same buckets and the check is exact — not a
    recall bound.  The all-pairs exact baseline remains available via
    ``allow_all_pairs=True`` (covered in tests, not registered)."""
    from gdp_etl_spark.operators.similarity import rademacher_lsh_buckets

    emb = rademacher_lsh_buckets(
        _t(spark, sf_dir, "embeddings"), "embedding",
        num_bits=4, num_tables=1, dim=64, seed="nd", out_col="__b",
    ).withColumn("__bkt", F.col("__b")[0]).drop("__b")
    return embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.3, bucket_col="__bkt",
    )


@query(oracle=f"""
            WITH d AS (SELECT vec_id, embedding,
                       {", ".join(f"{_rademacher_bucket_sql(4, 64, f'sd:{t}')} AS b{t}" for t in range(4))}
                       FROM embeddings WHERE vec_id >= 50),
            b AS (SELECT vec_id, embedding,
                  {", ".join(f"{_rademacher_bucket_sql(4, 64, f'sd:{t}')} AS b{t}" for t in range(4))}
                  FROM embeddings WHERE vec_id < 50),
            -- OR-join = union of the 4 tables' candidates with per-pair
            -- dedup built in (each (d,b) pair emitted at most once)
            p AS (
              SELECT d.vec_id AS d_id,
                     {_cos_sql('d.embedding', 'b.embedding')} AS sim
              FROM d JOIN b
                ON (d.b0 = b.b0 OR d.b1 = b.b1 OR d.b2 = b.b2
                    OR d.b3 = b.b3))
            SELECT d_id AS vec_id, COUNT(*) AS n_hits, MAX(sim) AS max_sim
            FROM p WHERE sim >= 0.3 GROUP BY d_id
        """)
def q_semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination (decontam.semantic_decontaminate):
    corpus vectors near-identical to any benchmark vector, via 4
    independent Rademacher LSH tables (union of candidates, per-pair
    dedup — recall ≈0.95 at cosine 0.9 vs ≈0.54 for one table) +
    broadcast benchmark + exact fixed-point cosine — the semantic
    sibling of the shingle-hash ``decontaminate``; the oracle replays
    all four tables' buckets and the similarities."""
    from gdp_etl_spark.operators.decontam import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50),
        "embedding", "vec_id", threshold=0.3, num_bits=4, num_tables=4,
        dim=64,
    )


@query(oracle=f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5)
            SELECT query_id, neighbour_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                  FROM scored)
            WHERE rn <= 10
        """)
def q_ann_topk(spark, sf_dir):
    """Exact brute-force top-k cosine neighbours for 5 query vectors —
    the correctness baseline for ANN."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10,
        query_id="vec_id", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding",
    )


def _kmeans_cells_parts(dim=64, k_cells=8, seed="ivf", n_iter=2,
                        train_where=None, final_select=None):
    """Shared CTE chain: quantize → hash-seeded init → n_iter
    fixed-point Lloyd's rounds → final-cell assignment of ALL rows
    (``enc(vec_id, cell)``).  Used by the IVF oracles and the
    SemDeDup oracle; ``train_where`` restricts the TRAINING set only
    (the ann_index write/append split) — seeding and Lloyd passes run
    over the filtered rows, assignment over everything.
    ``final_select`` (the churn split): a SELECT producing the FINAL
    logical corpus as ``(vec_id, q)`` — when given, it is exposed as
    CTE ``qf`` and the final assignment runs over it instead of
    ``qq``, while training still reads the ORIGINAL rows (stored
    centroids never retrain under upserts/deletes)."""
    rng = f"range(1, {dim + 1})"

    def d2(va, vb):
        return (f"CAST(list_sum(list_transform({rng}, "
                f"i -> ({va}.q[i] - {vb}.c[i]) * ({va}.q[i] - {vb}.c[i])))"
                f" AS BIGINT)")

    parts = [f"""qq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                         AS BIGINT)) AS q,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                                      || ':{seed}'), 1, 8)) AS BIGINT) AS h
      FROM embeddings WHERE embedding IS NOT NULL
    )"""]
    tr = "qq"
    if train_where:
        tr = "tr"
        parts.append(f"""tr AS (
      SELECT * FROM qq WHERE {train_where}
    )""")
    assign_src = "qq"
    if final_select:
        assign_src = "qf"
        parts.append(f"""qf AS (
      {final_select}
    )""")
    parts.append(f"""c0 AS (
      SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, q AS c
      FROM {tr} QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {k_cells}
    )""")
    prev = "c0"
    for it in range(1, n_iter + 1):
        parts.append(f"""d{it} AS (
      SELECT v.vec_id, v.q, c.cluster, {d2('v', 'c')} AS d2
      FROM {tr} v CROSS JOIN {prev} c
    )""")
        parts.append(f"""a{it} AS (
      SELECT vec_id, q, cluster FROM d{it}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
        parts.append(f"""u{it} AS (
      SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS sm, COUNT(*) AS n
      FROM a{it} a, (SELECT unnest({rng}) AS i) t
      GROUP BY a.cluster, t.i
    )""")
        parts.append(f"""c{it} AS (
      SELECT {prev}.cluster, COALESCE(upd.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cluster, list(CAST(sm // n AS BIGINT) ORDER BY dim) AS c
        FROM u{it} GROUP BY cluster
      ) upd USING (cluster)
    )""")
        prev = f"c{it}"
    parts.append(f"""enc AS (
      SELECT vec_id, cluster AS cell FROM (
        SELECT v.vec_id, c.cluster, {d2('v', 'c')} AS d2
        FROM {assign_src} v CROSS JOIN {prev} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
    return parts, d2


def _ivf_sql(dim=64, k_cells=8, nprobe=3, queries=(0, 1, 2, 3, 4), k=10,
             seed="ivf", n_iter=2, train_where=None, final_select=None):
    """DuckDB replay of similarity.ivf_topk_fixed: ONE full-dimension
    fixed-point Lloyd's chain (the _pq_sql per-subspace machinery with
    a single subspace = the whole vector), corpus cell assignment,
    per-query nprobe cell selection by the same integer distances, and
    exact fixed-point scoring of the probed cells — the IVF result
    hash-matches, upgrading ivf_topk from its old rows-only status.
    ``final_select`` (the ann_index churn replay): assignment, query
    vectors and scoring all read the FINAL logical corpus ``qf``;
    training stays on the original rows per ``train_where``."""
    rng = f"range(1, {dim + 1})"
    qlist = ", ".join(str(q) for q in queries)
    parts, d2 = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
        train_where=train_where, final_select=final_select,
    )
    src = "qf" if final_select else "qq"
    prev = f"c{n_iter}" if n_iter >= 1 else "c0"
    parts.append(f"""probe AS (
      SELECT query_id, cell FROM (
        SELECT quer.vec_id AS query_id, cc.cluster AS cell,
               {d2('quer', 'cc')} AS d2
        FROM {src} quer CROSS JOIN {prev} cc
        WHERE quer.vec_id IN ({qlist}))
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY d2, cell) <= {nprobe}
    )""")
    parts.append(f"""scores AS (
      SELECT p.query_id, e.vec_id AS neighbour_id,
             CAST(list_sum(list_transform({rng},
               i -> (vq.q[i] - vn.q[i]) * (vq.q[i] - vn.q[i])))
               AS BIGINT) AS score_d2
      FROM probe p
      JOIN enc e ON e.cell = p.cell
      JOIN {src} vq ON vq.vec_id = p.query_id
      JOIN {src} vn ON vn.vec_id = e.vec_id
      WHERE e.vec_id <> p.query_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id, score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_d2, neighbour_id) AS INT) AS rank
    FROM scores
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY score_d2, neighbour_id) <= {k}
    """)


# generated CTE replay of the fixed-point IVF train/assign/
# probe/score chain (see _ivf_sql) — upgraded from rows-only
@query(oracle=_ivf_sql())
def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (centroid cells + nprobe probing) — the
    partition-pruned ANN scale path, on the ENGINE-REPLAYABLE
    fixed-point recipe (similarity.ivf_topk_fixed): the coarse
    quantizer trains with kmeans.train_kmeans_fixed, cells assign via
    the shared literal-centroid argmin (map-only), each query's nprobe
    cells come from the same integer distances, and candidates score
    with the exact fixed-point squared L2 — so the oracle replays
    training, assignment, probing AND scoring as a generated CTE chain
    (_ivf_sql) and the check is HASH equality, not rows-only (the old
    float/NumPy path remains as ivf_topk, equality-harnessed by
    ``ivf_recall``).  Per-query top-k is WindowGroupLimit-pruned."""
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_fixed(
        emb, [0, 1, 2, 3, 4], k=10, num_centroids=8, nprobe=3, n_iter=2
    )


@query(oracle=f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5),
            topk AS (
              SELECT query_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                FROM scored)
              WHERE rn <= 10)
            SELECT query_id, count(*) AS n_exact, count(*) AS n_hit,
                   CAST(1.0 AS DOUBLE) AS recall
            FROM topk GROUP BY query_id
        """)
def q_ivf_recall(spark, sf_dir):
    """IVF correctness harness: run the full IVF machinery (sampled
    centroids, Lloyd refinement, cell assignment, probe fan-out, cell
    equi-join, exact re-rank) with nprobe = num_centroids — exhaustive
    probing, so the result provably equals the brute-force exact top-k.
    The registered output joins IVF against the exact baseline and
    reports per-query recall; the oracle asserts recall = 1 with
    n_exact/n_hit derived from the exact SQL top-k.  Any breakage in
    cell assignment, probing, dedup or ranking drops n_hit below
    n_exact and fails the hash check."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approx = ivf_topk(emb, q, k=10, num_centroids=8, nprobe=8)
    exact = brute_force_topk(
        q, emb, k=10, query_id="vec_id", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding",
    )
    hits = exact.alias("e").join(
        approx.alias("a"),
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.neighbour_id") == F.col("a.neighbour_id")),
        "left",
    )
    return (
        hits.groupBy(F.col("e.query_id").alias("query_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("a.neighbour_id")).alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
        )
    )


# the persisted-index lifecycle: same generated chain, training
# set restricted to the day-1 write batch (see q_ivf_index)
@query(oracle=_ivf_sql(train_where="vec_id % 2 = 0"))
def q_ivf_index(spark, sf_dir):
    """Persisted IVF serving state under the driver's eye
    (ann_index.write_ivf_index / append_to_ivf_index /
    ivf_probe_index) — the train-once/serve-many shape the in-query
    ivf_topk/pq_topk docstrings promise, built with the repo's two
    persistence protocols: cell-bucketed posting lists (the dedup-
    index spec — probes are bucket-pruned scans with NO index-side
    Exchange, plan-pinned in pytest) and tmp-then-rename stamped
    tables (the NDV-sketch spec).  Day-1 (even vec_ids) trains the
    coarse quantizer and writes the index; day-2 (odd vec_ids)
    APPENDS, assigned by the STORED centroids — one map-only pass
    over the increment, no retrain, no rescan; the probe then serves
    5 queries' top-10 purely from stored state.  The oracle replays
    the whole lifecycle as the generated IVF CTE chain with the
    training set restricted to the day-1 rows (train on evens, assign
    everything) — a broken write, append, stamp, bucket spec or probe
    breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        ivf_probe_index,
        write_ivf_index,
    )

    table = "q_ivf_index_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), table,
        num_centroids=8, n_iter=2,
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), table)
    return ivf_probe_index(
        spark, table, [0, 1, 2, 3, 4], k=10, nprobe=3
    )


def _pq_sql(m=4, sub=16, k_codes=16, queries=(0, 1, 2), k=10, seed="pq",
            rerank=0, train_where=None, final_select=None):
    """DuckDB replay of similarity.pq_topk: per-subspace fixed-point
    Lloyd's (the kmeans_assign oracle's CTE chain, generated instead of
    hand-unrolled), final-codebook encoding, exact-integer ADC scoring,
    and (rerank>0) the exact full-dimension re-rank of the ADC
    shortlist — the product-quantization result hash-matches, it is
    not a recall bound.  ``train_where`` restricts the TRAINING set
    only (the ann_index write/append split) — codebook seeding and
    Lloyd passes run over the filtered rows, encode/score over all.
    ``final_select`` (the churn replay): encode and query slices read
    the FINAL logical corpus ``qf``; training stays on the original
    rows."""
    if rerank and final_select:
        raise ValueError("_pq_sql: rerank re-reads qq; not wired for "
                         "final_select — churn replays use rerank=0")
    rng = f"range(1, {sub + 1})"
    qlist = ", ".join(str(q) for q in queries)

    def d2(va, vb):
        return (f"CAST(list_sum(list_transform({rng}, "
                f"i -> ({va}.q[i] - {vb}.c[i]) * ({va}.q[i] - {vb}.c[i])))"
                f" AS BIGINT)")

    parts = [f"""qq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                         AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    )"""]
    enc_src = "qs"
    if final_select:
        enc_src = "fs"
        parts.append(f"""qf AS (
      {final_select}
    )""")
    for s in range(m):
        lo = s * sub
        parts.append(f"""qs{s} AS (
      SELECT vec_id, q[{lo + 1}:{lo + sub}] AS q,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                                      || ':{seed}{s}'), 1, 8)) AS BIGINT) AS h
      FROM qq
    )""")
        if final_select:
            parts.append(f"""fs{s} AS (
      SELECT vec_id, q[{lo + 1}:{lo + sub}] AS q FROM qf
    )""")
        tr_s = f"qs{s}"
        if train_where:
            tr_s = f"ts{s}"
            parts.append(f"""ts{s} AS (
      SELECT * FROM qs{s} WHERE {train_where}
    )""")
        parts.append(f"""c0_{s} AS (
      SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, q AS c
      FROM {tr_s} QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {k_codes}
    )""")
        prev = f"c0_{s}"
        for it in (1, 2):
            parts.append(f"""d{it}_{s} AS (
      SELECT v.vec_id, v.q, c.cluster, {d2('v', 'c')} AS d2
      FROM {tr_s} v CROSS JOIN {prev} c
    )""")
            parts.append(f"""a{it}_{s} AS (
      SELECT vec_id, q, cluster FROM d{it}_{s}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
            parts.append(f"""u{it}_{s} AS (
      SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS sm, COUNT(*) AS n
      FROM a{it}_{s} a, (SELECT unnest({rng}) AS i) t
      GROUP BY a.cluster, t.i
    )""")
            parts.append(f"""c{it}_{s} AS (
      SELECT {prev}.cluster, COALESCE(upd.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cluster, list(CAST(sm // n AS BIGINT) ORDER BY dim) AS c
        FROM u{it}_{s} GROUP BY cluster
      ) upd USING (cluster)
    )""")
            prev = f"c{it}_{s}"
        parts.append(f"""enc{s} AS (
      SELECT vec_id, cluster AS code FROM (
        SELECT v.vec_id, c.cluster, {d2('v', 'c')} AS d2
        FROM {enc_src}{s} v CROSS JOIN {prev} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
        parts.append(f"""qd{s} AS (
      SELECT quer.vec_id AS query_id, cc.cluster AS code,
             {d2('quer', 'cc')} AS d2
      FROM {enc_src}{s} quer CROSS JOIN {prev} cc
      WHERE quer.vec_id IN ({qlist})
    )""")
    joins = "\n      ".join(
        f"JOIN enc{s} e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m)
    )
    qd_joins = "\n      ".join(
        f"JOIN qd{s} ON qd{s}.code = e{s}.code"
        + ("" if s == 0 else f" AND qd{s}.query_id = qd0.query_id")
        for s in range(m)
    )
    total = " + ".join(f"qd{s}.d2" for s in range(m))
    parts.append(f"""scores AS (
      SELECT qd0.query_id, e0.vec_id AS neighbour_id, {total} AS approx_d2
      FROM enc0 e0
      {joins}
      {qd_joins}
    )""")
    if not rerank:
        return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id,
           CAST(approx_d2 AS BIGINT) AS score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY approx_d2, neighbour_id) AS INT) AS rank
    FROM scores WHERE neighbour_id <> query_id
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY approx_d2, neighbour_id) <= {k}
    """)
    rng_full = f"range(1, {m * sub + 1})"
    parts.append(f"""shortlist AS (
      SELECT query_id, neighbour_id FROM scores
      WHERE neighbour_id <> query_id
      QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY approx_d2, neighbour_id) <= {rerank}
    )""")
    parts.append(f"""exact_s AS (
      SELECT s.query_id, s.neighbour_id,
             CAST(list_sum(list_transform({rng_full},
               i -> (vq.q[i] - vn.q[i]) * (vq.q[i] - vn.q[i])))
               AS BIGINT) AS score_d2
      FROM shortlist s
      JOIN qq vq ON vq.vec_id = s.query_id
      JOIN qq vn ON vn.vec_id = s.neighbour_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id, score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_d2, neighbour_id) AS INT) AS rank
    FROM exact_s
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY score_d2, neighbour_id) <= {k}
    """)


# the persisted-index lifecycle: same generated chain, training
# set restricted to the day-1 write batch (see q_pq_index)
@query(oracle=_pq_sql(queries=(0, 1, 2), k=10,
                            train_where="vec_id % 2 = 0"))
def q_pq_index(spark, sf_dir):
    """Persisted PQ serving state (ann_index.write_pq_index /
    append_to_pq_index / pq_probe_index) — the codes-only twin of
    q_ivf_index: day-1 (even vec_ids) trains the 4×16 per-subspace
    codebooks and writes the id-bucketed CODES table (4 bytes/vector —
    the representation 100 TB of embeddings fits a memory tier in);
    day-2 (odd vec_ids) APPENDS, encoded by the STORED codebooks (no
    retrain); the probe then serves 3 query vectors' ADC top-10
    purely from stored state — exact-integer lookup tables, map-only
    scan, WindowGroupLimit top-k.  The oracle replays the lifecycle
    via the generated PQ CTE chain with training restricted to the
    day-1 rows — a broken write, append, stamp, encode or LUT breaks
    the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_pq_index,
        pq_probe_index,
        write_pq_index,
    )

    table = "q_pq_index_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), table,
        m=4, k_codes=16, n_iter=2, dim=64,
    )
    append_to_pq_index(emb.filter(F.col("vec_id") % 2 == 1), table)
    return pq_probe_index(
        spark, emb.filter(F.col("vec_id") < 3), table, k=10
    )


def _semantic_dedup_sql(threshold=0.35, k_cells=8, n_iter=2,
                        seed="semdedup", dim=64):
    parts, _ = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
    )
    parts.append(f"""dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM enc a JOIN enc b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {_cos_sql('ea.embedding', 'eb.embedding')}
            >= CAST({threshold} AS DOUBLE)
      GROUP BY a.vec_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + """
    SELECT e.vec_id, CAST(e.cell AS INT) AS cell, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM enc e LEFT JOIN dup d USING (vec_id)
    """)


# SemDeDup: shared k-means CTE chain + intra-cell cosine pairs
@query(oracle=_semantic_dedup_sql())
def q_semantic_dedup(spark, sf_dir):
    """Cluster-scoped semantic dedup (dedup.semantic_dedup — the
    SemDeDup recipe, Abbas et al. 2023): deterministic k-means cells
    over the embedding table, then near-duplicate detection ONLY
    within each cell — candidate space Σ|cell|², never the all-pairs
    n² (plan-pinned: the pair join is an equi-join on the cell id, no
    cartesian).  A row is a duplicate iff an earlier same-cell row has
    exact cosine >= 0.35 (the synthetic corpus' near-dup band);
    dup_of = the smallest such id.  The oracle replays the whole
    chain — quantize → hash-seeded Lloyd's → cell assignment →
    intra-cell pair scan — via the shared generated k-means CTE
    (_kmeans_cells_parts) + the cosine_exact mirror, hash-exact."""
    from gdp_etl_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        "vec_id", "embedding", threshold=0.35, num_cells=8, n_iter=2,
    )


#: per-(application, sf_dir) cache of the shared index-churn scenario
#: — see _churn_fixture.
_CHURN_FX: dict = {}


def _churn_fixture(spark, sf_dir):
    """The SHARED index-churn scenario (r14 verdict task 1): the four
    lifecycle driver queries — ivf_upsert, ivf_asof, pq_upsert,
    index_stats — each pin a DIFFERENT contract (compaction purity,
    snapshot immutability, ADC churn, observability accounting) over
    the SAME write(evens) → append(odds) → upsert(0-19 negated) →
    delete(20-39) → compact scenario, so the r14 registry built
    near-identical scenarios four times over (~110 s of the 445 s
    driver bench was duplicate index DDL + in-query Lloyd's).  This
    fixture builds the scenario ONCE per Spark application per
    sf_dir — both index kinds — and captures every stage probe
    EAGERLY (localCheckpoint) at its correct lifecycle point: asof /
    pre-compaction probes and the churn dashboards materialize before
    the compaction fold runs, because compaction applies tombstones
    physically and forfeits the states those probes read.  The
    queries then relabel the captured stages; each keeps its own
    oracle, so a broken write, append, upsert, delete, snapshot,
    stats count or compaction still breaks the matching query's hash.
    Bench note: whichever lifecycle query runs first in a session
    pays the one-time build (~25 s at sf0.1); the rest reuse it."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CHURN_FX:
        return _CHURN_FX[key]
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        append_to_pq_index,
        compact_ivf_index,
        compact_pq_index,
        delete_from_ivf_index,
        delete_from_pq_index,
        ivf_index_stats,
        ivf_probe_index,
        pq_index_stats,
        pq_probe_index,
        upsert_to_ivf_index,
        upsert_to_pq_index,
        write_ivf_index,
        write_pq_index,
    )

    it, pt = "churn_fx_ivf", "churn_fx_pq"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (it, f"{it}__centroids", f"{it}__vectors",
              f"{it}__tombstones",
              pt, f"{pt}__codebooks", f"{pt}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    up = emb.filter(F.col("vec_id") < 20).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    dels = list(range(20, 40))
    qids = [0, 1, 2, 3, 100]
    # PQ probes take raw query vectors from the FINAL corpus (0,1
    # upserted → negated; 100 untouched) — the id-keyed store the
    # probe contract names
    qvecs = emb.filter(F.col("vec_id").isin(0, 1)).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    ).unionByName(
        emb.filter(F.col("vec_id") == 100).select("vec_id", "embedding")
    )
    fx = {}
    # ---- IVF lifecycle: seqs 0 (write) / 1 (append) / 2 (upsert) /
    # 3 (delete); next_seq 4 at the stats capture
    write_ivf_index(evens, it, num_centroids=8, n_iter=2)
    append_to_ivf_index(odds, it)
    upsert_to_ivf_index(up, it)
    delete_from_ivf_index(spark, it, dels)
    fx["ivf_asof"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3, asof_seq=1
    ).localCheckpoint()
    fx["ivf_churn"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3
    ).localCheckpoint()
    fx["ivf_stats"] = ivf_index_stats(spark, it).localCheckpoint()
    # ---- PQ lifecycle: same seq schedule on the codes table
    write_pq_index(evens, pt, m=4, k_codes=16, n_iter=2, dim=64)
    append_to_pq_index(odds, pt)
    upsert_to_pq_index(up, pt)
    delete_from_pq_index(spark, pt, dels)
    fx["pq_churn"] = pq_probe_index(
        spark, qvecs, pt, k=10
    ).localCheckpoint()
    fx["pq_stats"] = pq_index_stats(spark, pt).localCheckpoint()
    # ---- compaction fold: tombstones applied physically; the post
    # probes must equal the pre probes bit-exactly (pinned by the
    # pre/post stage union in ivf_upsert / pq_upsert)
    compact_ivf_index(spark, it)
    compact_pq_index(spark, pt)
    fx["ivf_post"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3
    ).localCheckpoint()
    fx["pq_post"] = pq_probe_index(
        spark, qvecs, pt, k=10
    ).localCheckpoint()
    _CHURN_FX[key] = fx
    return fx


def _churn_final_select(upsert_below=20, del_lo=20, del_hi=40):
    """The FINAL logical corpus after the shared churn scenario, as a
    quantized (vec_id, q) SELECT for the oracle generators: vec_ids
    below ``upsert_below`` carry NEGATED embeddings, ids in
    [del_lo, del_hi) are gone."""
    return (
        "SELECT vec_id, list_transform("
        f"CASE WHEN vec_id < {upsert_below} THEN "
        "list_transform(embedding, x -> -x) ELSE embedding END, "
        "x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0) "
        "AS BIGINT)) AS q "
        "FROM embeddings WHERE embedding IS NOT NULL "
        f"AND NOT (vec_id >= {del_lo} AND vec_id < {del_hi})"
    )


def _staged_sql(base_sql):
    """Duplicate a probe replay into the pre/post-compaction stages the
    churn driver queries return — compaction must be a pure physical
    fold, so both stages carry identical values."""
    return (
        f"WITH res AS ({base_sql}) "
        "SELECT 'pre_compact' AS stage, * FROM res "
        "UNION ALL SELECT 'post_compact' AS stage, * FROM res"
    )


# index CHURN replays (see q_ivf_upsert / q_pq_upsert): train
# on original day-1 rows, assign/encode/probe the FINAL logical
# corpus (negated upserts, deletes gone), duplicated into the
# pre/post-compaction stages the driver queries return
@query(oracle=_staged_sql(_ivf_sql(
            train_where="vec_id % 2 = 0", queries=(0, 1, 2, 3, 100),
            final_select=_churn_final_select(),
        )))
def q_ivf_upsert(spark, sf_dir):
    """ANN index maintenance under CHURN (ann_index.upsert_to_ivf_index
    / delete_from_ivf_index / compact_ivf_index — the r13 verdict's
    task 7): after the day-1 write (evens train the quantizer) and the
    day-2 append (odds), vec_ids 0-19 are re-crawled with NEGATED
    vectors (an upsert — cells can move) and 20-39 are removed (a
    delete).  Both are tombstones: ``(id, seq)`` rows in the
    ``__tombstones`` companion kill posting rows with an earlier
    write-seq; the upsert's own rows survive their own tombstone
    (written at the same seq).  The probe runs TWICE — before
    compaction (read-time broadcast liveness resolution) and after
    (tombstones applied physically and cleared) — and both stages must
    equal the oracle's replay: train on original evens, assign the
    FINAL logical corpus (negated 0-19, 20-39 gone) with the stored
    centroids, probe from final vectors.  A stale row served, a lost
    upsert, a leaked delete, or a compaction that changes any distance
    breaks the hash.  Scenario built once per session in
    _churn_fixture (r14 verdict task 1); stage capture order there
    preserves exactly the probes this query returned when it built
    its own tables."""
    fx = _churn_fixture(spark, sf_dir)
    pre = fx["ivf_churn"].select(
        F.lit("pre_compact").alias("stage"), "*")
    post = fx["ivf_post"].select(
        F.lit("post_compact").alias("stage"), "*")
    return pre.unionByName(post)


# snapshot-vs-latest under churn (see q_ivf_asof): the pinned
# stage replays the plain post-append lifecycle; the latest
# stage replays the churned corpus
@query(oracle=(
            "SELECT 'asof_append' AS stage, * FROM ("
            + _ivf_sql(train_where="vec_id % 2 = 0",
                       queries=(0, 1, 2, 3, 100))
            + ") UNION ALL SELECT 'latest' AS stage, * FROM ("
            + _ivf_sql(train_where="vec_id % 2 = 0",
                       queries=(0, 1, 2, 3, 100),
                       final_select=_churn_final_select())
            + ")"
        ))
def q_ivf_asof(spark, sf_dir):
    """SNAPSHOT reads under churn (ann_index ``asof_seq`` — the
    dataset-versioning contract a training pipeline needs): after the
    write/append lifecycle, vec_ids 0-19 are upserted with negated
    vectors and 20-39 deleted; the query probes the index TWICE — once
    pinned to asof_seq=1 (the post-append snapshot: original vectors,
    nothing deleted) and once at the latest state — and returns both
    under a stage label.  The oracle replays the snapshot stage as the
    plain day-1-trained lifecycle (the ivf_index chain) and the latest
    stage as the churn replay (final_select): if later churn leaked
    into the pinned snapshot, or the latest view served a stale row,
    the hash breaks.  Scenario shared via _churn_fixture (r14 verdict
    task 1): the asof probe is captured there BEFORE the compaction
    fold, which forfeits snapshot reads below its applied
    tombstones."""
    fx = _churn_fixture(spark, sf_dir)
    asof = fx["ivf_asof"].select(
        F.lit("asof_append").alias("stage"), "*")
    latest = fx["ivf_churn"].select(
        F.lit("latest").alias("stage"), "*")
    return asof.unionByName(latest)


# churn dashboards replayed as pure counts over embeddings
# (the shared _churn_fixture scenario: upsert ids 0-19, delete
# ids 20-39, write seq 0 / append 1 / upsert 2 / delete 3 ->
# next_seq 4; dashboards captured PRE-compaction).  ids_up
# counts NULL-filtered ids: upsert tombstones derive from the
# same NULL-vector-guarded frame the posting append uses
@query(oracle="""
            WITH nn AS (
              SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
            ),
            c AS (SELECT
              CAST((SELECT count(*) FROM nn) AS BIGINT) AS n_all,
              CAST((SELECT count(*) FROM nn WHERE vec_id < 20)
                   AS BIGINT) AS n_up,
              CAST((SELECT count(*) FROM nn
                    WHERE vec_id >= 20 AND vec_id < 40) AS BIGINT) AS n_del,
              CAST((SELECT count(DISTINCT vec_id) FROM nn
                    WHERE vec_id < 20) AS BIGINT) AS ids_up)
            SELECT k.index_kind,
                   c.n_all + c.n_up AS rows_total,
                   c.n_all - c.n_del AS rows_live,
                   c.n_up + c.n_del AS rows_dead,
                   c.ids_up + 20 AS tombstoned_ids,
                   CAST(4 AS BIGINT) AS next_seq
            FROM (SELECT 'ivf' AS index_kind
                  UNION ALL SELECT 'pq') k CROSS JOIN c
        """)
def q_index_stats(spark, sf_dir):
    """Index observability (ann_index.ivf_index_stats /
    pq_index_stats): after write(evens) → append(odds) → upsert 0-19 →
    delete 20-39 on BOTH index kinds (the shared _churn_fixture
    scenario, r14 verdict task 1 — the dashboards are captured there
    PRE-compaction, where the debt columns are non-zero), each
    reports its one-row churn dashboard — physical rows, live rows
    (what a probe sees), dead rows (compaction debt), distinct
    tombstoned ids, next write seq — and the oracle replays every
    count from the embeddings table (the physical `files` column is
    excluded as layout-dependent).  A liveness-resolution bug or a
    seq-accounting bug breaks the hash."""
    fx = _churn_fixture(spark, sf_dir)
    cols = ["rows_total", "rows_live", "rows_dead", "tombstoned_ids",
            "next_seq"]
    return (
        fx["ivf_stats"]
        .select(F.lit("ivf").alias("index_kind"), *cols)
        .unionByName(
            fx["pq_stats"]
            .select(F.lit("pq").alias("index_kind"), *cols)
        )
    )


@query(oracle=_staged_sql(_pq_sql(
            train_where="vec_id % 2 = 0", queries=(0, 1, 100), k=10,
            final_select=_churn_final_select(),
        )))
def q_pq_upsert(spark, sf_dir):
    """The PQ twin of q_ivf_upsert: tombstone churn on the CODES table
    (vec_ids 0-19 re-encoded from negated vectors with the STORED
    day-1 codebooks, 20-39 deleted), ADC probes from the final query
    vectors before and after the compaction fold.  The oracle replays
    training on original evens and encoding of the final logical
    corpus — stale codes, lost upserts or a lossy compaction break the
    hash.  Scenario shared via _churn_fixture (r14 verdict task 1)."""
    fx = _churn_fixture(spark, sf_dir)
    pre = fx["pq_churn"].select(
        F.lit("pre_compact").alias("stage"), "*")
    post = fx["pq_post"].select(
        F.lit("post_compact").alias("stage"), "*")
    return pre.unionByName(post)


# SemDeDup from the persisted index: bit-identical contract to
# the in-query path, so the oracle IS the same generated chain
@query(oracle=_semantic_dedup_sql())
def q_semantic_dedup_indexed(spark, sf_dir):
    """SemDeDup composed with the PERSISTED IVF index
    (dedup.semantic_dedup_from_index — the r13 verdict's task 5): cell
    assignments come from stored posting lists (tombstone-resolved),
    not an in-query k-means, so the Lloyd's passes are paid once at
    index-build time and a nightly dedup re-run is two joins.  Index
    built on the full embedding table with semantic_dedup's own
    parameters (seed='semdedup', k=8, 2 iters), so the verdicts are
    bit-identical to the in-query `semantic_dedup` query — and the
    oracle IS the same generated k-means+cosine CTE chain, hash-exact.
    A drifted stored assignment, a broken stamp read, or a liveness
    bug breaks the hash.  Round 15 extends the pin to SNAPSHOT
    REPRODUCIBILITY (r14 verdict task 4): the index is CHURNED after
    the build (3 ids upserted negated, 2 deleted) and the screen runs
    pinned to ``asof_seq=0`` — the build snapshot — so the verdicts
    must STILL equal the in-query chain on the original corpus; churn
    leaking through the pin breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        delete_from_ivf_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import semantic_dedup_from_index

    table = "q_semdedup_idx_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors",
              f"{table}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_ivf_index(
        emb, table, num_centroids=8, n_iter=2, seed="semdedup"
    )
    # churn AFTER the snapshot point (write = seq 0): a nightly dedup
    # pinned to the build must not see any of it
    upsert_to_ivf_index(
        emb.filter(F.col("vec_id") < 3).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        ),
        table,
    )
    delete_from_ivf_index(spark, table, [3, 4])
    return semantic_dedup_from_index(
        emb, table, threshold=0.35, asof_seq=0
    )


def _semantic_dedup_inc_sql(split=400, threshold=0.35, k_cells=8,
                            n_iter=2, seed="semdedup", dim=64):
    """Oracle for q_semantic_dedup_increment: the shared k-means chain
    trained on the day-1 rows only, ALL rows assigned by those
    centroids (old rows = the stored postings, new rows = the
    increment's map-only assignment), pair scan producing verdicts for
    new rows only."""
    parts, _ = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
        train_where=f"vec_id < {split}",
    )
    parts.append(f"""dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM enc a JOIN enc b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE a.vec_id >= {split}
        AND {_cos_sql('ea.embedding', 'eb.embedding')}
            >= CAST({threshold} AS DOUBLE)
      GROUP BY a.vec_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT e.vec_id, CAST(e.cell AS INT) AS cell, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM enc e LEFT JOIN dup d USING (vec_id)
    WHERE e.vec_id >= {split}
    """)


# the nightly increment screen: train on day-1, assign all,
# verdicts for the new batch only (see q_semantic_dedup_increment)
@query(oracle=_semantic_dedup_inc_sql())
def q_semantic_dedup_increment(spark, sf_dir):
    """The NIGHTLY SemDeDup screen (dedup.semantic_dedup_increment):
    an index built on the day-1 corpus (vec_id < 400), then a new
    batch (vec_id >= 400) screened against it — each new row's cell
    assigned map-only with the STORED centroids (the exact expression
    appends write), judged against every live same-cell row plus
    earlier rows of its own batch.  Candidate space is
    Σ|cell∩new|·|cell| — batch-proportional, not the corpus'
    Σ|cell|².  The oracle replays train-on-day-1 → assign-everything →
    pair scan restricted to new-row verdicts; screen-then-append ≡
    append-then-rescreen is separately pinned in pytest.  A drifted
    stored assignment or a candidate-scope bug breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import write_ivf_index
    from gdp_etl_spark.operators.dedup import semantic_dedup_increment

    table = "q_semdedup_inc_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors",
              f"{table}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") < 400)
    day2 = emb.filter(F.col("vec_id") >= 400)
    write_ivf_index(
        day1, table, num_centroids=8, n_iter=2, seed="semdedup"
    )
    return semantic_dedup_increment(day2, day1, table, threshold=0.35)


# full unrolled replay of the fixed-point Lloyd iterations:
# hash-seeded centroids (c0), two assignment+update passes
# (a1/c1, a2/c2), final assignment vs c2.  All-integer
# arithmetic (quantize floor((x+1)*1e6), exact squared
# distances, floor-division updates) makes every intermediate
# bit-identical to the Spark run.
@query(oracle="""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                                 AS BIGINT)) AS q,
                     CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':km'),
                                          1, 8)) AS BIGINT) AS h
              FROM embeddings
            ),
            c0 AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster,
                     q AS c
              FROM q QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 8
            ),
            d1 AS (
              SELECT v.vec_id, v.q, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c0 c
            ),
            a1 AS (
              SELECT vec_id, q, cluster FROM d1
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster) = 1
            ),
            u1 AS (
              SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS s, COUNT(*) AS n
              FROM a1 a, (SELECT unnest(range(1, 65)) AS i) t
              GROUP BY a.cluster, t.i
            ),
            c1 AS (
              SELECT c0.cluster, COALESCE(upd.c, c0.c) AS c
              FROM c0 LEFT JOIN (
                SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY dim) AS c
                FROM u1 GROUP BY cluster
              ) upd USING (cluster)
            ),
            d2_ AS (
              SELECT v.vec_id, v.q, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c1 c
            ),
            a2 AS (
              SELECT vec_id, q, cluster FROM d2_
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster) = 1
            ),
            u2 AS (
              SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS s, COUNT(*) AS n
              FROM a2 a, (SELECT unnest(range(1, 65)) AS i) t
              GROUP BY a.cluster, t.i
            ),
            c2 AS (
              SELECT c1.cluster, COALESCE(upd.c, c1.c) AS c
              FROM c1 LEFT JOIN (
                SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY dim) AS c
                FROM u2 GROUP BY cluster
              ) upd USING (cluster)
            ),
            d3 AS (
              SELECT v.vec_id, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c2 c
            )
            SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, d2 AS dist2
            FROM d3
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cluster) = 1
        """)
def q_kmeans_assign(spark, sf_dir):
    """Distributed deterministic k-means over the full embedding table
    (operators/kmeans.py): fixed-point Lloyd's — hash-seeded centroids,
    exact integer squared distances, integer floor-division updates —
    so the DuckDB oracle replays both iterations as unrolled CTEs and
    the final (vec_id, cluster, dist2) assignment hash-matches exactly.
    Scale shape: assignment is literal-centroid map work (no join, no
    shuffle); each update is ONE k-row shuffle + a k·d driver collect —
    the same layout Spark ML's KMeans uses, minus the nondeterminism."""
    from gdp_etl_spark.operators.kmeans import kmeans_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, "vec_id", "embedding", k=8, n_iter=2)


@query(oracle=f"""
            WITH b AS (
              SELECT vec_id, embedding, t.tbl,
                     CASE t.tbl
                       WHEN 0 THEN {_rademacher_bucket_sql(8, 64, '42:0')}
                       WHEN 1 THEN {_rademacher_bucket_sql(8, 64, '42:1')}
                       WHEN 2 THEN {_rademacher_bucket_sql(8, 64, '42:2')}
                       ELSE {_rademacher_bucket_sql(8, 64, '42:3')}
                     END AS bucket
              FROM embeddings, (VALUES (0), (1), (2), (3)) t(tbl)),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbour_id
              FROM b a JOIN b c
                ON a.tbl = c.tbl AND a.bucket = c.bucket
               AND a.vec_id <> c.vec_id),
            scored AS (
              SELECT cand.query_id, cand.neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
                        JOIN embeddings c ON cand.neighbour_id = c.vec_id)
            SELECT query_id, neighbour_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                  FROM scored)
            WHERE rn <= 10
        """)
def q_lsh_topk(spark, sf_dir):
    """LSH bucketed approximate top-k (the 100-TB scale path) with
    deterministic Rademacher hyperplanes: buckets are engine-portable
    (md5-parity ±1 signs + fixed-point projections), so the DuckDB
    oracle replays the *entire* approximate pipeline — buckets,
    candidate union over 4 tables, exact cosine re-rank, top-k — and
    the check is full hash equality, not rows-only.  The Gaussian
    numpy-hyperplane variant stays available (``method="gaussian"``,
    unit-tested)."""
    return lsh_topk(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=10, num_bits=8, num_tables=4, seed=42, method="rademacher",
    )


#: BM25 demo query vocabulary (shared between the Spark query and oracle).
_BM25_TERMS = ["spark", "join", "fast"]


@query(oracle=r"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                       END AS dl,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\s+')
                       END AS toks
                FROM documents
            ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM tok
            ), ex AS (
                SELECT doc_id, dl, unnest(toks) AS term FROM tok
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM ex
                WHERE term <> '' AND term IN ('spark', 'join', 'fast')
                GROUP BY doc_id, term
            ), dfs AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ln(CAST(n_docs - df + 0.5 AS DOUBLE)
                          / CAST(df + 0.5 AS DOUBLE) + 1.0)
                         * (tf * 2.5)
                         / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl)) AS term_score
                FROM tf JOIN dfs USING (term) CROSS JOIN stats
            )
            SELECT doc_id,
                   CAST(SUM(CAST(floor(term_score * 1e12) AS BIGINT)) AS DOUBLE)
                     / 1e12 AS score,
                   CAST(count(*) AS INT) AS n_terms
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """)
def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval: top-10 docs for a 3-term query.  Query-term
    filter lands before the (doc, term) shuffle; df/corpus stats are
    broadcast; per-doc score accumulates through fixed-point bigints
    (engine-portable, partitioning-independent)."""
    from gdp_etl_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_TERMS, k=10)


# BM25 top-20 (the bm25_topk chain, LIMIT 20 + rank) fused with
# exact-cosine top-20 for query vector 0 via integer RRF
@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
                       END AS dl,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\\s+')
                       END AS toks
                FROM documents
            ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM tok
            ), ex AS (
                SELECT doc_id, dl, unnest(toks) AS term FROM tok
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM ex
                WHERE term <> '' AND term IN ('spark', 'join', 'fast')
                GROUP BY doc_id, term
            ), dfs AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ln(CAST(n_docs - df + 0.5 AS DOUBLE)
                          / CAST(df + 0.5 AS DOUBLE) + 1.0)
                         * (tf * 2.5)
                         / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl)) AS term_score
                FROM tf JOIN dfs USING (term) CROSS JOIN stats
            ), bm AS (
                SELECT doc_id,
                       CAST(SUM(CAST(floor(term_score * 1e12) AS BIGINT))
                            AS DOUBLE) / 1e12 AS score
                FROM scored GROUP BY doc_id
                ORDER BY score DESC, doc_id LIMIT 20
            ), lex AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                FROM bm
            ), cos AS (
                SELECT c.vec_id AS doc_id,
                       {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
                FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
                WHERE q.vec_id = 0
            ), sem AS (
                SELECT doc_id, rn AS rank
                FROM (SELECT doc_id, row_number() OVER (
                        ORDER BY cos_sim DESC, doc_id ASC) AS rn FROM cos)
                WHERE rn <= 20
            ), u AS (
                SELECT * FROM lex UNION ALL SELECT * FROM sem
            )
            SELECT doc_id,
                   CAST(SUM(1000000000000 // (60 + rank)) AS BIGINT)
                     AS rrf_score,
                   CAST(COUNT(*) AS INT) AS n_lists,
                   CAST(MIN(rank) AS INT) AS best_rank
            FROM u GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id LIMIT 10
        """)
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 (lexical) and exact-cosine top-20
    for query vector 0 (semantic; doc_id ≡ vec_id in the synthetic
    corpus) fused with reciprocal-rank fusion
    (retrieval.rrf_fuse, Cormack et al. 2009) — the standard RAG
    retrieval stack.  Both input lists are k-bounded by their
    producers, the fused score is pure-BIGINT ``scale div (k0+rank)``
    (engine-exact, no float calibration), and the final top-10 plans
    as TakeOrderedAndProject."""
    from gdp_etl_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),  # 20-row frame: the unpartitioned window is bounded
    )
    sem = brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=20,
    ).select(F.col("neighbour_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], "doc_id", k0=60, k=10)


@query(oracle=f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c
                ON q.vec_id <> c.vec_id AND q.label <> c.label
              WHERE q.vec_id < 5
                AND q.label IS NOT NULL AND c.label IS NOT NULL)
            SELECT query_id, neg_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neg_id ASC) AS rn
                  FROM scored WHERE cos_sim < 0.9999)
            WHERE rn <= 10
        """)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (similarity.mine_hard_negatives): per anchor (vec_id < 5), the
    top-10 most-similar vectors with a DIFFERENT label, capped below
    cosine 0.9999 (near-identical cross-label pairs are label noise).
    Anchors broadcast; fixed-point cosine; per-anchor top-k is
    WindowGroupLimit-pruned — the DPR mining recipe as one declarative
    plan."""
    from gdp_etl_spark.operators.similarity import mine_hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return mine_hard_negatives(
        emb.filter(F.col("vec_id") < 5), emb, k=10, max_sim=0.9999,
    )


@query(oracle=r"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\s+')
                       END AS toks
                FROM documents
            ), pairs AS (
                SELECT DISTINCT doc_id, term
                FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
                WHERE term <> ''
            )
            SELECT term, CAST(count(*) AS INT) AS df,
                   array_to_string(list(doc_id ORDER BY doc_id), ',')
                     AS postings_csv
            FROM pairs GROUP BY term
        """)
def q_inverted_index(spark, sf_dir):
    """Inverted index: term → df + sorted distinct posting list (one
    distinct + one term-keyed shuffle).  The registered output
    serializes the posting list to CSV — the driver's pandas
    canonicalizer cannot hash list cells (raw-array form stays covered
    in tests/test_retrieval.py)."""
    from gdp_etl_spark.operators.retrieval import inverted_index

    d = _t(spark, sf_dir, "documents")
    return inverted_index(d).select(
        "term",
        "df",
        F.concat_ws(
            ",", F.transform("postings", lambda x: x.cast("string"))
        ).alias("postings_csv"),
    )


def _rproj_sql(j: int, col: str = "embedding", dim: int = 64, seed: str = "rp") -> str:
    """Mirror of functions.vectors.random_projection component j: signed
    fixed-point fold with the md5-parity ±1 sign."""
    sign = (
        f"CASE WHEN substr(md5(CAST(i - 1 AS VARCHAR) || ':' || '{j}'"
        f" || ':' || '{seed}'), 1, 1)"
        f" IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END"
    )
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(CAST({col}[i] AS DOUBLE) * 1e12) AS BIGINT)"
        f" * {sign})) AS DOUBLE) / 1e12)"
    )


@query(oracle=f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {_dot_sql('embedding', 'embedding')} AS n2,
                     list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings)
            SELECT vec_id,
                   CASE WHEN n2 <= 0 THEN NULL
                        ELSE array_to_string(list_transform(embedding,
                               x -> CAST(CAST(floor(
                                      (CAST(x AS DOUBLE) / sqrt(n2)) * 1e9)
                                    AS BIGINT) AS VARCHAR)), ',')
                   END AS unit_fp,
                   CASE WHEN mx <= 0 THEN NULL
                        ELSE array_to_string(list_transform(embedding,
                               x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                                          * (127.0 / mx) + 0.5)
                                    AS INT) AS VARCHAR)), ',')
                   END AS q8_csv,
                   array_to_string([{", ".join(
                       f"CAST(CAST(floor(({_rproj_sql(j)}) * 1e9)"
                       f" AS BIGINT) AS VARCHAR)" for j in range(4)
                   )}], ',') AS proj_fp
            FROM b
        """)
def q_embed_transform(spark, sf_dir):
    """Embedding transforms: unit-norm (fixed-point divisor), symmetric
    int8 quantization, and a 4-dim signed random projection — all
    engine-deterministic by the dot_fixed recipe.

    The registered output serializes every array to a canonical scalar
    (fixed-point CSV) because the driver's pandas canonicalizer cannot
    hash list cells (the round-2 ``array_agg`` and round-3
    ``embed_transform`` failures were exactly this).  The doubles are
    bit-identical across engines by construction, so ``floor(x*1e9)``
    is the same BIGINT on both sides; raw-array outputs stay covered by
    tests/test_similarity_multimodal.py."""
    from gdp_etl_spark.functions.vectors import (
        l2_normalize,
        quantize_int8,
        random_projection,
    )

    def fp_csv(arr):
        return F.when(
            arr.isNotNull(),
            F.concat_ws(
                ",",
                F.transform(
                    arr,
                    lambda x: F.floor(x * F.lit(1e9)).cast("long").cast("string"),
                ),
            ),
        )

    e = _t(spark, sf_dir, "embeddings")
    a = F.col("embedding")
    # compute the three (expensive) arrays ONCE in their own projection
    # — fp_csv references its argument twice (null test + transform),
    # which would otherwise inline and evaluate each fold per reference
    arrays = e.select(
        "vec_id",
        l2_normalize(a).alias("__unit"),
        quantize_int8(a).alias("__q8"),
        random_projection(a, 4).alias("__proj"),
    )
    return arrays.select(
        "vec_id",
        fp_csv(F.col("__unit")).alias("unit_fp"),
        F.when(
            F.col("__q8").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.col("__q8"), lambda x: x.cast("string"))
            ),
        ).alias("q8_csv"),
        fp_csv(F.col("__proj")).alias("proj_fp"),
    )


# quantized outer-product sums replayed exactly; same
# fixed-order double covariance formula
@query(oracle="""
            WITH q AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                 AS BIGINT)) AS qv
              FROM embeddings
            ),
            idx AS (
              SELECT CAST(t1.i AS INT) AS i, CAST(t2.j AS INT) AS j
              FROM range(0, 64) t1(i), range(0, 64) t2(j)
            ),
            sums AS (
              SELECT i, j,
                     CAST(SUM(qv[i + 1] * qv[j + 1]) AS BIGINT) AS sq,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM q, idx GROUP BY i, j
            ),
            comp AS (
              SELECT CAST(t.k AS INT) AS k,
                     CAST(SUM(qv[CAST(t.k AS INT) + 1]) AS BIGINT) AS ci,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM q, range(0, 64) t(k) GROUP BY t.k
            )
            SELECT s.i, s.j, s.n,
                   CAST(s.sq AS DOUBLE)
                     / (CAST(s.n AS DOUBLE) * 1000000.0 * 1000000.0)
                   - (CAST(mi.ci AS DOUBLE)
                      / (CAST(mi.n AS DOUBLE) * 1000000.0))
                     * (CAST(mj.ci AS DOUBLE)
                        / (CAST(mj.n AS DOUBLE) * 1000000.0)) AS cov
            FROM sums s
            JOIN comp mi ON mi.k = s.i
            JOIN comp mj ON mj.k = s.j
        """)
def q_embedding_gram(spark, sf_dir):
    """Distributed covariance of the embedding store (similarity.
    embedding_gram — the one-pass aggregation behind PCA/whitening/
    subspace drift): per-partition int64 Gram matrices via ONE numpy
    matmul inside mapInPandas (never a dim²-per-row explode), one tiny
    positional agg, fixed-order double covariance from exact integers.
    Bit-stable across partitionings; the oracle replays the quantized
    outer-product sums exactly.  Shuffle = partitions · dim² rows."""
    from gdp_etl_spark.operators.similarity import embedding_gram

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram(emb, "embedding", dim=64, center=True)


# chunking + md5-projection + fixed-point pooling replayed
# end-to-end
@query(oracle=r"""
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+')
                     END AS t
              FROM documents WHERE doc_id % 2 = 0
            ),
            sized AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ),
            starts AS (
              SELECT doc_id, t, n,
                     unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
              FROM sized
            ),
            chunks AS (
              SELECT doc_id,
                     array_to_string(t[i*16 + 1 : i*16 + 32], ' ')
                       AS chunk_text
              FROM starts
              WHERE least(32, n - i*16) >= 1
            ),
            emb AS (
              SELECT doc_id, r.k,
                     CAST(CAST(('0x' || substr(md5(chunk_text),
                            3 * CAST(r.k AS INT) + 1, 8)) AS BIGINT)
                          % 2001 - 1000 AS DOUBLE) / 1000.0 AS v
              FROM chunks, range(0, 8) r(k)
            ),
            s AS (
              SELECT doc_id, k,
                     CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT)
                       AS sq,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM emb GROUP BY 1, 2
            )
            SELECT doc_id,
                   min(n) AS n_vecs,
                   string_agg(
                     CAST(CAST(floor(((CAST(sq AS DOUBLE) / 1e6) / n) * 1e6)
                               AS BIGINT) AS VARCHAR),
                     ',' ORDER BY k) AS centroid_csv
            FROM s GROUP BY doc_id
        """)
def q_chunk_embed_pool(spark, sf_dir):
    """The composed RAG-indexing DAG end-to-end: sliding-window chunking
    (packing.chunk_documents, map-only, zero shuffle) → per-chunk
    DETERMINISTIC hash embedding (md5-projection: ONE md5 per chunk,
    component k = (hex window [3k+1, 3k+8] of md5(chunk) mod 2001 −
    1000)/1000 — a stand-in for the model call that keeps the whole
    pipeline engine-replayable, same plumbing: one embedding per
    chunk, dim 8; the single-digest form is 8× less hashing than a
    per-component md5(chunk:k) at identical coverage) → fixed-point mean-pool
    back to one document vector (similarity.mean_pool_embeddings, one
    packed-Arrow group shuffle).  The oracle replays chunking,
    projection and pooling exactly; centroids serialize to fixed-point
    CSV (canonicalizer-safe).  At 100 TB: the only shuffle in the DAG
    is the pool's group exchange — chunking and embedding inherit the
    scan partitioning."""
    from gdp_etl_spark.operators.packing import chunk_documents
    from gdp_etl_spark.operators.similarity import mean_pool_embeddings

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        .select("doc_id", "text")
    )
    chunks = chunk_documents(docs, "text", "doc_id", size=32, stride=16)
    # ONE md5 per chunk, for real: a separate projection is NOT enough
    # (CollapseProject re-inlines the digest into the 8-component
    # lambda, re-hashing per component — verified on the optimized
    # plan); binding the digest to a LAMBDA VARIABLE via a 1-element
    # transform is a collapse-proof evaluation point, the same trick
    # as cdc_window_dedup's arrays_zip
    emb = chunks.select(
        "doc_id",
        F.transform(
            F.array(F.md5(F.col("chunk_text"))),
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda k: (
                    F.conv(
                        h.substr(k * F.lit(3) + F.lit(1), F.lit(8)),
                        16, 10,
                    ).cast("bigint") % 2001 - 1000
                ).cast("double") / F.lit(1000.0),
            ),
        )[0].alias("embedding"),
    )
    pooled = mean_pool_embeddings(emb, "doc_id", "embedding")
    return pooled.select(
        "doc_id",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
            ),
        ).alias("centroid_csv"),
    )


# generated CTE replay of PQ train/encode/ADC (see _pq_sql)
@query(oracle=_pq_sql(rerank=50))
def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (similarity.pq_topk — the third
    leg of the FAISS triad next to lsh_topk and ivf_topk): vectors
    compress to 4 codebook indices (4×16 codes ≈ 4 bytes/vector — the
    only index that fits a memory tier at 100 TB of embeddings);
    queries score against CODES via exact-integer ADC lookup tables.
    Codebooks train with the deterministic fixed-point Lloyd's
    (kmeans.train_kmeans_fixed) per 16-dim subspace, so the oracle
    replays training, encoding, AND scoring bit-exactly (generated CTE
    chain, _pq_sql) — hash equality, not a recall bound.  The ADC
    top-50 shortlist is re-ranked with the EXACT fixed-point distance
    (the FAISS recall repair; characterized in tests).  Encode and
    score are map-only; both top-k windows are WindowGroupLimit-pruned."""
    from gdp_etl_spark.operators.similarity import pq_topk

    return pq_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2], k=10,
        m=4, k_codes=16, n_iter=2, rerank=50,
    )
