"""Distributed deterministic k-means, and the fixed-point quantizer core
every IVF/PQ path shares.

Clusters the FULL embedding table distributed, e.g. to balance
training data across semantic domains, pick diverse exemplars, or build
coarse IVF cells from all points instead of a sample.

Spark-first shape (the classic scalable Lloyd's layout, same as
Spark ML's KMeans but engine-deterministic):

* **assignment is map work** — centroids (k·d numbers, tiny) ride into
  the executors as one literal nested-array expression; each row finds
  its argmin cell with a single nested higher-order function (one
  ``transform`` over centroids around one ``zip_with``/``aggregate``
  dot — compact whole-stage codegen, no UDF, no join, no shuffle).
* **update is one bounded shuffle** — ``groupBy(subspace, cluster)``
  with ``d`` per-dimension integer ``sum`` aggregates (map-side
  partial combine), producing at most ``m·k`` rows that are collected
  to the driver (the same treeAggregate-to-driver pattern Spark ML
  uses).  Per iteration: one shuffle of m·k rows, nothing else moves.

**One engine.**  :func:`_lloyd` trains ``m`` codebooks at once over a
frame holding one row per (vector, subspace); plain k-means is the
``m = 1`` case (no slicing, seed string ``seed``), a product quantizer
the ``m``-subspace case (slice ``s``, seed string ``f"{seed}{s}"``).
Seeding is one per-subspace ``row_number`` action, and each iteration
one ``groupBy(__sub, cluster)`` action, whatever ``m`` is.

**One SQL parse per expression.**  Every quantizer expression is built
as SQL text and parsed once (``F.expr``/``selectExpr``): helpers take
column names or SQL text and return SQL text, so a Column-operator
lambda no longer pays a py4j round trip per operator per centroid
element (a ``pq_index`` build fell from ~8,500 round trips to ~850).
Literal rules: names are backtick-quoted with backticks doubled;
integers render through ``expressions.bigint_array_sql``; doubles as
``repr(float(v)) + "D"`` (bare ``1.0`` parses as DECIMAL), and a
non-finite ``scale``/``offset`` raises ``ValueError``; seed strings are
SQL string literals with ``\\`` and ``'`` backslash-escaped; lambda
variables are ``__``-prefixed so they cannot capture a caller's column.

Determinism & oracle portability (the repo's fixed-point recipe —
cf. functions/vectors.py:dot_fixed, graph.py:pagerank exact tier):

* elements are quantized once to non-negative BIGINT
  ``floor((x + offset) · scale)`` — the shared +offset cancels in every
  squared distance, and non-negativity makes floor-division equal to
  truncating division, so Spark's ``div`` and DuckDB's ``//`` agree;
* distances are exact integer sums of squared differences;
* centroid updates are integer floor-divisions of per-dim sums;
* seeds are the ``k`` rows with the smallest ``md5(id:seed)`` prefix
  (the sampling.py hash-bucket), cluster ids assigned in hash order;
* ties (equal distance) resolve to the smallest cluster id.

Every step is therefore bit-reproducible across engines, partitionings
and cluster sizes, and a DuckDB oracle can replay the full iteration
history as unrolled CTEs.

**Shared ANN pieces.**  The in-query ANN paths
(``similarity.ivf_topk_fixed``/``pq_topk``) and the persisted index
(``ann_index``) encode, probe and rank through the helpers below, so
the cross-engine contract lives in one place: the PQ code encoder
(:func:`_pq_encode`), driver-side probe-cell ranking and ADC tables,
the per-query IVF/ADC score struct arrays, the query-id and
query-vector checks, and the ascending ``(score_d2, neighbour_id)``
top-k tail every fixed-point ANN result ends with.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.expressions import bigint_array_sql, bigint_matrix_sql


def _sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(v: float) -> str:
    """A DOUBLE literal: bare ``1.0`` parses as DECIMAL in Spark SQL."""
    if not math.isfinite(float(v)):
        raise ValueError(f"quantizer scale/offset must be finite: {v!r}")
    return f"{float(v)!r}D"


def _sql_string(s: str) -> str:
    """An escaped SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _quantize_fn(scale: float, offset: float) -> str:
    """SQL lambda: non-negative bigint ``floor((x + offset) * scale)``."""
    return (
        f"__x -> CAST(floor((CAST(__x AS DOUBLE) + {_sql_double(offset)})"
        f" * {_sql_double(scale)}) AS BIGINT)"
    )


def _quantize(vec: Column | str, scale: float, offset: float) -> Column:
    """``transform(vec, _quantize_fn)`` over a vector column or name."""
    return F.call_function("transform", vec,
                           F.expr(_quantize_fn(scale, offset)))


def _dist2(q: str, cent: str) -> str:
    """Exact integer squared L2 distance between two bigint arrays."""
    return (
        f"aggregate(zip_with({q}, {cent}, (__a, __b) -> (__a - __b) * "
        f"(__a - __b)), 0L, (__acc, __e) -> __acc + __e)"
    )


def assign_expr(centroids: list[list[int]], q: str) -> tuple[str, str]:
    """(cluster, dist2) argmin expressions for a quantized vector
    ``q`` against literal centroids — THE assignment shape, shared by
    the Lloyd's loop, :func:`kmeans_fixed`'s final select, IVF cell
    assignment and the PQ encoder :func:`_pq_encode`, so the tie rule
    (first = smallest cluster id) lives in exactly one place.

    A ``bind_once`` variant that bound the dists array per row was
    A/B'd interleaved across six assignment-bearing queries (r16) and
    measured par-to-slightly-SLOWER (e.g. semantic_dedup 1.99→2.18,
    pq_index 5.33→5.65): projection-level subexpression elimination
    already dedups the repeated ``dists`` subtree; rejected."""
    cents = bigint_matrix_sql(centroids)
    dists = f"transform({cents}, __c -> {_dist2(q, '__c')})"
    return (
        f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)",
        f"array_min({dists})",
    )


# ---------------------------------------------------------------------------
# shared ANN pieces: encode, probe, score, rank
# ---------------------------------------------------------------------------


def _pq_encode(q: str, books: list[list[list[int]]], sub: int) -> str:
    """``array<int>`` of the ``m`` PQ codes of a quantized vector: per
    subspace ``s``, the argmin code of ``slice(q, s*sub+1, sub)``
    against literal codebook ``s`` — one map-only expression, the
    ``codes`` column of both ``similarity.pq_topk`` and the persisted
    PQ index."""
    return "array(" + ",".join(
        assign_expr(book, f"slice({q}, {s * sub + 1}, {sub})")[0]
        for s, book in enumerate(books)
    ) + ")"


def _sqdist(a: Sequence[int], b: Sequence[int]) -> int:
    """Driver-side exact squared distance — :func:`_dist2` in Python."""
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _probe_cells(qv: list[int], centroids: list[list[int]],
                 nprobe: int) -> list[int]:
    """A query's ``nprobe`` nearest cells by exact integer distance,
    ties to the smaller cell id (the oracle's ``ORDER BY d2, cluster``)."""
    ranked = sorted((_sqdist(qv, c), ci) for ci, c in enumerate(centroids))
    return [ci for _, ci in ranked[:nprobe]]


def _adc_tables(qv: list[int], books: list[list[list[int]]],
                sub: int) -> list[list[int]]:
    """The ``m`` exact ADC lookup tables of a query: table ``s`` holds
    the squared distance of the query's slice ``s`` to every code."""
    return [
        [_sqdist(qv[s * sub:(s + 1) * sub], c) for c in book]
        for s, book in enumerate(books)
    ]


def _ivf_scores(qvecs: dict[int, list[int]], probes: dict[int, list[int]],
                cell: str, q: str) -> str:
    """Per-row array of ``(query_id, score_d2)`` structs, one per query:
    the exact squared distance when the row's ``cell`` is one of the
    query's probed cells, else NULL (unprobed rows never evaluate it)."""
    def probed(cells: list[int]) -> str:
        return f"{cell} IN ({','.join(map(str, cells))})" if cells else "false"
    return "array(" + ",".join(
        f"struct({qi}L AS query_id, CASE WHEN {probed(probes[qi])} THEN "
        f"{_dist2(bigint_array_sql(qv), q)} END AS score_d2)"
        for qi, qv in qvecs.items()
    ) + ")"


def _adc_scores(qvecs: dict[int, list[int]], books: list[list[list[int]]],
                sub: int, codes: str) -> str:
    """Per-row array of ``(query_id, score_d2)`` structs, one per query:
    the ADC estimate, i.e. the sum over subspaces of the query's table
    entry at the row's code — ``m`` array lookups, map-only."""
    return "array(" + ",".join(
        f"struct({qi}L AS query_id, CAST(" + " + ".join(
            f"element_at({bigint_array_sql(t)}, "
            f"element_at({codes}, {s + 1}) + 1)"
            for s, t in enumerate(_adc_tables(qv, books, sub))
        ) + " AS BIGINT) AS score_d2)"
        for qi, qv in qvecs.items()
    ) + ")"


def _explode_scores(rows: DataFrame, id_col: str, scores: str) -> DataFrame:
    """``(query_id, neighbour_id, score_d2)`` candidates from a per-row
    score array: NULL scores (unprobed) and self-matches dropped."""
    return (
        rows.selectExpr(f"{_sql_ident(id_col)} AS neighbour_id",
                        f"explode({scores}) AS __e")
        .selectExpr("__e.query_id", "neighbour_id", "__e.score_d2")
        .filter("score_d2 IS NOT NULL AND neighbour_id <> query_id")
    )


def _topk_d2(scored: DataFrame, k: int) -> DataFrame:
    """The fixed-point ANN result tail: per query, the ``k`` smallest
    ``(score_d2, neighbour_id)`` as ``(query_id, neighbour_id,
    score_d2, rank int)`` — a ``row_number`` window Catalyst prunes
    map-side (WindowGroupLimit, see skew.grouped_topk)."""
    return (
        scored.withColumn("rank", F.expr(
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY score_d2 ASC, neighbour_id ASC)"
        ))
        .filter(f"`rank` <= {int(k)}")
        .selectExpr("query_id", "neighbour_id", "score_d2",
                    "CAST(`rank` AS INT) AS `rank`")
    )


def _check_query_ids(query_ids: Sequence, fn_name: str) -> list[int]:
    """Query ids become bigint literals: a non-integral id would cast to
    NULL and silently empty the result, and a duplicated id would
    double-emit every candidate (one struct per list element) and
    halve the effective top-k — both raise instead."""
    query_ids = list(query_ids)
    bad = [qi for qi in query_ids
           if not isinstance(qi, int) or isinstance(qi, bool)]
    if bad:
        raise TypeError(
            f"{fn_name}: query_ids must be Python ints; got "
            f"{bad[:3]!r}{'…' if len(bad) > 3 else ''} (non-integral ids "
            f"would cast to NULL and silently empty the result)"
        )
    if len(set(query_ids)) != len(query_ids):
        raise ValueError(f"{fn_name}: query_ids contains duplicates")
    return query_ids


def _check_nprobe(nprobe: int, fn_name: str) -> None:
    """A probe visits at least one cell: a slice ``[:nprobe]`` with
    ``nprobe <= 0`` silently probes nothing (0) or all but the last
    cells (negative) instead of raising."""
    if nprobe < 1:
        raise ValueError(f"{fn_name}: nprobe must be >= 1, got {nprobe!r}")


def _check_id_col(df: DataFrame, id_col: str, fn_name: str) -> None:
    """The id column is compared against bigint query-id literals."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{fn_name}: id column {id_col!r} must be integral to "
            f"compare against bigint query_id literals; got {id_type}"
        )


def _query_vectors(rows: list, query_ids: list[int], id_col: str,
                   where: str) -> dict[int, list[int]]:
    """``{query_id: quantized q}`` in ``query_ids`` order from collected
    ``(id_col, q)`` rows; raises naming any id the source lacks."""
    got = {r[id_col]: list(r["q"]) for r in rows}
    missing = [qi for qi in query_ids if qi not in got]
    if missing:
        raise ValueError(f"query ids not in {where}: {missing}")
    return {qi: got[qi] for qi in query_ids}


# ---------------------------------------------------------------------------
# the Lloyd's engine
# ---------------------------------------------------------------------------


def _quantized_frame(
    df: DataFrame, id_col: str, vec_col: str,
    scale: float, offset: float, seeds: list[str], sub: int | None,
) -> DataFrame:
    """``(__sub, __id, __q, __h)``: one row per (vector, subspace), the
    frame every engine step reads.  Subspace ``s`` hashes with seed
    string ``seeds[s]`` and, when ``sub`` is set, quantizes
    ``slice(vec, s*sub+1, sub)``; ``sub=None`` keeps the whole vector
    (plain k-means: one seed string, no slicing)."""
    i, v = _sql_ident(id_col), _sql_ident(vec_col)
    base = df.filter(f"{v} IS NOT NULL")
    sliced = [v if sub is None else f"slice({v}, {s * sub + 1}, {sub})"
              for s in range(len(seeds))]
    return reduce(DataFrame.unionByName, [
        base.selectExpr(
            f"{s} AS __sub",
            f"{i} AS __id",
            f"transform({sliced[s]}, {_quantize_fn(scale, offset)}) AS __q",
            f"CAST(conv(substring(md5(concat_ws(':', CAST({i} AS STRING), "
            f"{_sql_string(seed)})), 1, 8), 16, 10) AS BIGINT) AS __h",
        )
        for s, seed in enumerate(seeds)
    ])


def _lloyd(qdf: DataFrame, m: int, k: int,
           n_iter: int) -> list[list[list[int]]]:
    """Train ``m`` codebooks on an already-quantized
    :func:`_quantized_frame`: per subspace, seeds are the ``k``
    smallest ``(__h, __id)`` rows in rank order (one action for all
    subspaces), then ``n_iter`` integer Lloyd's updates, each ONE
    ``groupBy(__sub, cluster)`` action; empty clusters keep their
    centroid.  Books hold fewer than ``k`` entries when the corpus is
    smaller than ``k``, and are all empty on an empty corpus."""
    seed_rows = qdf.selectExpr(
        "__sub", "__q",
        "row_number() OVER (PARTITION BY __sub ORDER BY __h, __id) AS __rn",
    ).filter(f"__rn <= {int(k)}").collect()
    books: list[list[list[int]]] = [[] for _ in range(m)]
    for r in sorted(seed_rows, key=lambda r: (r["__sub"], r["__rn"])):
        books[r["__sub"]].append(list(r["__q"]))
    if any(not b for b in books):
        # an empty corpus empties every subspace (same rows)
        return books
    dim = len(books[0][0])
    for _ in range(n_iter):
        cluster = assign_expr(books[0], "__q")[0]
        for s in range(1, m):
            cluster = (f"CASE WHEN __sub = {s} THEN "
                       f"{assign_expr(books[s], '__q')[0]} ELSE {cluster} END")
        stats = (
            qdf.selectExpr("__sub", "__q", f"{cluster} AS cluster")
            .groupBy("__sub", "cluster")
            .agg(F.expr("count(1) AS n"), *[
                F.expr(f"sum(element_at(__q, {i + 1})) AS s{i}")
                for i in range(dim)
            ])
            .collect()
        )
        for r in stats:
            # non-negative sums: truncating div == floor div (oracle //)
            books[r["__sub"]][r["cluster"]] = [
                int(r[f"s{i}"]) // r["n"] for i in range(dim)
            ]
    return books


def _train(df: DataFrame, id_col: str, vec_col: str, scale: float,
           offset: float, seeds: list[str], sub: int | None, k: int,
           n_iter: int) -> list[list[list[int]]]:
    """Quantize once, persist (every Lloyd's step re-reads the frame),
    train, unpersist."""
    qdf = _quantized_frame(
        df, id_col, vec_col, scale, offset, seeds, sub
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _lloyd(qdf, len(seeds), k, n_iter)
    finally:
        qdf.unpersist(blocking=False)


def train_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub: int,
    k: int = 16,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "pq",
) -> list[list[list[int]]]:
    """Train the ``m`` per-subspace codebooks of a product quantizer in
    ONE fused Lloyd's driver loop — bit-identical to ``m`` sequential
    :func:`train_kmeans_fixed` calls over ``slice(vec, s*sub+1, sub)``
    with seed ``f"{seed}{s}"`` (pinned in
    tests/test_kmeans_mix.py::test_train_pq_codebooks_equals_sequential),
    because every per-subspace quantity is unchanged: the seed hash is
    the same ``md5(id:seed{s})`` prefix, seeds are the k smallest
    ``(__h, __id)`` rows PER subspace, assignment is the same literal-
    centroid argmin applied per subspace, and centroid updates are the
    same per-subspace integer floor-divided sums.

    ONE persisted frame holds all m quantized slices (same total bytes
    as the corpus: m rows of dim/m elements per vector) and each
    Lloyd's step is ONE action for all subspaces, i.e. (n_iter+1)
    passes and (n_iter+1) actions regardless of m.

    Returns ``m`` codebooks (possibly with fewer than ``k`` entries
    when the corpus is smaller than ``k``; empty on an empty corpus —
    the train_kmeans_fixed contract, per subspace)."""
    return _train(
        df, id_col, vec_col, scale, offset,
        [f"{seed}{s}" for s in range(m)], sub, k, n_iter,
    )


def train_kmeans_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "km",
) -> list[list[int]]:
    """Train-only entry point: the final QUANTIZED centroids as plain
    Python ints (k·d numbers — driver-safe by construction), for
    callers that assign with their own expressions (IVF cells).  Same
    deterministic recipe as :func:`kmeans_fixed`; ``[]`` on an empty
    corpus."""
    return _train(
        df, id_col, vec_col, scale, offset, [seed], None, k, n_iter
    )[0]


def kmeans_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "km",
) -> DataFrame:
    """Lloyd's k-means with exact integer arithmetic; returns one row per
    input row: ``(id_col, cluster int, dist2 bigint)`` where ``dist2`` is
    the squared fixed-point distance to the final centroid.

    ``offset`` must make every quantized element non-negative (embedding
    values in [-offset, ∞) — unit-ish embeddings with the default 1.0).
    Vectors must be non-NULL with a uniform dimension (NULL rows are
    dropped up front: a NULL distance would order differently under
    Spark's NULLS FIRST vs the oracle's NULLS LAST).  Empty clusters
    keep their previous centroid.  ``k`` is capped at the row count.
    Assignment plans as pure map work (literal centroids); each
    iteration's update is ONE k-row shuffle + a k·d driver collect.
    """
    centroids = train_kmeans_fixed(
        df, id_col, vec_col, k, n_iter, scale, offset, seed
    )
    if not centroids:
        return df.selectExpr(
            _sql_ident(id_col),
            "CAST(NULL AS INT) AS cluster",
            "CAST(NULL AS BIGINT) AS dist2",
        ).limit(0)
    # the training frame is unpersisted: the assignment re-derives __q
    # lazily from the source
    qdf = _quantized_frame(df, id_col, vec_col, scale, offset, [seed], None)
    cluster, dist2 = assign_expr(centroids, "__q")
    return qdf.selectExpr(
        f"__id AS {_sql_ident(id_col)}",
        f"{cluster} AS cluster",
        f"{dist2} AS dist2",
    )
