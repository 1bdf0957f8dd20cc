"""Persisted ANN serving state — IVF centroids + cell-posting lists as
stamped, bucketed metastore tables.

``similarity.ivf_topk_fixed`` is honest about its cost: the coarse
quantizer trains IN-QUERY so the result is an engine-replayable
contract.  Production ANN does not retrain per query — FAISS builds the
index once and serves many probes from stored state.  This module is
that shape, on the persisted-table store of :mod:`gdp_etl_spark.io`
(the one the dedup, MinHash and sketch tables use):

* posting lists live in a BUCKETED table keyed by ``cell``, so a probe
  is a bucket-pruned scan — no index-side Exchange, ever (plan-pinned
  in pytest);
* parameters are stamped as ``ivf.``/``pq.`` table properties, creates
  go tmp-then-rename so a crash can never leave a live-but-stampless
  table, and appends derive everything from the stamp so the index
  space cannot silently fork.

What stays here is the index's own: the stamp keys and their types,
the ``seq`` and tombstone logic, and the compaction's churn fold.

Lifecycle:

* :func:`write_ivf_index` — train the coarse quantizer ONCE
  (``kmeans.train_kmeans_fixed``: hash-seeded, integer Lloyd updates —
  deterministic and oracle-replayable), store centroids in a companion
  ``<table>__centroids`` table and the quantized corpus as posting
  lists bucketed by cell.
* :func:`append_to_ivf_index` — assign NEW vectors to cells using the
  STORED centroids (one map-only pass over the increment, no retrain,
  no rescan of prior data) and append with the bucket spec preserved.
* :func:`ivf_probe_index` — serve top-k from stored state: centroids
  collect driver-side (model state, kilobytes), probe cells per query
  come from the same integer distances, candidates are the bucket-
  pruned posting rows of the probed cells.  No training, no corpus
  quantization — the query-time cost ``ivf_topk_fixed`` pays on every
  call is paid once at build time.
* :func:`delete_from_ivf_index` / :func:`upsert_to_ivf_index` — churn
  (re-crawled or removed documents) via TOMBSTONES, the ``cdc_apply``
  discipline applied to index tables: every write batch carries a
  monotone ``seq`` (stamped ``next_seq`` property), a tombstone row
  ``(id, seq)`` in the small ``<table>__tombstones`` companion kills
  every posting row of that id with an earlier ``seq``, and an upsert
  is tombstone-then-append at ONE seq (the new rows survive their own
  tombstone).  Probes resolve liveness with one BROADCAST join against
  the per-id max tombstone seq — churn-bounded between compactions, no
  index-side Exchange added.
* :func:`compact_ivf_index` — fold append-accreted files back to one
  per bucket (the store's compaction swap, ``ivf.`` stamp carried
  across), apply the accumulated tombstones physically, and
  clear them; probe results are identical before and after (the
  ``ivf_upsert`` driver query pins post-churn probes against a
  from-scratch logical rebuild, cross-engine).

At 100 TB the posting table is the vector store: bucketed (at rest:
partitioned) by cell, appended per ingest batch, compacted in the
maintenance window; probes read only the ``nprobe`` cells they need.
Semantics (quantization, seeding, tie-breaks) are shared with
``ivf_topk_fixed`` so a stored-state probe is hash-identical to the
in-query path trained on the same rows — the driver query ``ivf_index``
pins exactly that cross-engine.

**Single-writer contract (r14 advisor finding):** ``next_seq``
allocation is a read-modify-write on table properties — this module
assumes ONE mutator per index at a time (the same contract
``sketches.write_ndv_sketch`` documents for its stamp).  The contract
is ENFORCED by detection, not trusted: every mutating batch re-reads
the stamped ``next_seq`` immediately before bumping it and raises
``RuntimeError`` if another writer moved it mid-flight (a shared seq
would let a delete spare a colliding upsert's rows — silent liveness
corruption, the one failure mode tombstones cannot repair).
Compaction likewise runs in a mutation QUIET WINDOW: tombstones that
appear during the rewrite are preserved (never dropped unapplied) and
their presence raises loudly after the swap, because posting rows
appended mid-rewrite may not have been captured (prefer-missing —
re-run the mutation batch).

**Format note:** round 14 added the ``seq`` column, the ``next_seq``
stamp and the ``__tombstones`` companion; round 15 adds the id-keyed
``__vectors`` twin (the store probes fetch query vectors from, bucket-
pruned).  Indexes written before these bumps fail loudly on the stamp
read (missing ``next_seq``) — rebuild with :func:`write_ivf_index`;
an index without the ``__vectors`` twin still probes via the
documented (unpruned) posting-scan fallback.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import (
    append_table,
    compact_table,
    create_table,
    read_stamp,
    restore_swap,
    write_stamp,
)
from ..session import local_df
from .kmeans import (
    _adc_scores,
    _check_id_col,
    _check_nprobe,
    _check_query_ids,
    _explode_scores,
    _ivf_scores,
    _pq_encode,
    _probe_cells,
    _quantize,
    _quantize_fn,
    _query_vectors,
    _sql_ident,
    _sql_string,
    _topk_d2,
    assign_expr,
    train_kmeans_fixed,
    train_pq_codebooks,
)

__all__ = [
    "write_ivf_index",
    "append_to_ivf_index",
    "delete_from_ivf_index",
    "upsert_to_ivf_index",
    "ivf_probe_index",
    "ivf_index_stats",
    "compact_ivf_index",
    "write_pq_index",
    "append_to_pq_index",
    "delete_from_pq_index",
    "upsert_to_pq_index",
    "pq_probe_index",
    "pq_index_stats",
    "compact_pq_index",
]

# table-property namespace and stamped key spec, per index kind
_P = "ivf."
_KEYS = {"num_centroids": int, "n_iter": int, "scale": float,
         "offset": float, "seed": str, "id_col": str, "vec_col": str,
         "next_seq": int}
_PQ = "pq."
_PQ_KEYS = {"m": int, "k_codes": int, "n_iter": int, "scale": float,
            "offset": float, "seed": str, "id_col": str, "vec_col": str,
            "dim": int, "next_seq": int}


def _centroids_table(table: str) -> str:
    return f"{table}__centroids"


def _tombstones_table(table: str) -> str:
    return f"{table}__tombstones"


def _vectors_table(table: str) -> str:
    return f"{table}__vectors"


def _bump_next_seq(spark, table: str, prefix: str, expected: int) -> None:
    """Advance the stamped write-sequence counter — one metastore write
    per mutating batch, the price of ordered churn — GUARDED by the
    single-writer tripwire (r14 advisor finding + the
    ``sketches.write_ndv_sketch`` concurrent-append discipline): the
    stamp is re-read immediately before the bump and a ``RuntimeError``
    raised if it is no longer the value this writer planned against.
    Two mutators sharing a seq is silent liveness corruption (a delete
    cannot kill a colliding upsert's rows, ``seq >= tomb_seq`` spares
    them), so a detected race must fail the batch, loudly, AFTER its
    data writes — the batch's rows/tombstones are then at an ambiguous
    seq and the caller must inspect or re-run under the single-writer
    contract the module docstring states."""
    key = f"{prefix}next_seq"
    current = read_stamp(spark, table, key).get(key)
    current = None if current is None else int(current)
    if current != int(expected):
        raise RuntimeError(
            f"{table}: stamped {key} is {current}, expected "
            f"{int(expected)} — another writer mutated this index "
            f"mid-batch (single-writer contract violated); this "
            f"batch's rows share or skip a write seq and its liveness "
            f"is ambiguous: inspect the __tombstones companion or "
            f"re-run the batch alone"
        )
    write_stamp(spark, table, {key: int(expected) + 1})


def _append_tombstones(
    spark, table: str, id_col: str, ids_df: DataFrame, seq: int
) -> None:
    """Append ``(id, seq)`` kill rows to the ``__tombstones`` companion
    (created on first use — an append-only index has none).  A
    tombstone kills every posting/code row of that id with an EARLIER
    seq; rows written at the tombstone's own seq survive it (the
    upsert shape).  The companion is churn-bounded between compactions
    — kilobytes, not corpus-scale — so probes broadcast it."""
    (
        ids_df.select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.lit(int(seq)).cast("bigint").alias("seq"),
        )
        .filter(F.col(id_col).isNotNull())
        .distinct()
        .write.mode("append")
        .format("parquet")
        .saveAsTable(_tombstones_table(table))
    )
    spark.catalog.refreshTable(_tombstones_table(table))


def _tombstone_maxseq(spark, table: str, id_col: str) -> DataFrame | None:
    """Per-id max tombstone seq, or None when no churn has happened.
    Bounded by the churned-id count between compactions."""
    ttable = _tombstones_table(table)
    if not spark.catalog.tableExists(ttable):
        return None
    spark.catalog.refreshTable(ttable)
    return spark.table(ttable).groupBy(id_col).agg(
        F.max("seq").alias("__tomb_seq")
    )


def _reclaim_orphans(spark, table: str, companions: tuple[str, ...]) -> None:
    """Pre-write existence discipline: the main (postings/codes) table
    existing is a hard error — the caller must drop a live index
    deliberately.  A companion (centroids/codebooks/tombstones) existing
    WITHOUT the main table is an orphan from a crash inside a previous
    build's rename window (the main table renames LAST); reclaim it so
    the retry the durability docstring promises actually works."""
    if spark.catalog.tableExists(table):
        raise ValueError(f"table {table} already exists")
    for t in companions:
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE {t}")


def _resolve_live(rows: DataFrame, tomb: DataFrame | None,
                  id_col: str) -> DataFrame:
    """Drop rows killed by a tombstone: keep a row iff its id has no
    tombstone or the row's ``seq`` is >= the id's max tombstone seq.
    The join is a BROADCAST (tombstones are churn-bounded), so a
    bucket-pruned posting scan stays Exchange-free."""
    if tomb is None:
        return rows
    return (
        rows.join(F.broadcast(tomb), id_col, "left")
        .filter(
            F.col("__tomb_seq").isNull()
            | (F.col("seq") >= F.col("__tomb_seq"))
        )
        .drop("__tomb_seq")
    )


def _twin_query_frame(spark, table: str, id_col: str,
                      query_ids: list[int],
                      asof_seq: int | None) -> DataFrame:
    """The probe's query-vector fetch from the id-keyed ``__vectors``
    twin: ``id IN (...)`` on the bucket key — bucket-pruned to
    |distinct bucket ids of the probe batch| files (plan-pinned in
    pytest) — with liveness/asof resolved against the shared
    tombstone companion."""
    vtable = _vectors_table(table)
    spark.catalog.refreshTable(vtable)
    return _snapshot(
        spark, table, id_col, asof_seq,
        rows=spark.table(vtable).filter(F.col(id_col).isin(query_ids)),
    )


def _twin_query_rows(spark, table: str, id_col: str,
                     query_ids: list[int],
                     asof_seq: int | None) -> list:
    """Collect the twin fetch with bucketed scan FORCED on: Spark's
    ``DisableUnnecessaryBucketedScan`` rule turns bucketed reading off
    for a bare point lookup (no downstream join/agg needs the
    distribution), which also discards the bucket-pruning filter and
    rereads every file — for this |Q|-row fetch, pruning beats the
    parallelism the rule is protecting.  The toggle is scoped to the
    collect and restored."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return _twin_query_frame(
            spark, table, id_col, query_ids, asof_seq
        ).collect()
    finally:
        spark.conf.set(key, prev)


def _upsert_tombstones(df: DataFrame, table: str, p: dict,
                       fn_name: str) -> None:
    """An upsert's first write: tombstone the batch's ids at the
    stamped ``next_seq`` — the seq its append body then writes at.
    The id frame is guarded so a NULL-vector row RAISES instead of
    silently deleting the id (r14 advisor finding: the posting/code
    append drops NULL vectors, so an unguarded tombstone would kill
    the id with no replacement row).  Deletion is a separate,
    explicit operation."""
    id_col, vec_col = p["id_col"], p["vec_col"]
    guard = F.when(
        F.col(vec_col).isNull(),
        F.raise_error(
            F.format_string(
                f"{fn_name}: NULL {vec_col} for {id_col} %s — an "
                f"upsert batch must carry a replacement vector for "
                f"every row; remove ids explicitly with the delete "
                f"operation instead",
                F.col(id_col).cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    _append_tombstones(
        df.sparkSession, table, id_col, df.filter(guard).select(id_col),
        p["next_seq"],
    )


def _snapshot(spark, table: str, id_col: str,
              asof_seq: int | None,
              rows: DataFrame | None = None) -> DataFrame:
    """The index's LIVE rows — at the latest state (``asof_seq=None``)
    or AS OF a write sequence: only rows and tombstones written at
    ``seq <= asof_seq`` participate, so the view is exactly what a
    probe saw when ``next_seq`` was ``asof_seq + 1``.  Later appends,
    upserts, deletes and even compactions cannot change it (compaction
    keeps surviving rows' seqs; it only drops rows that were ALREADY
    dead at every asof where they were tombstoned — asof reads BELOW a
    compaction-applied tombstone are the one thing compaction
    forfeits, which is why it is a maintenance-window decision).
    This is the dataset-versioning contract a training pipeline needs:
    a run pinned to ``asof_seq`` reads the same vector set forever.

    ``rows`` overrides the data side (e.g. the ``__vectors`` twin, or
    a pre-filtered scan); liveness always resolves against ``table``'s
    tombstone companion."""
    if rows is None:
        rows = spark.table(table)
    tomb = _tombstone_maxseq(spark, table, id_col)
    if asof_seq is not None:
        s = int(asof_seq)
        rows = rows.filter(F.col("seq") <= F.lit(s))
        if tomb is not None:
            ttable = _tombstones_table(table)
            tomb = (
                spark.table(ttable)
                .filter(F.col("seq") <= F.lit(s))
                .groupBy(id_col).agg(F.max("seq").alias("__tomb_seq"))
            )
    return _resolve_live(rows, tomb, id_col)


def _index_stats(spark, table: str, id_col: str,
                 next_seq: int) -> DataFrame:
    """One-row observability frame for an index table: total vs live
    vs dead row counts, distinct tombstoned ids, the stamped write
    sequence, and the physical file count.  Aggregate-only — two scans
    of the index (bounded output), one of the kilobyte tombstone
    table; nothing collects but the one result row."""
    spark.catalog.refreshTable(table)
    rows = spark.table(table)
    live = _snapshot(spark, table, id_col, None)
    ttable = _tombstones_table(table)
    if spark.catalog.tableExists(ttable):
        tomb_ids = (
            spark.table(ttable).select(id_col).distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("tombstoned_ids"))
        )
    else:
        tomb_ids = spark.range(1).select(
            F.lit(0).cast("long").alias("tombstoned_ids")
        )
    total = rows.agg(F.count(F.lit(1)).cast("long").alias("rows_total"))
    nlive = live.agg(F.count(F.lit(1)).cast("long").alias("rows_live"))
    n_files = len(rows.inputFiles())
    return (
        total.crossJoin(nlive).crossJoin(tomb_ids)
        .select(
            "rows_total",
            "rows_live",
            (F.col("rows_total") - F.col("rows_live")).cast("long")
            .alias("rows_dead"),
            "tombstoned_ids",
            F.lit(int(next_seq)).cast("long").alias("next_seq"),
            F.lit(int(n_files)).cast("long").alias("files"),
        )
    )


def ivf_index_stats(spark, table: str) -> DataFrame:
    """Ops ledger for an IVF index (one row): ``rows_total`` (physical
    posting rows incl. superseded), ``rows_live`` (what a probe sees),
    ``rows_dead`` (compaction debt), ``tombstoned_ids``, ``next_seq``,
    ``files`` — the churn-cycle dashboard: rows_dead and files say when
    to schedule :func:`compact_ivf_index`; after it, rows_dead and
    tombstoned_ids read 0 and files returns to one per bucket."""
    p = _read_stamp(spark, table)
    return _index_stats(spark, table, p["id_col"], p["next_seq"])


def pq_index_stats(spark, table: str) -> DataFrame:
    """:func:`ivf_index_stats` for the PQ codes table."""
    p = _read_stamp(spark, table, _PQ, _PQ_KEYS)
    return _index_stats(spark, table, p["id_col"], p["next_seq"])


def _read_stamp(spark, table: str, prefix: str = _P,
                keys: dict = _KEYS) -> dict:
    """The index parameters stamped under ``prefix``, typed by the
    ``keys`` spec; raises when any is missing (not an index table of
    that kind, or one written before a format bump)."""
    props = read_stamp(spark, table, prefix)
    missing = [prefix + k for k in keys if prefix + k not in props]
    if missing:
        kind = prefix.rstrip(".")
        raise ValueError(
            f"{table} is not a stamped {kind} index table (missing "
            f"properties {missing}); create it with write_{kind}_index"
        )
    return {k: typ(props[prefix + k]) for k, typ in keys.items()}


def _load_centroids(spark, table: str) -> list[list[int]]:
    """Collect the stored coarse centroids — model state, bounded by
    num_centroids × dim, never by data."""
    rows = sorted(spark.table(_centroids_table(table)).collect(),
                  key=lambda r: r["cell"])
    if not rows:
        raise ValueError(f"{_centroids_table(table)} is empty")
    return [list(r["c"]) for r in rows]


def _quantized(df: DataFrame, id_col: str, vec_col: str, dim: int,
               scale: float, offset: float, seq: int,
               kind: str = "ivf") -> DataFrame:
    """Quantize one batch of vectors to ``(id, q, seq)`` — map-only,
    whole-stage codegen, NULL vectors dropped (the kmeans_fixed rule).
    Vector dimension is checked per row against the index dimension
    (silent truncation is the failure mode).  Feeds the cell
    assignment of :func:`_postings`, the id-keyed ``__vectors`` twin
    the probe fetches query vectors from, and the PQ encoder of
    :func:`_pq_codes`."""
    i, v = _sql_ident(id_col), _sql_ident(vec_col)
    msg = _sql_string(
        f"{kind} index: vector for {id_col} %s has dimension %s, "
        f"index dimension is {dim}"
    )
    return df.filter(f"{v} IS NOT NULL").selectExpr(
        i,
        f"CASE WHEN size({v}) <> {int(dim)} THEN CAST(raise_error("
        f"format_string({msg}, CAST({i} AS STRING), CAST(size({v}) AS "
        f"STRING))) AS ARRAY<BIGINT>) ELSE transform({v}, "
        f"{_quantize_fn(scale, offset)}) END AS q",
        f"{int(seq)}L AS seq",
    )


def _assign_cells(qdf: DataFrame, id_col: str,
                  centroids: list[list[int]]) -> DataFrame:
    """Cell-assign an already-quantized ``(id, q, seq)`` frame —
    map-only (the shared literal-centroid argmin, whole-stage codegen,
    no shuffle before the bucketed write's own redistribution)."""
    cell, _ = assign_expr(centroids, "q")
    return qdf.selectExpr(f"{cell} AS cell", _sql_ident(id_col), "q", "seq")


def _postings(df: DataFrame, id_col: str, vec_col: str,
              centroids: list[list[int]], scale: float,
              offset: float, seq: int) -> DataFrame:
    """Quantize + assign one batch of vectors (see
    :func:`_assign_cells` for the shared assignment tail)."""
    return _assign_cells(
        _quantized(df, id_col, vec_col, len(centroids[0]),
                   scale, offset, seq),
        id_col, centroids,
    )


def write_ivf_index(
    df: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "ivf",
    num_buckets: int = 8,
) -> None:
    """Build the IVF index: train the coarse quantizer on ``df`` (the
    deterministic fixed-point Lloyd's of ``train_kmeans_fixed`` — per
    iteration one k-row shuffle + a k·dim driver collect), store the
    centroids in ``<table>__centroids`` and the quantized corpus as
    cell-bucketed posting lists in ``table``.

    Durability (the store's :func:`gdp_etl_spark.io.create_table`):
    each table is written under a tmp name (the postings stamped
    there), then renamed into place — centroids first, postings last,
    so the index is live only when complete (the POSTINGS table,
    renamed last, is the liveness marker).  A crash
    between the two renames leaves an orphaned companion with no
    postings table; a retry detects that state (companion present,
    postings absent) and reclaims the orphan instead of failing with
    "already exists" (r13 advisor finding) — so a crash at any point
    leaves nothing, a retryable tmp, or a reclaimable orphan, never a
    stampless live index."""
    _check_id_col(df, id_col, "write_ivf_index")
    spark = df.sparkSession
    ctable = _centroids_table(table)
    vtable = _vectors_table(table)
    _reclaim_orphans(
        spark, table, (ctable, vtable, _tombstones_table(table))
    )
    centroids = train_kmeans_fixed(
        df.filter(F.col(vec_col).isNotNull()), id_col, vec_col,
        k=num_centroids, n_iter=n_iter, scale=scale, offset=offset,
        seed=seed,
    )
    if not centroids:
        raise ValueError("empty corpus")
    params = {
        "num_centroids": num_centroids, "n_iter": n_iter,
        "scale": repr(float(scale)), "offset": repr(float(offset)),
        "seed": seed, "id_col": id_col, "vec_col": vec_col,
        "next_seq": 1,
    }
    # centroids are model state (k rows): local_df ships ONE Arrow
    # batch as a LocalRelation (~0.05 s) instead of pickling rows
    # through executor Python workers (~0.5 s warm, 3 s cold — the
    # session.local_df rationale, measured r15)
    create_table(local_df(
        spark, [(i, c) for i, c in enumerate(centroids)],
        "cell int, c array<bigint>",
    ), ctable)
    dim = len(centroids[0])
    # id-keyed __vectors twin: the store probes fetch query vectors
    # from with BUCKET PRUNING (id IN (...) on the bucket key) — the
    # id-keyed companion that closes the convenience path's unpruned
    # posting scan (r14 verdict task 5).  Renamed before the postings
    # table, which stays the liveness marker.  Both corpus writes are
    # LAZY scans of the source (measured r15: persisting the shared
    # quantized frame to feed them from cache costs more than the two
    # columnar re-scans at bench scale, and at 100 TB it would write
    # corpus bytes to the cache tier to save two pruned parquet scans
    # — the guide's cache-only-when-recompute-is-costlier rule).
    create_table(
        _quantized(df, id_col, vec_col, dim, scale, offset, seq=0),
        vtable, [id_col], num_buckets, [id_col],
    )
    create_table(
        _postings(df, id_col, vec_col, centroids, scale, offset, seq=0),
        table, ["cell"], num_buckets, ["cell"],
        stamp={_P + k: v for k, v in params.items()},
    )


def _append_twin(qdf: DataFrame, table: str) -> None:
    """Mirror an already-quantized write batch into the id-keyed
    ``__vectors`` twin — the same ``(id, q, seq)`` frame the caller's
    posting append reads (quantized once, shared) — bucketed by id so
    probe-time query-vector fetches are bucket-pruned.  A pre-twin
    index (format note in the module docstring) skips silently: the
    probe falls back to the documented posting scan."""
    vtable = _vectors_table(table)
    if qdf.sparkSession.catalog.tableExists(vtable):
        append_table(qdf, vtable)


def _append_ivf(df: DataFrame, table: str, p: dict,
                centroids: list[list[int]]) -> None:
    """The IVF append body, at the stamped ``next_seq``: quantize once,
    cell-assign with the stored centroids, append postings and the
    ``__vectors`` twin, bump the seq."""
    spark = df.sparkSession
    qdf = _quantized(
        df, p["id_col"], p["vec_col"], len(centroids[0]),
        p["scale"], p["offset"], seq=p["next_seq"],
    )
    append_table(_assign_cells(qdf, p["id_col"], centroids), table)
    _append_twin(qdf, table)
    _bump_next_seq(spark, table, _P, p["next_seq"])


def append_to_ivf_index(df: DataFrame, table: str) -> None:
    """Fold a NEW vector batch into the index: assign cells with the
    STORED centroids (no retrain — one map-only pass over the
    increment, prior data never rescanned) and append with the bucket
    spec preserved (postings AND the id-keyed ``__vectors`` twin —
    two map-only scans of the batch sharing one quantize plan).
    Ids already present are the CALLER's contract (an id-keyed store,
    like the dedup index's admitted-batch cycle); duplicate rows cost
    bytes until :func:`compact_ivf_index`."""
    spark = df.sparkSession
    p = _read_stamp(spark, table)
    _append_ivf(df, table, p, _load_centroids(spark, table))


def _delete(spark, table: str, ids: Sequence[int], fn_name: str,
            prefix: str, keys: dict) -> None:
    """The tombstone-delete body shared by both index kinds: one
    ``(id, seq)`` row per id at the stamped ``next_seq``, then the
    guarded seq bump."""
    ids = list(ids)
    bad = [i for i in ids if not isinstance(i, int) or isinstance(i, bool)]
    if bad:
        raise TypeError(
            f"{fn_name}: ids must be Python ints; got "
            f"{bad[:3]!r}{'…' if len(bad) > 3 else ''}"
        )
    p = _read_stamp(spark, table, prefix, keys)
    ids_df = local_df(
        spark, [(int(i),) for i in ids], f"{p['id_col']} bigint"
    )
    _append_tombstones(spark, table, p["id_col"], ids_df, p["next_seq"])
    _bump_next_seq(spark, table, prefix, p["next_seq"])


def delete_from_ivf_index(spark, table: str, ids: Sequence[int]) -> None:
    """Remove vectors from the index by id — a TOMBSTONE append, not a
    rewrite: ``(id, seq)`` rows land in the ``__tombstones`` companion
    and kill every posting row of those ids with an earlier ``seq``;
    :func:`compact_ivf_index` applies them physically.  Deleting an id
    that was never indexed is a no-op tombstone (idempotent, like a
    CDC delete for an unseen key).  Cost: one kilobyte-scale write +
    two metastore ops — the posting table is never scanned."""
    _delete(spark, table, ids, "delete_from_ivf_index", _P, _KEYS)


def upsert_to_ivf_index(df: DataFrame, table: str) -> None:
    """Replace-or-insert a vector batch (the re-crawled-document
    shape): tombstone the batch's ids, then append the batch's posting
    rows, BOTH at the same ``seq`` — prior versions die (seq <
    tombstone), the new rows survive their own tombstone (seq ==
    tombstone), and an id new to the index simply inserts.  Cells may
    move: the stale row in the old cell is killed by the tombstone at
    probe time (the liveness join is per-row, not per-cell), so a
    probe never serves the old vector even before compaction.

    Crash discipline: tombstones write FIRST, so a crash between the
    two appends leaves the batch's ids absent rather than stale — the
    prefer-missing bias of the dedup index; retrying the same batch
    (at the next seq) converges.  Both writes are distributed —
    nothing collects.  A NULL-vector row in the batch RAISES (r14
    advisor finding): the posting append drops NULL vectors, so
    tombstoning its id would silently delete instead of replace —
    use :func:`delete_from_ivf_index` to remove ids."""
    spark = df.sparkSession
    p = _read_stamp(spark, table)
    centroids = _load_centroids(spark, table)
    _upsert_tombstones(df, table, p, "upsert_to_ivf_index")
    _append_ivf(df, table, p, centroids)


def _check_query_dims(qvecs: dict[int, list[int]], dim: int,
                      fn_name: str) -> None:
    """Query-vector dimension guard AGAINST THE INDEX (r13 advisor
    finding): the driver-side probe-cell ranking and ADC tables zip()
    and silently truncate, and _dist2's zip_with null-pads, so a
    wrong-dimension query would yield wrong cells / biased distances
    instead of an error — the same condition write/append raise on
    per row."""
    wrong = {qi: len(v) for qi, v in qvecs.items() if len(v) != dim}
    if wrong:
        raise ValueError(
            f"{fn_name}: query vector dimension mismatch against "
            f"index dimension {dim}: "
            f"{dict(sorted(wrong.items())[:3])!r}"
            f"{'…' if len(wrong) > 3 else ''}"
        )


def ivf_probe_index(
    spark,
    table: str,
    query_ids: Sequence[int],
    k: int = 10,
    nprobe: int = 3,
    queries: DataFrame | None = None,
    max_queries: int = 1024,
    asof_seq: int | None = None,
) -> DataFrame:
    """Serve approximate top-k from STORED state — the production
    probe: centroids collect driver-side, each query's ``nprobe``
    nearest cells come from the same integer distances as
    ``ivf_topk_fixed``, and candidates are the bucket-pruned posting
    rows of the probed cells (a ``cell IN (...)`` scan of the bucketed
    table: no index-side Exchange; the only shuffle is the bounded
    candidate set into the per-query top-k window, which Catalyst
    prunes map-side via WindowGroupLimit).

    Returns ``(query_id, neighbour_id, score_d2, rank)`` — identical
    schema, scoring (exact fixed-point squared L2) and tie-breaks to
    ``ivf_topk_fixed``, so a probe over an index built on the same
    rows is hash-identical to the in-query path (driver-pinned).

    ``queries``: an optional bounded frame of raw ``(id_col,
    vec_col)`` rows for the probed ids — quantized with the stamped
    parameters, so values match the stored postings bit-exactly.
    Without it, query vectors are fetched from the id-keyed
    ``__vectors`` twin the write path maintains: a BUCKET-PRUNED
    ``id IN (...)`` scan (plan-pinned in pytest), tombstone/asof
    resolved like the postings — the id-keyed store that closes the
    r13 self-review finding (the old path scanned the cell-bucketed
    posting table unpruned).  Only a pre-twin index (format note)
    falls back to that documented unpruned scan.

    ``max_queries`` bounds the probe batch loudly (the
    ``pq_probe_index`` discipline): the per-posting-row scoring array
    is |Q| structs wide, so an unbounded batch is a plan-size blowup,
    not a bigger job — probe in bounded batches instead.  Tombstoned
    rows (:func:`delete_from_ivf_index` / :func:`upsert_to_ivf_index`)
    are resolved out with one broadcast join before any fetch or
    scoring, so a probe never serves a deleted or superseded vector.

    ``asof_seq`` pins the probe to a SNAPSHOT: only rows and
    tombstones written at ``seq <= asof_seq`` participate — the view
    a probe saw when ``next_seq`` was ``asof_seq + 1``, immutable
    under later churn (the dataset-versioning contract; see
    ``_snapshot``).  Run compaction only once no consumer needs
    asof reads below the applied tombstones."""
    query_ids = _check_query_ids(query_ids, "ivf_probe_index")
    _check_nprobe(nprobe, "ivf_probe_index")
    if len(query_ids) > max_queries:
        raise ValueError(
            f"ivf_probe_index: {len(query_ids)} query ids, over "
            f"max_queries={max_queries}; probe in bounded batches"
        )
    p = _read_stamp(spark, table)
    centroids = _load_centroids(spark, table)
    spark.catalog.refreshTable(table)
    post = _snapshot(spark, table, p["id_col"], asof_seq)
    id_col = p["id_col"]
    if queries is not None:
        # raw query vectors, quantized with the STAMPED params — the
        # same expression the postings were written with
        src_rows = queries.filter(
            F.col(p["vec_col"]).isNotNull()
        ).select(
            F.col(id_col),
            _quantize(p["vec_col"], p["scale"], p["offset"]).alias("q"),
        ).filter(F.col(id_col).isin(query_ids)).collect()
    elif spark.catalog.tableExists(_vectors_table(table)):
        # id-keyed __vectors twin: bucket-pruned id IN (...) fetch,
        # liveness/asof resolved against the shared tombstones
        src_rows = _twin_query_rows(
            spark, table, id_col, query_ids, asof_seq
        )
    else:
        # pre-twin index (format note): fetch from the postings by id
        # — one unpruned scan, the documented fallback
        src_rows = post.filter(F.col(id_col).isin(query_ids)).collect()
    qvecs = _query_vectors(
        src_rows, query_ids, id_col,
        "queries frame" if queries is not None else "index",
    )
    _check_query_dims(qvecs, len(centroids[0]), "ivf_probe_index")
    probes = {qi: _probe_cells(qv, centroids, nprobe)
              for qi, qv in qvecs.items()}
    all_cells = sorted({c for cells in probes.values() for c in cells})
    scored = _explode_scores(
        post.filter(F.col("cell").isin(all_cells)),  # bucket-pruned
        id_col, _ivf_scores(qvecs, probes, "cell", "q"),
    )
    return _topk_d2(scored, k)


def _churn_fold(tomb: DataFrame | None, id_col: str):
    """Compaction fold for a churned index table: tombstone
    resolution, then REDELIVERY dedup — physically identical rows that
    landed at different seqs (a retried append after a lost ack: the
    bump succeeded, the caller saw a failure and re-ran) collapse to
    the max seq (r14 advisor finding: a plain ``distinct`` no longer
    collapses them once rows carry a seq, and no tombstone ever kills
    the twin — both would stay live forever and consume top-k slots).
    Grouping on the content columns (every column but ``seq``)
    restores the pre-seq 'distinct full rows' guarantee; keeping the
    MAX seq preserves liveness (the surviving row still outlives every
    folded tombstone of its id)."""
    def fold(df: DataFrame) -> DataFrame:
        content = [c for c in df.columns if c != "seq"]
        return _resolve_live(df, tomb, id_col).groupBy(*content).agg(
            F.max("seq").alias("seq")
        )
    return fold


def _retire_tombstones(spark, table: str, cutoff: int) -> None:
    """Clear the folded tombstones WITHOUT destroying concurrent ones
    (r14 advisor finding: the old unconditional DROP lost any
    tombstone appended between the rewrite's read and the drop — a
    confirmed delete silently un-deleted).  Every tombstone folded
    into the rewrite was written at ``seq < cutoff`` (the stamp
    captured on compaction entry), so only rows at ``seq >= cutoff``
    — appended by a mutator RACING the compaction — survive the
    clear, kept by the store's compaction swap (the live companion
    stays until the filtered copy is in place).  Their presence then
    raises (quiet-window enforcement): the racing batch's DATA rows
    may or may not have been captured by the rewrite, so its ids are
    prefer-missing — re-run that mutation batch.  Deletes stay safe
    either way: a preserved tombstone that WAS already folded
    re-applies as a no-op (surviving rows have seq >= it)."""
    ttable = _tombstones_table(table)
    if not restore_swap(spark, ttable):
        return
    spark.catalog.refreshTable(ttable)
    racing = F.col("seq") >= F.lit(int(cutoff))
    n_left = spark.table(ttable).filter(racing).count()
    if not n_left:
        spark.sql(f"DROP TABLE IF EXISTS {ttable}")
        return
    compact_table(spark, ttable, lambda t: t.filter(racing))
    raise RuntimeError(
        f"compaction on {table}: {n_left} tombstone row(s) at "
        f"seq >= {cutoff} appeared DURING the rewrite — a concurrent "
        f"mutator violated the compaction quiet window (module "
        f"docstring).  Their tombstones were preserved (deletes remain "
        f"effective at probe time), but data rows that batch appended "
        f"may not have been captured by the rewrite (prefer-missing): "
        f"re-run the racing mutation batch"
    )


def _compact_index(spark, table: str, prefix: str, keys: dict
                   ) -> tuple[int, int]:
    """The compaction body shared by both index kinds: heal an
    interrupted swap of the table and of its tombstones before either
    is read, fold the main table (and the IVF ``__vectors`` twin)
    through the store's compaction swap with the ``prefix`` stamp
    carried, then retire the folded tombstones."""
    restore_swap(spark, table)
    restore_swap(spark, _tombstones_table(table))
    p = _read_stamp(spark, table, prefix, keys)
    id_col = p["id_col"]
    fold = _churn_fold(_tombstone_maxseq(spark, table, id_col), id_col)
    out = compact_table(spark, table, fold, prefix=prefix)
    vtable = _vectors_table(table)
    if restore_swap(spark, vtable):
        compact_table(spark, vtable, fold)
    _retire_tombstones(spark, table, p["next_seq"])
    return out


def compact_ivf_index(spark, table: str) -> tuple[int, int]:
    """Fold append-accreted posting files back to one per bucket via
    the store's compaction swap (:func:`gdp_etl_spark.io.compact_table`
    — self-healing renames, a live row-count tripwire, ``ivf.``
    parameter stamp carried across) — apply the accumulated tombstones
    PHYSICALLY (dead rows dropped from the rewrite, redelivered
    duplicates collapsed to their max seq — see :func:`_churn_fold`),
    compact the ``__vectors`` twin under the same fold, and clear the
    folded tombstones (concurrent ones are preserved and raise — see
    :func:`_retire_tombstones`).  Crash between the swap and the clear
    is safe: surviving rows all pass the liveness predicate (their seq
    >= their id's tombstone), so re-applying stale tombstones at probe
    time or in the next compaction is a no-op.  Run in a mutation
    quiet window (single-writer contract, module docstring).  Returns
    ``(files_before, files_after)`` for the ops ledger."""
    return _compact_index(spark, table, _P, _KEYS)


# ---------------------------------------------------------------------------
# persisted PQ index — the codes-only twin of the IVF lifecycle above:
# per-subspace codebooks are model state (m·k_codes·sub integers), the
# corpus compresses to m codes/vector (4 bytes at the defaults — the
# only representation 100 TB of embeddings fits a memory tier in), and
# probes are ADC lookup-table scans of the codes table.  Unlike IVF
# there is no pruning key — ADC's linear scan IS the design — so the
# table buckets on the id column purely for the append/compact file
# protocol (and bucket-pruned id lookups).  Everything but the model
# and its encoder is shared with IVF: the stamp writer/reader (``pq.``
# prefix, ``_PQ_KEYS`` spec), the delete body, the tombstone/snapshot
# machinery, and the quantize-plus-dim-guard; the encoder, ADC scores
# and top-k tail are the ``kmeans`` ones ``similarity.pq_topk`` uses.
# ---------------------------------------------------------------------------


def _pq_codebooks_table(table: str) -> str:
    return f"{table}__codebooks"


def _load_codebooks(spark, table: str, m: int) -> list[list[list[int]]]:
    rows = sorted(spark.table(_pq_codebooks_table(table)).collect(),
                  key=lambda r: (r["subspace"], r["code"]))
    books: list[list[list[int]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["c"]))
    if any(not b for b in books):
        raise ValueError(f"{_pq_codebooks_table(table)} is incomplete")
    return books


def _pq_codes(df: DataFrame, id_col: str, vec_col: str,
              books: list[list[list[int]]], sub: int, scale: float,
              offset: float, seq: int) -> DataFrame:
    """Encode one batch: m argmin codes per row against the literal
    codebooks (the shared :func:`kmeans._pq_encode`) over the guarded
    quantized frame — nested HOFs, whole-stage codegen, no shuffle
    before the bucketed write's own redistribution."""
    qdf = _quantized(df, id_col, vec_col, len(books) * sub, scale,
                     offset, seq, kind="pq")
    return qdf.selectExpr(
        _sql_ident(id_col), f"{_pq_encode('q', books, sub)} AS codes", "seq"
    )


def write_pq_index(
    df: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k_codes: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "pq",
    num_buckets: int = 8,
) -> None:
    """Build the PQ index: train the ``m`` per-subspace codebooks ONCE
    (the deterministic fixed-point Lloyd's of ``pq_topk``), store them
    in ``<table>__codebooks`` and the corpus' code vectors in
    ``table`` — the train/encode halves of ``pq_topk`` paid at build
    time instead of per query.  Same durability protocol as
    :func:`write_ivf_index`: tmp-then-rename, stamped, codebooks live
    first, codes table last (the liveness marker); an orphaned
    codebooks table from a crash inside the rename window is reclaimed
    on retry."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    _check_id_col(df, id_col, "write_pq_index")
    spark = df.sparkSession
    ctable = _pq_codebooks_table(table)
    _reclaim_orphans(spark, table, (ctable, _tombstones_table(table)))
    sub = dim // m
    # fused trainer: one persisted frame + one action per Lloyd's step
    # for ALL m subspaces (vs m persists and m·(n_iter+1) actions =
    # m·(n_iter+1) corpus passes) — bit-identical per-subspace books
    # (tests/test_kmeans_mix.py pins the equivalence)
    books = train_pq_codebooks(
        df, id_col, vec_col, m=m, sub=sub, k=k_codes, n_iter=n_iter,
        scale=scale, offset=offset, seed=seed,
    )
    if any(not b for b in books):
        raise ValueError("empty corpus")
    params = {
        "m": m, "k_codes": k_codes, "n_iter": n_iter,
        "scale": repr(float(scale)), "offset": repr(float(offset)),
        "seed": seed, "id_col": id_col, "vec_col": vec_col, "dim": dim,
        "next_seq": 1,
    }
    create_table(local_df(
        spark,
        [(s, i, c) for s, book in enumerate(books)
         for i, c in enumerate(book)],
        "subspace int, code int, c array<bigint>",
    ), ctable)
    create_table(
        _pq_codes(df, id_col, vec_col, books, sub, scale, offset, seq=0),
        table, [id_col], num_buckets, [id_col],
        stamp={_PQ + k: v for k, v in params.items()},
    )


def _append_pq(df: DataFrame, table: str, p: dict,
               books: list[list[list[int]]]) -> None:
    """The PQ append body, at the stamped ``next_seq``: encode with the
    stored codebooks, append the codes, bump the seq."""
    append_table(
        _pq_codes(df, p["id_col"], p["vec_col"], books, p["dim"] // p["m"],
                  p["scale"], p["offset"], seq=p["next_seq"]),
        table,
    )
    _bump_next_seq(df.sparkSession, table, _PQ, p["next_seq"])


def append_to_pq_index(df: DataFrame, table: str) -> None:
    """Encode a NEW vector batch with the STORED codebooks (no
    retrain, one map-only pass over the increment) and append with
    the bucket spec preserved."""
    spark = df.sparkSession
    p = _read_stamp(spark, table, _PQ, _PQ_KEYS)
    _append_pq(df, table, p, _load_codebooks(spark, table, p["m"]))


def delete_from_pq_index(spark, table: str, ids: Sequence[int]) -> None:
    """Tombstone-delete code rows by id — :func:`delete_from_ivf_index`
    applied to the codes table; :func:`compact_pq_index` applies the
    tombstones physically."""
    _delete(spark, table, ids, "delete_from_pq_index", _PQ, _PQ_KEYS)


def upsert_to_pq_index(df: DataFrame, table: str) -> None:
    """Replace-or-insert a vector batch in the codes table —
    tombstone-then-append at one ``seq``, encoded with the STORED
    codebooks; same crash discipline (tombstones first, prefer-missing)
    and NULL-vector raise as :func:`upsert_to_ivf_index`."""
    spark = df.sparkSession
    p = _read_stamp(spark, table, _PQ, _PQ_KEYS)
    books = _load_codebooks(spark, table, p["m"])
    _upsert_tombstones(df, table, p, "upsert_to_pq_index")
    _append_pq(df, table, p, books)


def pq_probe_index(
    spark,
    queries: DataFrame,
    table: str,
    k: int = 10,
    max_queries: int = 1024,
    asof_seq: int | None = None,
) -> DataFrame:
    """ADC top-k from STORED state: ``queries`` is a bounded frame of
    ``(id_col, vec_col)`` rows (raw vectors — the PQ index stores
    CODES only, 4 bytes/vector at the defaults; queries arrive as
    vectors, the asymmetric in ADC).  The |Q|·m·k_codes lookup tables
    are exact Python ints built from the stored codebooks driver-side;
    each code row's approximate distance is m array lookups — map-only
    scan of the codes table, per-query top-k WindowGroupLimit-pruned.
    ``max_queries`` bounds the driver collect loudly."""
    p = _read_stamp(spark, table, _PQ, _PQ_KEYS)
    books = _load_codebooks(spark, table, p["m"])
    id_col, vec_col = p["id_col"], p["vec_col"]
    qrows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            _quantize(vec_col, p["scale"], p["offset"]).alias("q"),
        )
        .limit(int(max_queries) + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_probe_index: more than max_queries={max_queries} "
            f"query rows; probe in bounded batches"
        )
    ids = _check_query_ids([r[id_col] for r in qrows], "pq_probe_index")
    qvecs = _query_vectors(qrows, ids, id_col, "queries frame")
    _check_query_dims(qvecs, p["dim"], "pq_probe_index")
    spark.catalog.refreshTable(table)
    scored = _explode_scores(
        _snapshot(spark, table, id_col, asof_seq), id_col,
        _adc_scores(qvecs, books, p["dim"] // p["m"], "codes"),
    )
    return _topk_d2(scored, k)


def compact_pq_index(spark, table: str) -> tuple[int, int]:
    """Fold append-accreted code files back to one per bucket via the
    store's compaction swap (``pq.`` stamp carried) — the
    :func:`compact_ivf_index` churn fold on the codes table: dead rows
    dropped, redelivered duplicates collapsed on ``(id, codes)`` to
    their max seq, folded tombstones cleared with concurrent ones
    preserved (loud).  Run in a mutation quiet window."""
    return _compact_index(spark, table, _PQ, _PQ_KEYS)
