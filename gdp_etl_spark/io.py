"""Table loading and sink helpers.

``load_table`` is the single entry point every query uses to read a
testdata table.  It reads with the schema declared in
``schemas.TESTDATA_SCHEMAS``, so no read infers types (or pays
inference's schema job), and partition-level tuning (e.g.
``maxPartitionBytes``) has one place to live.

The persisted-table store (``create_table``, ``append_table``,
``write_stamp``/``read_stamp``, ``compact_table``) is the one write
protocol of the engine's serving state — the dedup, MinHash, IVF/PQ
and sketch tables: tmp-then-rename creates, catalog-spec appends,
``prefix.key`` property stamps and a self-healing rename-swap
compaction.

Sinks mirror the reference's two CSV exports (SURVEY.md §2.1 S6/S7):
single-file CSV is a *deliverable* semantic of the reference, so
``write_single_csv`` coalesces to 1 — documented as a deliberate
anti-scale choice.  ``write_partitioned_parquet`` is the scale path.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its declared schema.

    A declared read launches no schema job; column pruning + predicate
    pushdown still happen at the scan.  An undeclared ``name`` raises
    ``KeyError``."""
    if name == "events":
        return load_events(spark, sf_dir)
    schema = TESTDATA_SCHEMAS[name]
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name in ("documents", "embeddings"):
        # these ship as one single-row-group file → 1 input split → the
        # expensive per-row work (shingling, hashing, vector math) runs
        # single-threaded.  Spread it across the cluster once up front;
        # at real scale the tables arrive as many files and this is a
        # no-op decision made by the writer, not the reader.
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def events_schema(spark: SparkSession, sf_dir: str) -> str:
    """The declared events schema with ``ts`` as this sf_dir encodes it.

    Driver testdata has shipped ``ts`` two ways: TIMESTAMP(NANOS) (which
    Spark's reader rejects unless ``nanosAsLong`` maps it to bigint) and
    plain TIMESTAMP(MICROS) (read natively as timestamp_ntz).  A footer
    probe tells which; it is the one testdata read that infers, and so
    the one load that launches a job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    schema = TESTDATA_SCHEMAS["events"]
    if dict(probe.dtypes)["ts"] == "bigint":
        schema = schema.replace("ts timestamp_ntz", "ts bigint")
    return schema


def normalize_events_ts(raw: DataFrame) -> DataFrame:
    """``ts`` as a µs TIMESTAMP, whichever encoding :func:`events_schema`
    found.  ``ns div 1000`` is exact integer truncation, matching DuckDB
    bit-for-bit (a double division would corrupt: epoch-nanos ≈ 1.7e18
    ≫ 2^53)."""
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # native TIMESTAMP(MICROS) arrives as timestamp_ntz; normalize to
    # TIMESTAMP (LTZ) so watermarks/windows accept it.  Session tz is
    # UTC, so the cast is value-preserving and oracle-neutral.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table with a normalized µs ``ts`` timestamp,
    whatever the file's physical encoding."""
    schema = events_schema(spark, sf_dir)
    raw = spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_events_ts(raw)


def write_single_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """Single-file CSV sink — matches the reference's deliverable format
    (reference ``gpd_etl_pipeline.R:520-523``).  ``coalesce(1)`` serializes
    the final write; fine for report-sized outputs, never for bulk data —
    use :func:`write_partitioned_parquet` for anything large.
    """
    df.coalesce(1).write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Scale-path sink: parquet, optionally hive-partitioned so downstream
    scans get partition pruning (e.g. partition the GDP fact by Variable)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Co-location path for repeated big-big joins: bucket both sides of
    a hot join key once at write time and every subsequent equi-join on
    that key is shuffle-free (SortMergeJoin with no Exchange — the
    single biggest lever for a fact⋈fact join repeated across a 100-TB
    pipeline).  Requires a saveAsTable target (buckets are metastore
    metadata, not plain-directory layout).  Replaces any table under
    the name: drop, then :func:`create_table`."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    create_table(df, table, bucket_by, num_buckets, sort_by)


# ---------------------------------------------------------------------------
# Persisted-table store: the one create / append / stamp / compaction-swap
# protocol of the engine's serving state (dedup and MinHash indexes, IVF/PQ
# indexes and their companions, NDV and histogram sketches).  Each kind
# keeps only its own stamp keys, fold and error messages.
# ---------------------------------------------------------------------------


def _save(df: DataFrame, table: str, mode: str, spec=None) -> None:
    """Write ``df`` as a parquet table; ``spec`` is ``(num_buckets,
    bucket_cols, sort_cols)`` or None for an unbucketed table."""
    writer = df.write.mode(mode).format("parquet")
    if spec:
        n, cols, sort = spec
        writer = writer.bucketBy(n, *cols)
        if sort:
            writer = writer.sortBy(*sort)
    writer.saveAsTable(table)


def _quoted_names(text: str) -> list[str]:
    """``[`a`, `b``c`]`` (the catalog's quoted column list) → names."""
    return [m.replace("``", "`") for m in re.findall(r"`((?:[^`]|``)*)`", text)]


def _bucket_spec(spark: SparkSession, table: str):
    """``(num_buckets, bucket_cols, sort_cols)`` of a live table, read
    from the catalog so appends and compactions can never
    desynchronize from the table's actual layout; None when the table
    is not bucketed."""
    meta = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    if "Num Buckets" not in meta:
        return None
    return (
        int(meta["Num Buckets"]),
        _quoted_names(meta["Bucket Columns"]),
        _quoted_names(meta.get("Sort Columns", "")),
    )


def write_stamp(spark: SparkSession, table: str, props: dict) -> None:
    """Set ``props`` (full ``prefix.key`` names) as table properties.
    Keys and values are escaped, so a hostile value is a stored
    string, not a syntax error or a silently altered one."""
    def lit(v) -> str:
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    kv = ", ".join(f"{lit(k)} = {lit(v)}" for k, v in sorted(props.items()))
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def read_stamp(spark: SparkSession, table: str, prefix: str) -> dict[str, str]:
    """The table properties whose key starts with ``prefix`` (full
    key → string value); engine-managed properties are never read."""
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if r["key"].startswith(prefix)
    }


def create_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str] | None = None,
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    stamp: dict | None = None,
) -> None:
    """Create ``table`` from ``df`` — bucketed (and sorted) when
    ``bucket_by`` is given, stamped with ``stamp`` — through a tmp
    name: ``<table>__new`` is written and stamped, then renamed into
    place.  A crash at any point leaves either no live table or a
    complete, stamped one, never a live table without its stamp, and
    a leftover tmp never blocks a retry.  Raises when ``table``
    already exists: replacing a table is the caller's explicit drop."""
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        raise ValueError(f"table {table} already exists")
    tmp = f"{table}__new"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spec = (num_buckets, bucket_by, sort_by) if bucket_by else None
    _save(df, tmp, "overwrite", spec)
    if stamp:
        write_stamp(spark, tmp, stamp)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


def append_table(df: DataFrame, table: str) -> None:
    """Append ``df`` to a bucketed table with the live bucket spec,
    then drop the catalog's cached file listing.  The refresh matters:
    an append from a streaming ``foreachBatch`` runs in a CLONED
    session, and the outer session's relation cache would otherwise
    keep serving the pre-append file set (observed live).  Raises for
    a non-bucketed table — appending unbucketed data would silently
    break every shuffle-free probe plan."""
    spark = df.sparkSession
    spec = _bucket_spec(spark, table)
    if spec is None:
        raise ValueError(
            f"{table} is not a bucketed table — the index write/append "
            "cycle requires the bucketed spec (write_*_index creates it)"
        )
    _save(df, table, "append", spec)
    spark.catalog.refreshTable(table)


def restore_swap(spark: SparkSession, table: str) -> bool:
    """Heal a compaction that crashed between its two renames (live
    name missing, ``<table>__old`` present) by renaming ``__old`` back.
    Returns whether the live table exists afterwards.  Callers that
    read a table's stamp before compacting it call this first."""
    if spark.catalog.tableExists(table):
        return True
    if not spark.catalog.tableExists(f"{table}__old"):
        return False
    spark.sql(f"ALTER TABLE {table}__old RENAME TO {table}")
    return True


def compact_table(
    spark: SparkSession, table: str, fold, prefix: str | None = None
) -> tuple[int, int]:
    """Rewrite ``table`` as ``fold(live frame)`` and swap it in under
    the same name.  Steps, in order:

    1. restore an interrupted swap (:func:`restore_swap`);
    2. write the fold under ``<table>__compacting`` with the live
       bucket spec (read from the catalog);
    3. stamp the tmp table with the live ``prefix`` properties — the
       rewrite is a NEW metastore entry and would otherwise drop them
       (an allowlist: engine-managed stats are never carried);
    4. re-check the live row count: rows appended by another writer
       while the fold ran would be lost with ``__old``, so a change
       raises ``RuntimeError`` and drops the tmp table;
    5. rename live → ``__old`` and tmp → live, renaming ``__old`` back
       if the second rename fails;
    6. drop ``__old``.

    Each rename is atomic, but a reader can land between them, so
    compaction runs in a quiet window with a single writer.  Returns
    ``(files_before, files_after)``."""
    tmp, old = f"{table}__compacting", f"{table}__old"
    if not restore_swap(spark, table):
        raise ValueError(f"{table} does not exist (and no {old} to restore)")
    spark.catalog.refreshTable(table)
    spec = _bucket_spec(spark, table)
    stamp = read_stamp(spark, table, prefix) if prefix else {}
    files_before = len(spark.table(table).inputFiles())
    n_at_scan = spark.table(table).count()
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _save(fold(spark.table(table)), tmp, "overwrite", spec)
    if stamp:
        write_stamp(spark, tmp, stamp)
    spark.catalog.refreshTable(table)
    n_now = spark.table(table).count()
    if n_now != n_at_scan:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        raise RuntimeError(
            f"compaction: {table} changed during compaction "
            f"({n_at_scan} -> {n_now} rows) — a concurrent append "
            f"would have been lost; retry when the writer is quiesced"
        )
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    try:
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    except Exception:
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
        raise
    spark.sql(f"DROP TABLE {old}")
    spark.catalog.refreshTable(table)
    return files_before, len(spark.table(table).inputFiles())


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb`` — the table-maintenance job every long-running
    ingest needs (streaming sinks and incremental merges accrete small
    files; scans then pay per-file open cost and lose row-group
    locality).

    File count comes from the CURRENT on-disk byte size (cheap driver
    listing, no data scan); ``sort_within_by`` optionally sorts within
    partitions during the rewrite so min/max row-group stats become
    selective (poor man's clustering).  Writes to a temp sibling then
    swaps, so a failed rewrite never loses the original.  Returns
    (files_before, files_after).
    """
    import shutil

    src = Path(path)
    part_files = [p for p in src.rglob("*.parquet") if p.is_file()]
    total_bytes = sum(p.stat().st_size for p in part_files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    tmp = str(src.with_name(src.name + "__compact_tmp"))
    out.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    after = len([p for p in Path(path).rglob("*.parquet") if p.is_file()])
    return len(part_files), after


def zorder_key(x, y, bits: int = 10):
    """Interleave-bit (Morton / Z-order) key of two bounded ints —
    sort-cluster a table by this before writing and range predicates on
    EITHER column become selective against parquet min/max row-group
    stats (single-column sort only helps one column; Z-order preserves
    locality in both).

    Pure JVM bit arithmetic (shiftleft/or inside codegen); inputs must
    already be reduced to ``[0, 2^bits)`` (mod or bucketize first).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    key = F.lit(0).cast("long")
    for b in range(bits):
        xbit = F.shiftright(xc.cast("long"), b).bitwiseAND(F.lit(1))
        ybit = F.shiftright(yc.cast("long"), b).bitwiseAND(F.lit(1))
        key = (
            key
            .bitwiseOR(F.shiftleft(xbit, 2 * b))
            .bitwiseOR(F.shiftleft(ybit, 2 * b + 1))
        )
    return key
