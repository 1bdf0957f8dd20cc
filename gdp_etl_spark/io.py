"""Table loading and sink helpers.

``load_table`` is the single entry point every query uses to read a
testdata table.  It reads with the schema declared in
``schemas.TESTDATA_SCHEMAS``, so no read infers types (or pays
inference's schema job), and partition-level tuning (e.g.
``maxPartitionBytes``) has one place to live.

Sinks mirror the reference's two CSV exports (SURVEY.md §2.1 S6/S7):
single-file CSV is a *deliverable* semantic of the reference, so
``write_single_csv`` coalesces to 1 — documented as a deliberate
anti-scale choice.  ``write_partitioned_parquet`` is the scale path.
"""

from __future__ import annotations

import os
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
    metadata, not plain-directory layout)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


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
