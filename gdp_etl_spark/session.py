"""SparkSession factory with scale-aware defaults.

The engine targets a 1000-executor cluster reading ~100 TB; tests run on
``local[*]``.  The defaults below are the ones that matter at both ends:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts.
* Arrow on — every Pandas-UDF / ``toPandas`` boundary is batched, never
  row-at-a-time pickled.
* Explicit shuffle-partition default sized for the local test rig; on a
  real cluster AQE's coalescing makes the initial number a ceiling, not a
  constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
#: the directory holding this package — Python workers import it by name
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "gdp_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count; with AQE
    enabled this is an upper bound that adaptive coalescing shrinks per
    stage, so the same code runs unchanged on a large cluster where the
    submitter sets a larger ceiling.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_LOCAL_CPUS}]")
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow for every Python<->JVM data exchange -------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic, ANSI-off numeric semantics (match reference) --
        .config("spark.sql.ansi.enabled", "false")
        # --- pinned UTC session zone ---------------------------------------
        # The MICROS/NTZ timestamp paths (io.load_events,
        # streaming.stream_events) cast timestamp_ntz -> TIMESTAMP relying
        # on a UTC session zone; pin it (plus the JVM default) so the
        # assumption holds on any host instead of only UTC ones, and
        # unix_micros / dayofmonth / window bucketing stay aligned with
        # oracles that read naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # --- sane local-mode memory behaviour ------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle()))
        .config("spark.driver.maxResultSize", "2g")
        # local mode runs driver+executors in ONE JVM whose heap defaults
        # to 1g — measured GCLocker allocation stalls (and one outright
        # bench abort) under broadcast exchanges at sf0.1/local[32].
        # 8g is still tiny next to the 128 GiB host; on a real cluster
        # the submitter's --driver-memory/--executor-memory win because
        # this only applies when the builder launches the JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # --- Python workers import this package by name ------------------
        # Without this they find it only through the driver's cwd, so a
        # driver started outside the repo root fails every UDF /
        # mapInArrow fn that imports gdp_etl_spark (ModuleNotFoundError).
        # Spark merges this with any PYTHONPATH the host already sets.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # keep UI off in tests/bench (startup cost, port clashes)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_shuffle() -> int:
    cpus = _LOCAL_CPUS
    if cpus in ("*", ""):
        return max(os.cpu_count() or 8, 8)
    try:
        return max(int(cpus), 4)
    except ValueError:
        return 32


def local_df(spark: SparkSession, rows, schema):
    """Small driver-side row list → DataFrame via the Arrow/pandas path.

    ``spark.createDataFrame(list)`` pickles rows into a parallelized RDD
    and deserializes them through executor Python workers —
    ~12 s first-use / ~1.3 s steady-state on local[32] for an 80-row
    list (measured).  The pandas conversion ships one Arrow batch to the
    JVM as a LocalRelation instead (~0.1 s, no executor involvement),
    which is the right physical shape for dimension-sized literals:
    downstream joins see a broadcastable local relation.  Falls back to
    the plain path if pandas is unavailable."""
    try:
        import pandas as pd

        names = None
        if isinstance(schema, str):
            # strip DDL backtick-quoting: "`2013` double" names the
            # column 2013, not `2013`
            names = [f.split()[0].strip("`") for f in schema.split(",")]
        else:  # StructType
            names = list(schema.names)
        pdf = pd.DataFrame(list(rows), columns=names)
        return spark.createDataFrame(pdf, schema=schema)
    except ImportError:  # pragma: no cover - pandas is a hard dep in practice
        return spark.createDataFrame(list(rows), schema=schema)
