"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 (plus the beyond-reference
LLM-data-pipeline set) is a named query over the driver's parquet
tables with a DuckDB-runnable ANSI-SQL oracle.  Each builder sits beside
its oracle in a family module under ``gdp_etl_spark/queries/``; this
file imports the families and fixes the order the driver sees.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# perfbench/layers.py traces table loads by wrapping ``_t``
from gdp_etl_spark.io import load_table as _t  # noqa: F401
from gdp_etl_spark.queries import (  # noqa: F401  (importing registers)
    REGISTRY, analytics, crawl, curation, dedup, events, formats,
    gdp_release, profiling, relational, sketches, text, tpch,
    training_data, vectors,
)
from gdp_etl_spark.queries.relational import q_flagship_revenue

#: The driver's correctness gate verifies the FIRST 50 names of
#: ``queries()`` each round, so this window is computed, not
#: hand-picked: ``python tools/window_staleness.py`` reads every
#: CORRECTNESS_r*.json ledger and prints the next window as a tuple to
#: paste here.  It ranks (1) queries whose code, fixture or oracle
#: changed this round, (2) queries with no driver row in any round,
#: (3) everything else stalest-first (last-green round ascending, name
#: tie-break).  The round-15 window: the nine queries whose code,
#: fixture or oracle moved (the four _churn_fixture consumers, the two
#: semantic-dedup index paths, crawl_schedule, ivf_index and pq_index),
#: the whole 19-query last-green-r9 bucket (pack_sequences …
#: variant_extract), then the first 22 of the last-green-r10 bucket
#: (ab_test … multimodal_features).  Every query outside the window
#: keeps the same local oracle check (``tools/check_correctness.py``).
DRIVER_WINDOW = (
    "index_stats", "ivf_asof", "ivf_upsert", "pq_upsert",
    "semantic_dedup_indexed", "semantic_dedup_increment", "crawl_schedule",
    "ivf_index", "pq_index",
    "pack_sequences", "pii_redact", "profile_table", "range_join",
    "recursive_cte", "repetition_stats", "resample_locf", "returned_revenue",
    "rolling_corr", "scalar_share", "scd2", "scd2_lookup",
    "shipping_priority", "source_overlap", "sql_udf", "stratified_split",
    "table_checksum", "trade_volume", "variant_extract",
    "ab_test", "batch_screen", "calendar_dim", "category_drift", "cdc_apply",
    "closure_leaves", "compute_project", "conditional_agg", "content_hash",
    "datetime_funcs", "decontam_screen", "decontam_scrub", "diff_classify",
    "distinct_values", "drift_psi", "drop_na", "dsir_weights",
    "epoch_shuffle", "ivf_topk", "market_share", "min_cost_supplier",
    "multimodal_features",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: the driver window first, then the rest
    by name."""
    rest = sorted(set(REGISTRY) - set(DRIVER_WINDOW))
    return {name: REGISTRY[name][0] for name in (*DRIVER_WINDOW, *rest)}


def oracle_sql() -> dict[str, str]:
    """Each query's DuckDB oracle, in ``queries()`` order."""
    return {name: REGISTRY[name][1] for name in queries()}
