"""Structured Streaming equivalents for the events table.

The reference is batch-only (SURVEY.md §2.10), so this module is the
beyond-reference streaming surface: the same windowed aggregations the
batch queries run (``gdp_etl_spark.queries.events.q_events_tumbling``
/ ``q_events_sessions``), expressed as incremental streams with
watermarked state so they run unbounded at cluster scale.

Batch/stream parity is the design invariant — the tests replay the
driver's events parquet through the file-stream source with an
``availableNow`` trigger and assert the streaming results equal the
batch ones.
"""

from .dedup import dedup_within_watermark, enrich_with_static
from .ingest import (
    incremental_file_ingest,
    run_dedup_ingest,
    run_near_dup_ingest,
)
from .join import attribute_purchases, attribute_purchases_outer
from .stateful import event_type_counts, running_user_stats
from .windows import (
    session_window_stats,
    stream_events,
    run_available_now_to_memory,
    tumbling_counts,
)

__all__ = [
    "attribute_purchases",
    "incremental_file_ingest",
    "run_dedup_ingest",
    "run_near_dup_ingest",
    "attribute_purchases_outer",
    "dedup_within_watermark",
    "enrich_with_static",
    "event_type_counts",
    "running_user_stats",
    "session_window_stats",
    "stream_events",
    "run_available_now_to_memory",
    "tumbling_counts",
]
