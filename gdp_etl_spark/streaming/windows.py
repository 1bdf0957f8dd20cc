"""Streaming window operators (tumbling + session), file-source replay.

Scale notes:

* Watermarks bound the state store: a ``delay`` watermark drops state
  for windows older than max(event time) − delay, so memory is
  O(active windows), not O(history).
* ``session_window`` is Spark's native gap-based session operator —
  the streaming twin of ``operators.sessions.sessionize`` (same gap
  rule; the batch form exists because lag/running-sum is cheaper when
  the data is already at rest).
* ``availableNow`` processes the backlog incrementally then stops —
  the batch-replay trigger used for parity tests and backfills.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import events_schema, normalize_events_ts


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream the driver's events parquet with a normalized µs
    ``ts`` timestamp (same semantics as the batch ``io.load_events``).

    A file stream must declare its schema up front; ``io.events_schema``
    probes the parquet footer (no data scan) to learn which ``ts``
    encoding this sf_dir uses."""
    # the file-stream source wants a directory; select the events file
    # out of the shared sf_dir with a glob filter
    raw = (
        spark.readStream.schema(events_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming
    form of ``q_events_tumbling``.  Late rows beyond ``watermark`` are
    dropped and their window state evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native gap-based session windows per user — the streaming twin of
    ``operators.sessions.session_stats``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_available_now_to_memory(
    stream_df: DataFrame, name: str, timeout_sec: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Replay the whole backlog (``availableNow``) into an in-memory
    table and return it as a batch DataFrame — the parity-test harness.
    Aggregations run in ``complete`` mode so the final state is the full
    result; stream-stream joins must pass ``output_mode="append"``
    (complete mode is not defined for non-aggregating queries)."""
    checkpoint = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.table(name)
