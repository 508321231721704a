"""Streaming session windows: the same `F.session_window` groupBy as
the batch `relational_ext.session_window_agg`, executed as a
watermarked stream.

Session windows are the canonical *stateful merging* window: state per
(user, open-session) merges as events arrive and is emitted once the
watermark passes the session's close (start of the next gap).  State is
bounded by (open sessions in the watermark horizon) — the only
formulation that survives an unbounded stream.  A complete-mode
drain of the backlog makes the demo deterministic: output must equal the
batch twin exactly (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import rnd
from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def streaming_session_windows(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    from ..operators.relational_ext import SESSION_GAP_MINUTES

    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_session_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "session_stream_demo"
) -> DataFrame:
    stream = streaming_session_windows(spark, sf_dir)
    return drain_to_memory(stream, table, "complete")
