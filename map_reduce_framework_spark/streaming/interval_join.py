"""Stream-stream interval join demo (Structured Streaming).

The batch twin is ``operators.relational_ext.events_interval_join`` —
(purchase, click) pairs where the same user's click precedes the purchase
by at most 6 hours.  Here BOTH sides are streams:

- each side gets a watermark (state-cleanup bound for late data),
- the join condition carries the event-time range, so Spark can expire
  buffered click state once the purchase-side watermark passes
  ``click.ts + 6h`` — bounded state, the core requirement for an
  unbounded 100 TB/day stream join,
- the drain (:mod:`.feeds`) takes the backlog once, making the demo
  deterministic: its output must equal the batch join exactly (tested in
  tests/test_streaming.py).

The reference is strictly batch (SURVEY §2.4 streaming row: none) — this
is beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def _typed_stream(
    spark: SparkSession,
    sf_dir: str,
    event_type: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    return events_stream_source(
        spark,
        stream_dir or linked_stream_dir(sf_dir, "events"),
        max_files_per_trigger=max_files_per_trigger,
    ).where(F.col("event_type") == event_type)


def streaming_interval_join(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build the watermarked purchase⋈click stream-stream join.

    Watermark sizing: the join predicate needs clicks up to 6 hours older
    than a purchase, so the click side's watermark must cover that range
    PLUS expected cross-stream disorder — otherwise a multi-batch source
    (real Kafka, or a multi-file drop) could expire click state / drop
    late clicks that a purchase still needs, and the "equals the batch
    join" contract would silently break.  7 hours = 6 h join range + 1 h
    disorder allowance.  The purchase side only needs the disorder bound
    (1 h): no click ever waits for an *older* purchase.
    """
    p = (
        _typed_stream(spark, sf_dir, "purchase", stream_dir, max_files_per_trigger)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        _typed_stream(spark, sf_dir, "click", stream_dir, max_files_per_trigger)
        .withWatermark("ts", "7 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id", "p_ts", "c_ts")


def run_interval_join_demo(
    spark: SparkSession,
    sf_dir: str,
    table: str = "interval_join_demo",
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the stream join; return the memory-sink table as a batch
    DataFrame."""
    joined = streaming_interval_join(spark, sf_dir, stream_dir, max_files_per_trigger)
    return drain_to_memory(joined, table, "append")
