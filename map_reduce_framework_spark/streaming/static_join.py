"""Stream-static broadcast enrichment join.

The third classic streaming join shape (alongside the stream-stream
interval join and stateful sessionization already in this package): a
live event stream enriched against a batch-derived dimension table.  The
static side — a per-user profile (first-seen day) — is computed once
with the batch API and explicitly broadcast, so each micro-batch does a
map-side hash join: the stream never shuffles for the join, which is the
100 TB shape (the dimension ships to executors; the firehose stays put).

The drain (:mod:`.feeds`) takes the backlog once, making the demo
deterministic: its result must equal the batch twin
:func:`..operators.relational_ext.events_user_enrichment` exactly
(asserted in ``tests/test_streaming.py``).  No watermark is needed — the
join side is static and the aggregation runs in complete mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events ⋈ broadcast(per-user profile) → counts per
    (event_type, first-seen day)."""
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("first_day"))
    )
    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events"))
    return (
        stream.join(F.broadcast(profile), "user_id")
        .groupBy("event_type", "first_day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def run_static_join_demo(
    spark: SparkSession, sf_dir: str, table: str = "static_join_demo"
) -> DataFrame:
    """Drain the stream; return the in-memory result."""
    agg = streaming_enriched_counts(spark, sf_dir)
    return drain_to_memory(agg, table, "complete")
