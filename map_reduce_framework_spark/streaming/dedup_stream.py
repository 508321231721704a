"""Streaming ingestion dedup: ``dropDuplicatesWithinWatermark``.

The training-data pipeline's streaming twin of exact dedup: an ingest
stream that may deliver the same record more than once (at-least-once
sources, replayed files, duplicated Kafka offsets) is reduced to
exactly-once by keying on the record id within a watermark horizon —
state is bounded by (id-rate × watermark window), the only formulation
that survives an unbounded 100 TB/day stream (a plain
``dropDuplicates`` would keep ALL ids forever).

The demo feeds the events table TWICE (two links to the same parquet in
the stream directory ⇒ every event id arrives exactly twice) and drains
the backlog; the result must equal the batch ``SELECT DISTINCT`` —
tested in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def streaming_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "24 hours"
) -> DataFrame:
    """Watermarked exactly-once dedup of the doubled event feed.

    The watermark must cover the maximum redelivery lag (here: both
    copies arrive in the same backlog, so any horizon works; on a real
    at-least-once source it is the redelivery SLA + disorder bound).
    """
    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events", 2))
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_streaming_dedup_demo(
    spark: SparkSession, sf_dir: str, table: str = "dedup_stream_demo"
) -> DataFrame:
    """Drain the doubled feed; return the deduped rows from the memory
    sink."""
    return drain_to_memory(streaming_dedup(spark, sf_dir), table, "append")
