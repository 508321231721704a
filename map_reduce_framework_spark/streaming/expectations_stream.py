"""Streaming data-quality monitor: the live twin of the batch
:func:`..operators.audit.expectations_audit` row-check family.

A continuously-fed pipeline doesn't re-audit the corpus per batch — it
keeps RUNNING violation counters over the feed and alerts on deltas.
This module applies the same conditional-sum row checks as the batch
audit to a streaming events source: per event_type, the running count
of range/NOT-NULL/domain violations, in complete output mode (state
bounded by event-type cardinality, a handful of rows at any corpus
size).

The pipeline builder (:func:`violation_profile`) is SHARED between the
batch and streaming paths — stream-equals-batch is asserted on
literally the same code, only the source differs (the repo's standard
twin pattern, e.g. scoring_stream/events_stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audit import EVENT_TYPE_DOMAIN
from ..sources import load_table
from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def violation_profile(events: DataFrame) -> DataFrame:
    """Per-event-type running violation counters; identical semantics on
    a batch or streaming events DataFrame."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value").isNull() | (F.col("value") <= 0.0)).cast(
                    "long"
                )
            ).alias("value_nonpositive"),
            F.sum(F.col("user_id").isNull().cast("long")).alias("user_null"),
            F.sum(F.col("ts").isNull().cast("long")).alias("ts_null"),
            F.sum(
                (~F.col("event_type").isin(*EVENT_TYPE_DOMAIN)).cast("long")
            ).alias("type_outside_domain"),
        )
    )


def batch_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch reference for the equality test."""
    return violation_profile(load_table(spark, sf_dir, "events"))


def run_expectations_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "expectations_stream_demo"
) -> DataFrame:
    """Drain the events feed; return the live violation counters."""
    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events"))
    return drain_to_memory(violation_profile(stream), table, "complete")
