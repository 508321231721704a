"""Streaming distribution-drift monitor: the live twin of the batch
:func:`..operators.audit.distribution_drift`.

A continuously-fed pipeline watches value-distribution drift AS THE
FEED ARRIVES: the per-bucket (baseline, batch) counters run as a
complete-mode streaming aggregate — state is exactly ``DRIFT_BUCKETS``
rows at any corpus size — and the divergence table derives from the
drained counters with the SAME share/TVD/chi-square arithmetic as the
batch operator (both halves are literally shared builders:
``drift_bucket_counts`` runs inside the stream, ``drift_from_counts``
over its output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.audit import drift_bucket_counts, drift_from_counts
from .events_stream import events_stream_source
from .feeds import drain_to_memory, linked_stream_dir


def run_drift_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "drift_stream_demo"
) -> DataFrame:
    """Drain the events feed; return the drift table computed from the
    live counters."""
    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events"))
    return drift_from_counts(
        drain_to_memory(drift_bucket_counts(stream), table, "complete")
    )
