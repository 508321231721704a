"""Streaming Arrow-kernel scoring: quality profiling of a document feed.

Demonstrates the remaining streaming capability the other demos don't:
**Arrow-batched Python (`mapInPandas`) inside Structured Streaming** —
the shape of a streaming curation/inference stage (score documents as
they land, keep a live per-language profile).  The SAME pipeline builder
(:func:`lang_quality_profile`) is applied to the batch and the streaming
DataFrame, so stream-equals-batch is checked on literally shared code:
only the source differs.

At scale this topology reads a file-drop/Kafka feed; the Arrow kernel
(`text._stopword_counts`) processes each micro-batch in vectorized
batches exactly as it does in batch mode, and the complete-mode
aggregate state is bounded by language cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import rnd
from ..sources import load_table
from ..operators.text import _stopword_counts
from .feeds import docs_feed, drain_to_memory, linked_stream_dir

def lang_quality_profile(docs: DataFrame) -> DataFrame:
    """Per-language quality profile via the shared Arrow stopword
    kernel; works identically on a batch or streaming docs DataFrame."""
    counts = _stopword_counts(docs)
    stop_ratio = F.col("s_en") / F.col("n_tokens").cast("double")
    len_sat = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    diversity = F.col("n_uniq_tokens") / F.col("n_tokens").cast("double")
    score = 0.3 * stop_ratio + 0.4 * len_sat + 0.3 * diversity
    return (
        counts.select("lang", score.alias("q"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.avg("q"), 4).alias("avg_quality"),
        )
    )


def run_scoring_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "scoring_stream_demo"
) -> DataFrame:
    """Drain the documents feed; return the profile."""
    stream = docs_feed(spark, linked_stream_dir(sf_dir, "documents"))
    return drain_to_memory(lang_quality_profile(stream), table, "complete")


def batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identical pipeline over the batch reader."""
    return lang_quality_profile(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
    )
