"""Streaming perceptual-fingerprint twin: image aHash + audio
delta-sign band tables computed on the documents feed.

The band computation is MAP-ONLY (deterministic media synthesis →
real PNG/WAV encode → real decode → integer fingerprint → 4×16-bit
band values, all inside ``mapInPandas``), so the streaming twin is the
cleaning-stream kind: the SAME builder functions
(:func:`~..operators.multimodal.image_ahash_bands` /
:func:`~..operators.multimodal.audio_delta_bands`) applied to a
``readStream`` source in APPEND mode — no state, no watermark, one
band row per media item per micro-batch.  Stream-equals-batch is
checked on literally shared code; only the source differs.

At scale this topology is the streaming half of the fingerprint ingest
pipeline: media lands on a feed, emerges as the skinny (doc_id,
modality, 4 ints) band table at decode throughput, and the banded
new×old screen (:func:`~..operators.multimodal.dedup_media_incremental`)
or the LSM band-index append then runs per batch — the same
foreachBatch shape the gram/band/ann keeplist streams already
exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    audio_corpus,
    audio_delta_bands,
    image_ahash_bands,
    image_corpus,
)
from ..sources import load_table
from .cleaning_stream import _run_map_only


def fingerprint_bands(docs: DataFrame, n_hint: int | None = None) -> DataFrame:
    """Both modalities' band tables over any docs frame with a
    ``doc_id`` column — shared by the batch twin, the stream and the
    media ingest loop.  ``n_hint`` (the corpus row count) turns on the
    size-aware fan-out; only a batch frame may pass it, because that
    fan-out needs ``df.rdd``, which a streaming frame forbids (a
    stream's micro-batches arrive already split)."""
    hint = n_hint // 3 if n_hint else None
    ib = image_ahash_bands(image_corpus(docs, n_hint=hint)).withColumn(
        "modality", F.lit("image")
    )
    ab = audio_delta_bands(audio_corpus(docs, n_hint=hint)).withColumn(
        "modality", F.lit("audio")
    )
    return ib.unionByName(ab)


def run_fingerprint_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "fingerprint_stream_demo"
) -> DataFrame:
    """Streaming fingerprint band extraction (unordered)."""
    return _run_map_only(spark, sf_dir, fingerprint_bands, table)


def fingerprint_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identical band pipeline over the batch reader."""
    return fingerprint_bands(load_table(spark, sf_dir, "documents"))
