"""Streaming perceptual-media ingest — the fingerprint family's
index-GROWTH loop (round-14, closing the round-13 verdict's item 8).

:mod:`.fingerprint_stream` computes band tables on a feed;
:func:`~..operators.multimodal.dedup_media_incremental` is the BATCH
shape of "screen an incoming media batch against the ingested corpus".
This module is the missing closure: streamed media actually APPENDS to
the persisted band index with exactly-once semantics, so an item in
batch N+1 duplicating a KEPT item from batch N is caught — the
:mod:`.keeplist_stream` discipline applied to the multimodal screen.

Topology per micro-batch (``foreachBatch``):

1. redelivered doc_ids drop against the verdict table (anti-join);
2. band tables compute through the SAME builders as the batch twin
   (real PNG/WAV encode → decode → fingerprint → 4×16-bit bands);
3. the asymmetric new×old screen is the batch twin's own band-key
   equi-join at the shared lossless ham ≤ 3 verify
   (:func:`~..operators.multimodal._banded_hamming_hits`), run once
   per modality;
4. KEPT items' band rows land in a per-batch growth dir
   ``b<batch_id>/`` (stable checkpoint id ⇒ overwrite-idempotent);
5. verdicts append LAST — a crash anywhere earlier leaves the batch
   fully re-runnable, and the replay excludes its OWN growth dir from
   the screen (:func:`.keeplist_stream._read_index_side`), so a torn
   growth write can never make a batch match itself.

Scale shape: the index side is a skinny (doc_id, modality, 4 ints)
parquet table — band rows, never payloads — so the per-batch screen is
an equi-join on derived band keys exactly like the batch operator; the
decode cost is map-only work on the batch side.  No counterpart in the
reference (SURVEY §2.4 extension; multimodal family, ingest axis).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _incr_is_new
from ..operators.multimodal import _banded_hamming_hits
from ..sources import load_table
from ..sources.tables import table_row_count
from .feeds import docs_feed, doubled_new_docs_dir, drain_each_batch, fixture_dir
from .fingerprint_stream import fingerprint_bands
from .keeplist_stream import _read_index_side


def build_media_band_index(
    spark: SparkSession, sf_dir: str, stream_id: str = "default"
) -> dict[str, str]:
    """Materialize the corpus-side band index once: (doc_id, modality,
    b0..b3) of the already-ingested (old) partition — exactly the
    skinny table a production pipeline keeps between runs."""
    path = fixture_dir("mediafp_bands", f"{sf_dir}#{stream_id}")
    docs = load_table(spark, sf_dir, "documents").where(~_incr_is_new())
    n = table_row_count(spark, sf_dir, "documents")
    fingerprint_bands(docs, n_hint=n).write.mode("overwrite").parquet(path)
    return {"bands": path}


def _media_hits(new_bands: DataFrame, old_bands: DataFrame) -> DataFrame:
    """Distinct NEW (doc_id, modality) within ham ≤ 3 of any indexed
    item of the same modality: the batch twin's banded screen, run once
    per modality, so an image never pairs with an audio item."""
    image, audio = (
        _banded_hamming_hits(
            new_bands.where(F.col("modality") == m),
            old_bands.where(F.col("modality") == m),
        ).withColumn("modality", F.lit(m))
        for m in ("image", "audio")
    )
    return image.unionByName(audio)


def _screen_media_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index: dict[str, str],
    verdict_dir: str,
    batch_id: int = -1,
    grow: bool = True,
) -> None:
    """One micro-batch: drop redeliveries, screen vs the band index,
    GROW the index with the kept items' band rows, append verdicts.

    Exactly-once discipline (the keeplist_stream contract, same write
    order): growth dir ``b<batch_id>/`` is per-batch OVERWRITE keyed by
    the checkpoint's stable batch_id; the screen excludes the batch's
    OWN growth dir, so a crash between the growth write and the verdict
    append replays to an identical screen; verdicts append LAST behind
    the verdict-table anti-join."""
    if grow and batch_id < 0:
        raise ValueError(
            "grow=True requires the checkpoint's stable batch_id — "
            "a shared default dir would let one batch's overwrite "
            "silently delete another's appended index rows"
        )
    tag = f"b{batch_id}"
    batch = batch_df.dropDuplicates(["doc_id"])
    if os.path.exists(verdict_dir):
        seen = spark.read.parquet(verdict_dir).select("doc_id")
        batch = batch.join(seen, "doc_id", "left_anti")
    new_bands = fingerprint_bands(batch).persist()
    try:
        if new_bands.count() == 0:
            return
        old_bands = _read_index_side(spark, index["bands"], exclude_tag=tag)
        hits = _media_hits(new_bands, old_bands).withColumn("is_dup", F.lit(1))
        dup = F.coalesce("is_dup", F.lit(0))
        verdicts = (
            new_bands.select("doc_id", "modality")
            .join(hits, ["doc_id", "modality"], "left")
            .select(
                "doc_id",
                "modality",
                F.when(dup == 1, "near_dup").otherwise("kept").alias(
                    "verdict"
                ),
            )
            .persist()
        )
        try:
            kept = verdicts.where(F.col("verdict") == "kept").select(
                "doc_id", "modality"
            )
            if grow and kept.count() > 0:
                (
                    new_bands.join(
                        kept, ["doc_id", "modality"], "left_semi"
                    )
                    .select("doc_id", "modality", "b0", "b1", "b2", "b3")
                    .write.mode("overwrite")
                    .parquet(os.path.join(index["bands"], tag))
                )
            verdicts.write.mode("append").parquet(verdict_dir)
        finally:
            verdicts.unpersist()
    finally:
        new_bands.unpersist()


def run_streaming_media_ingest_demo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build the band index, drain the doubled new-document feed one
    file per micro-batch, and return the per-modality summary in
    ``dedup_media_incremental``'s exact shape (modality, n_new, n_dup,
    n_kept) for stream-equals-batch comparison."""
    index = build_media_band_index(spark, sf_dir)
    verdict_dir = fixture_dir("mediafp_verdicts", f"{sf_dir}#default")
    if os.path.exists(verdict_dir):
        shutil.rmtree(verdict_dir)
    drain_each_batch(
        docs_feed(spark, doubled_new_docs_dir(spark, sf_dir, "mediafp_feed")),
        lambda bdf, bid: _screen_media_batch(
            spark, bdf, index, verdict_dir, batch_id=bid
        ),
    )
    verdicts = spark.read.parquet(verdict_dir)
    v = F.col("verdict")
    return (
        verdicts.groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum(F.when(v == "near_dup", 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
            F.sum(F.when(v == "kept", 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("modality")
    )
