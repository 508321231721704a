"""Streaming incremental corpus dedup — the production ingestion loop.

``operators.dedup.dedup_incremental`` is the BATCH shape of "screen a
new crawl against the indexed corpus"; this module is its streaming
twin: new documents arrive as files, each micro-batch is screened
against a pre-materialized corpus index (content-hash set + df-capped
gram posting list — exactly what a real pipeline keeps between runs),
and the per-document verdicts MERGE into a keyed verdict table via
``foreachBatch`` (same sink contract as :mod:`.upsert_sink`).

Scale shape: the index sides are equi-joins on md5/gram-hash keys (at
100 TB the posting list is a bucketed table co-partitioned with the
join key — see ``sources.bucketing``); the batch side is one crawl
increment, small relative to the corpus; no unbounded streaming state
exists anywhere — redelivery idempotence comes from the verdict table
itself (anti-join on doc_id), not from watermark state, so a replayed
file can never double-screen a document.

Cap semantics: the index's gram posting list is df-capped over the OLD
corpus (all the index build can know); the batch side shingles
uncapped.  The batch twin caps over the full corpus instead — the two
agree whenever no gram's df crosses ``NGRAM_DF_CAP`` between the two
views (true at every test SF; the parity pytest pins it).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    JACCARD_THRESHOLD,
    NGRAM_DF_CAP,
    _incr_is_new,
    _shingled_docs,
    fan_out,
)
from ..functions import rnd
from ..sources import load_table
from .feeds import docs_feed, doubled_new_docs_dir, drain_each_batch, fixture_dir


def _work_dir(sf_dir: str, leaf: str, stream_id: str = "default") -> str:
    """Per-(corpus, stream) working dir.  The ``stream_id`` is part of
    the key so two concurrent streams (or sessions) over the SAME corpus
    never share growth dirs or base index — without it a second writer
    would silently overwrite the first's per-batch growth output.  The
    index/growth layout is single-writer per (sf_dir, stream_id): run
    concurrent pipelines under distinct stream ids."""
    return fixture_dir(f"keeplist_{leaf}", f"{sf_dir}#{stream_id}")


def build_corpus_index(
    spark: SparkSession, sf_dir: str, stream_id: str = "default"
) -> dict[str, str]:
    """Materialize the corpus-side screens once: the content-hash set and
    the df-capped gram posting list + per-doc gram counts of the already
    indexed (old) partition.  Returns the parquet paths — between runs a
    real pipeline keeps exactly these as tables.  Single-writer per
    (sf_dir, stream_id) — see :func:`_work_dir`."""
    paths = {
        "hashes": _work_dir(sf_dir, "hashes", stream_id),
        "grams": _work_dir(sf_dir, "grams", stream_id),
        "sizes": _work_dir(sf_dir, "sizes", stream_id),
        "overcap": _work_dir(sf_dir, "overcap", stream_id),
    }
    scan = load_table(spark, sf_dir, "documents")
    is_old = ~_incr_is_new()
    scan.where(is_old).select(F.md5("text").alias("h")).distinct().write.mode(
        "overwrite"
    ).parquet(paths["hashes"])
    old = fan_out(scan).where(is_old)
    posting = _shingled_docs(old, with_hashes=True).select(
        "doc_id", F.explode("gh").alias("g")
    ).persist()
    try:
        # skew-safe df cap (partial agg + broadcast anti-join — the
        # operators.dedup._df_cap shape, derived from a WRITTEN over-cap
        # tombstone set so :func:`compact_index` can re-cap folds
        # rebuild-exactly, mirroring ``gram_index_bucketed``); the
        # persist keeps the build to one shingling pass
        (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > NGRAM_DF_CAP)
            .select("g")
            .write.mode("overwrite")
            .parquet(paths["overcap"])
        )
        capped = posting.join(
            F.broadcast(spark.read.parquet(paths["overcap"])),
            "g",
            "left_anti",
        )
        capped.write.mode("overwrite").parquet(paths["grams"])
        capped.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_b")
        ).write.mode("overwrite").parquet(paths["sizes"])
    finally:
        posting.unpersist()
    return paths


def _read_index_side(
    spark: SparkSession, path: str, exclude_tag: str | None = None
) -> DataFrame:
    """Read an index side INCLUDING its per-batch growth subdirs
    (``b<batch_id>/`` — plain nested names, no partition inference).

    ``exclude_tag`` drops ONE growth dir from the read: the screen for
    batch N must never see batch N's OWN growth output — a crash
    between the growth writes and the verdict append otherwise makes
    the replayed batch match itself (every previously-kept doc would
    re-verdict as exact_dup).  Excluding the self dir makes the replay
    screen IDENTICAL to the failed attempt's, which then overwrites
    the growth dirs with identical content — true exactly-once.

    Growth dirs named in the side's ``_folded_batches`` marker (written
    by :func:`compact_index` INSIDE the folded base, so the swap that
    lands the fold also commits the exclusion) are skipped too: their
    rows already live in the base files, and reading them again would
    double the per-pair ``shared`` counts and corrupt Jaccard.  That
    makes a leftover folded dir harmless debris, never a correctness
    hazard — cleanup can happen any time after the swap.
    """
    import glob

    folded = _folded_tags(path)
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    for d in sorted(glob.glob(os.path.join(path, "b*"))):
        base = os.path.basename(d)
        if os.path.isdir(d) and base != exclude_tag and base not in folded:
            parts.append(d)
    return spark.read.parquet(*parts)


_FOLDED_MARKER = "_folded_batches"


def _folded_tags(side_path: str) -> set[str]:
    """Growth tags already folded into this side's base files."""
    marker = os.path.join(side_path, _FOLDED_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return {ln.strip() for ln in fh if ln.strip()}
    return set()


def _growth_dirs(side_path: str) -> list[str]:
    import glob

    return sorted(
        d
        for d in glob.glob(os.path.join(side_path, "b*"))
        if os.path.isdir(d)
    )


def compact_index(
    spark: SparkSession, index: dict[str, str], keep_tags: tuple[str, ...] = ()
) -> int:
    """Fold every per-batch growth dir into the base index files — the
    streaming twin of :func:`~..operators.dedup.dedup_index_compact`,
    and the genuine N-delta case (one growth dir lands per micro-batch,
    so a long-running stream accumulates dozens of extra parquet scans
    per screen until someone folds them back).

    Semantics per side:

    - ``hashes``: union DISTINCT (content digests);
    - ``grams``: union with the df cap RE-APPLIED on the union's
      document frequencies, using the base build's over-cap TOMBSTONES
      (``index['overcap']``) exactly like the batch compactor — a gram
      capped out of the base must stay dropped (df only grows), and the
      newly-over-cap set joins the tombstones for the next cycle;
    - ``sizes``: RE-DERIVED from the folded grams (per-doc counts),
      because n_b must always describe the capped posting list the
      screen joins against — folding sizes independently would desync
      them from a re-capped grams side.

    Crash safety (the upsert-sink discipline): each side's fold writes
    to ``<side>.next`` with a ``_folded_batches`` marker INSIDE it
    (parquet readers ignore ``_``-prefixed files), then lands via the
    rename-aside swap; ``_recover_side`` adopts whichever consistent
    state a kill left.  The marker makes folded growth dirs inert
    (:func:`_read_index_side` skips them) — so the post-swap cleanup
    of growth dirs can crash with no effect, and a crash BETWEEN side
    swaps leaves a mix of folded and unfolded sides whose readable
    content is unchanged (the fold is content-preserving at test SFs;
    past the cap boundary, grams+sizes swap before hashes so the pair
    the screen joins stays internally consistent).

    Contract: run against a cleanly-committed stream (no batch between
    its growth writes and its verdict append) — the work dirs are
    already documented single-writer per (sf_dir, stream_id).  A known
    in-flight batch's tag can be spared via ``keep_tags``.  Rerun-safe:
    already-folded dirs are excluded from the re-read, so a second
    compaction is a no-op fold of the same base.

    Returns the number of growth dirs folded.
    """
    from .upsert_sink import _recover_table as _recover_side

    for side in ("hashes", "grams", "sizes", "overcap"):
        _recover_side(index[side])

    import glob

    def fold_input(side: str) -> tuple[DataFrame, list[str]]:
        """(base ∪ unfolded growth excluding keep_tags, the dirs folded)."""
        folded = _folded_tags(index[side])
        parts = sorted(glob.glob(os.path.join(index[side], "*.parquet")))
        dirs = [
            d
            for d in _growth_dirs(index[side])
            if os.path.basename(d) not in folded
            and os.path.basename(d) not in keep_tags
        ]
        return spark.read.parquet(*(parts + dirs)), dirs

    grams_union, gram_dirs = fold_input("grams")
    n_folded = len(gram_dirs)

    # ---- grams: tombstone drop + union-df re-cap (the batch
    # compactor's exact rule)
    tomb = spark.read.parquet(index["overcap"])
    no_tomb = grams_union.join(F.broadcast(tomb), "g", "left_anti")
    over_now = (
        no_tomb.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > NGRAM_DF_CAP)
        .select("g")
    )
    new_tomb = tomb.select("g").unionByName(over_now).distinct().persist()
    folded_grams = no_tomb.join(F.broadcast(new_tomb), "g", "left_anti")

    def write_next(df, side: str, tags: list[str]) -> str:
        nxt = index[side] + ".next"
        df.write.mode("overwrite").parquet(nxt)
        folded = _folded_tags(index[side]) | {os.path.basename(t) for t in tags}
        with open(os.path.join(nxt, _FOLDED_MARKER), "w") as fh:
            fh.write("\n".join(sorted(folded)))
        return nxt

    def swap(side: str) -> None:
        cur, old, nxt = index[side], index[side] + ".old", index[side] + ".next"
        if os.path.exists(cur):
            os.rename(cur, old)
        os.rename(nxt, cur)
        if os.path.exists(old):
            shutil.rmtree(old)

    try:
        # write EVERY .next first (a crash here leaves only inert .next
        # debris the recovery sweep removes), then swap in quick
        # succession — grams and sizes adjacently, so the pair the
        # Jaccard screen joins is mixed-state for the narrowest window
        grams_next = write_next(folded_grams, "grams", gram_dirs)
        sizes_dirs = fold_input("sizes")[1]
        write_next(
            spark.read.parquet(grams_next)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_b")),
            "sizes",
            sizes_dirs,
        )
        new_tomb.write.mode("overwrite").parquet(index["overcap"] + ".next")
        hashes_union, hash_dirs = fold_input("hashes")
        write_next(hashes_union.select("h").distinct(), "hashes", hash_dirs)
        for side in ("grams", "sizes", "overcap", "hashes"):
            swap(side)
    finally:
        new_tomb.unpersist()

    # folded dirs are inert (marker) — removing them is pure cleanup
    for side, dirs in (
        ("grams", gram_dirs),
        ("sizes", sizes_dirs),
        ("hashes", hash_dirs),
    ):
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    return n_folded


def _screen_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index: dict[str, str],
    verdict_dir: str,
    batch_id: int = -1,
    grow: bool = True,
) -> None:
    """One micro-batch: drop redeliveries, screen vs the index, GROW the
    index with the kept documents, append verdicts.

    Exactly-once discipline for the THREE sinks, in write order:

    1. index growth dirs ``b<batch_id>/`` use per-batch OVERWRITE with
       the checkpoint's stable batch_id, so a replayed batch rewrites
       the same dirs with the same content;
    2. verdicts append LAST behind the verdict-table anti-join — a
       crash anywhere before the verdict write leaves the batch fully
       re-runnable (growth dirs are simply overwritten), and once
       verdicts exist the replayed batch anti-joins to empty, which
       also skips the growth writes (their dirs already hold the data).

    Growing the index is what makes the stream the real ingestion loop
    (round-7): a document in batch N+1 duplicating a KEPT document from
    batch N is now caught — without growth the corpus-side state is
    frozen at index-build time and intra-stream duplicates sail
    through.  Appended grams are uncapped batch shingles (exactly the
    cap semantics of ``dedup_index_maintain``: the df cap is an
    index-BUILD decision, re-applied at periodic rebuilds).
    """
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
    # exact screen: only hashes shuffle, never text.  The read excludes
    # THIS batch's own growth dir (crash-replay safety — see
    # _read_index_side)
    hashes = _read_index_side(spark, index["hashes"], exclude_tag=tag)
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(hashes, "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )
    # near screen: batch shingles × corpus posting list (new×old, the
    # same candidate equi-join as the batch operator)
    grams = _read_index_side(spark, index["grams"], exclude_tag=tag).select(
        F.col("doc_id").alias("old_id"), "g"
    )
    sizes_old = _read_index_side(spark, index["sizes"], exclude_tag=tag).select(
        F.col("doc_id").alias("old_id"), "n_b"
    )
    bsh = _shingled_docs(batch, with_hashes=True).select(
        F.col("doc_id").alias("new_id"), F.explode("gh").alias("g")
    ).persist()
    try:
        sizes_new = bsh.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_a"))
        pairs = (
            bsh.join(grams, "g")
            .groupBy("new_id", "old_id")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        jac = F.col("shared") / (
            F.col("n_a") + F.col("n_b") - F.col("shared")
        )
        near = (
            pairs.join(sizes_new, "new_id")
            .join(sizes_old, "old_id")
            .where(rnd(jac, 4) >= JACCARD_THRESHOLD)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .withColumn("is_near", F.lit(1))
        )
        ex = F.coalesce("is_exact", F.lit(0))
        nr = F.coalesce("is_near", F.lit(0))
        verdicts = (
            batch.select("doc_id", "source")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                F.when(ex == 1, "exact_dup")
                .when(nr == 1, "near_dup")
                .otherwise("kept")
                .alias("verdict"),
            )
        ).persist()
        try:
            kept = verdicts.where(F.col("verdict") == "kept").select("doc_id")
            if grow and kept.count() > 0:
                (
                    batch.join(kept, "doc_id", "left_semi")
                    .select(F.md5("text").alias("h"))
                    .distinct()
                    .write.mode("overwrite")
                    .parquet(os.path.join(index["hashes"], tag))
                )
                (
                    bsh.join(
                        kept.select(F.col("doc_id").alias("new_id")),
                        "new_id",
                        "left_semi",
                    )
                    .select(F.col("new_id").alias("doc_id"), "g")
                    .write.mode("overwrite")
                    .parquet(os.path.join(index["grams"], tag))
                )
                (
                    sizes_new.join(
                        kept.select(F.col("doc_id").alias("new_id")),
                        "new_id",
                        "left_semi",
                    )
                    .select(
                        F.col("new_id").alias("doc_id"),
                        F.col("n_a").alias("n_b"),
                    )
                    .write.mode("overwrite")
                    .parquet(os.path.join(index["sizes"], tag))
                )
            verdicts.write.mode("append").parquet(verdict_dir)
        finally:
            verdicts.unpersist()
    finally:
        bsh.unpersist()


def run_streaming_keeplist_demo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build the index, drain the doubled new-document feed one file per
    micro-batch, and return the per-source summary in
    ``dedup_incremental``'s exact shape (source, n_new, n_exact_dup,
    n_near_dup, n_kept) for stream-equals-batch comparison."""
    index = build_corpus_index(spark, sf_dir)
    verdict_dir = _work_dir(sf_dir, "verdicts")
    if os.path.exists(verdict_dir):
        shutil.rmtree(verdict_dir)
    drain_each_batch(
        docs_feed(spark, doubled_new_docs_dir(spark, sf_dir, "keeplist_feed")),
        lambda bdf, bid: _screen_batch(spark, bdf, index, verdict_dir, batch_id=bid),
    )
    verdicts = spark.read.parquet(verdict_dir)
    v = F.col("verdict")
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.when(v == "exact_dup", 1).otherwise(0)).alias(
                "n_exact_dup"
            ),
            F.sum(F.when(v == "near_dup", 1).otherwise(0)).alias("n_near_dup"),
            F.sum(F.when(v == "kept", 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )
