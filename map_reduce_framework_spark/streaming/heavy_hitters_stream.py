"""Streaming heavy hitters — mergeable Misra-Gries summaries across
micro-batches.

Batch twin: :func:`~..operators.text.heavy_hitters`.  The stream
maintains ONE bounded summary for the whole corpus seen so far: each
micro-batch computes its per-partition MG summaries (the same
:func:`~..operators.text._mg_candidates` kernel), and the driver folds
them into the running summary by count-sum plus the mergeable-summaries
decrement (Agarwal et al. 2012: MG summaries merge associatively, and
the merged summary under-counts any token by at most N_seen/(budget+1)
— so the running candidate set is a guaranteed SUPERSET of every token
with global count > N_seen/k whenever budget ≥ k−1, exactly the batch
operator's invariant carried across batches).  The final answer is the
shared pass-2 exact recount (:func:`~..operators.text._exact_recount`)
of the surviving candidates over the accumulated corpus — EXACT, and
independent of how the stream was batched or partitioned.

Replay idempotence: batch N's summary is written to a stable-batch-id
path computed from summary N−1 (immutable once written) plus batch N's
rows, via write-tmp-then-rename; an epoch replay recomputes and
atomically replaces summary N.  Partition layout may vary a replayed
summary's exact counter values, but any MG summary of the same rows is
a valid superset-preserving summary — the exact recount makes the
final answer invariant (the same argument that makes the batch
operator partitioning-independent).

100 TB/day shape: per batch, one narrow pass over the batch's own
tokens plus a counters-sized driver fold (≤ budget×partitions rows —
the k-means K·P driver-reduce precedent); the summary is
counters-sized forever; the recount is the standard batch job over the
stored corpus, run on demand.  No unbounded streaming state anywhere.

No counterpart in the reference (SURVEY §2.4 streaming extension).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import (
    HH_COUNTERS,
    HH_K,
    _exact_recount,
    _mg_candidates,
)
from .feeds import DOCS_SCHEMA, docs_feed, drain_each_batch, fixture_dir


def _summary_path(work_dir: str, batch_id: int) -> str:
    return os.path.join(work_dir, f"summary_batch_{batch_id}.json")


def _read_summary(work_dir: str, batch_id: int) -> dict:
    if batch_id < 0:
        return {}
    with open(_summary_path(work_dir, batch_id)) as f:
        return json.load(f)


def _write_summary(work_dir: str, batch_id: int, summary: dict) -> None:
    os.makedirs(work_dir, exist_ok=True)
    path = _summary_path(work_dir, batch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(dict(sorted(summary.items())), f)
    os.replace(tmp, path)


def merge_batch(
    bdf: DataFrame, work_dir: str, batch_id: int, counters: int = HH_COUNTERS
) -> None:
    """Fold one micro-batch into the running MG summary.

    The batch's per-partition summaries come back Arrow-batched
    (≤ counters×partitions rows); the cross-partition + cross-batch
    merge runs driver-side on that counters-sized set.  Rerun with the
    same batch_id recomputes from the same immutable predecessor and
    atomically replaces the same file — idempotent under epoch replay.
    """
    toks = bdf.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    parts = toks.mapInPandas(
        _mg_candidates(counters), "token string, cnt long"
    ).collect()
    merged = dict(_read_summary(work_dir, batch_id - 1))
    for row in parts:
        merged[row["token"]] = merged.get(row["token"], 0) + int(row["cnt"])
    if len(merged) > counters:
        cut = sorted(merged.values(), reverse=True)[counters]
        merged = {t: v - cut for t, v in merged.items() if v > cut}
    _write_summary(work_dir, batch_id, merged)


def _split_feed_dir(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """The documents table split into ``n_files`` parquet files so the
    drain delivers it in n_files micro-batches (exactly once —
    redelivery idempotence is the epoch-replay test's job)."""
    from ..sources import load_table

    d = fixture_dir("hh_feed", sf_dir)
    if os.path.exists(d):
        shutil.rmtree(d)
    load_table(spark, sf_dir, "documents").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def run_streaming_heavy_hitters_demo(
    spark: SparkSession,
    sf_dir: str | None = None,
    feed_dir: str | None = None,
    k: int = HH_K,
    counters: int = HH_COUNTERS,
) -> DataFrame:
    """Drain the document feed one file per micro-batch, maintaining
    the running MG summary, then return the exact heavy-hitter frame —
    must equal the batch operator over the same documents
    (stream-equals-batch tested)."""
    if feed_dir is None:
        feed_dir = _split_feed_dir(spark, sf_dir)
    work = fixture_dir("hh_summaries", feed_dir)
    if os.path.exists(work):
        shutil.rmtree(work)
    drain_each_batch(
        docs_feed(spark, feed_dir),
        lambda bdf, bid: merge_batch(bdf, work, bid, counters),
    )
    last = max(
        int(f.rsplit("_", 1)[1].split(".")[0])
        for f in os.listdir(work)
        if f.startswith("summary_batch_") and not f.endswith(".tmp")
    )
    summary = _read_summary(work, last)
    cands = spark.createDataFrame(
        [(t,) for t in sorted(summary)], "token string"
    )
    docs = spark.read.schema(DOCS_SCHEMA).parquet(feed_dir)
    return _exact_recount(docs, cands, k)
