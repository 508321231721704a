"""foreachBatch upsert sink: streaming MERGE into a keyed parquet table.

The missing rung of the sink ladder: append/complete memory and file
sinks are built-in, but production pipelines maintain a KEYED result
table (per-user aggregates, feature stores) that each micro-batch must
MERGE into.  Structured Streaming's contract for that is
``foreachBatch``: the batch DataFrame API runs per micro-batch, and the
merge is the same full-outer-join shape as
``relational_ext.snapshot_diff`` — at scale, the table format (Delta/
Iceberg) executes exactly this join under ``MERGE INTO``; here the
"table" is a plain parquet directory swapped per batch.

Exactly-once design (two failure windows, both closed):

1. **Replayed epoch** — ``foreachBatch`` is at-least-once: after a
   crash between the sink write and the offset commit, Structured
   Streaming REPLAYS the last batch with the SAME batch id.  An
   additive MERGE would double-count it, so the sink records the last
   committed batch id (plus the query's lineage identity, below) in a
   ``_committed_batch`` marker written INSIDE the ``.next`` directory
   before the swap (Spark's parquet reader ignores ``_``-prefixed
   files, like ``_SUCCESS``) and skips any batch id at or below the
   marker.  That is the txn-version check a transactional table format
   (Delta/Iceberg) performs under ``MERGE INTO``.

2. **Crash during the swap itself** — a delete-then-rename swap has a
   window where NEITHER table nor marker exists; a crash there would
   silently lose every previously merged batch (the replayed epoch
   would take the ``merged = inc`` path).  The swap is therefore
   rename-aside: ``rename(table_dir, .old)`` → ``rename(.next,
   table_dir)`` → ``rmtree(.old)``.  Each step is individually
   recoverable, and ``_recover_table`` (run before every merge and
   before reading the table) adopts whichever consistent state a crash
   left behind: a missing table with a leftover ``.old`` is the old
   table (adopt it back; the interrupted epoch replays), a leftover
   ``.old`` beside a live table is post-commit debris (drop it), and a
   leftover ``.next`` is an uncommitted attempt (drop it; the epoch
   replays).  POSIX ``rename`` of a directory onto a missing name is
   atomic, so no crash point leaves zero recoverable tables.

Lineage identity: batch ids are monotonic only within one checkpoint
lineage.  If the checkpoint is deleted/recreated while ``table_dir``
persists, fresh batches restart at id 0 and a bare id comparison would
silently DROP them as already-committed.  The marker therefore also
records the streaming query id (from the checkpoint's ``metadata``
file — stable across restarts, fresh for a new checkpoint), and a
marker from a DIFFERENT lineage raises instead of guessing: the caller
must delete ``table_dir`` and the checkpoint together.

Tested across a simulated crash-during-commit, a crash between the two
swap renames, post-commit ``.old`` debris, and a recreated checkpoint
in tests/test_streaming.py.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup_stream import streaming_dedup
from .feeds import drain_each_batch, fixture_dir

_MARKER = "_committed_batch"


def _run_identity(checkpoint_dir: str | None) -> str:
    """Lineage identity of the streaming query: the persistent query id
    Spark writes to ``<checkpoint>/metadata`` at query start.  Stable
    across restarts of the same checkpoint; fresh for a new one.
    Empty string when no checkpoint is in play (ad-hoc demo runs)."""
    if not checkpoint_dir:
        return ""
    meta = os.path.join(checkpoint_dir, "metadata")
    if os.path.exists(meta):
        with open(meta) as fh:
            return str(json.load(fh).get("id", ""))
    return ""


def _read_marker(table_dir: str) -> tuple[int, str] | None:
    """(batch_id, run_identity) of the last committed merge, or None.
    First line is the batch id; second (optional, back-compat) the
    lineage identity."""
    marker = os.path.join(table_dir, _MARKER)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        lines = fh.read().splitlines()
    return int(lines[0].strip()), (lines[1].strip() if len(lines) > 1 else "")


def _recover_table(table_dir: str) -> None:
    """Adopt whichever consistent state a crash mid-swap left behind.

    Crash points of the rename-aside swap and their recovery:
    - between ``rename(table_dir, .old)`` and ``rename(.next,
      table_dir)``: table missing, ``.old`` present → the old table is
      the committed state; rename it back (the interrupted epoch will
      replay against it).
    - between ``rename(.next, table_dir)`` and ``rmtree(.old)``: both
      present → the new table is committed (its marker already holds
      the batch id, so the replay is skipped); drop ``.old``.
    - any crash before the first rename: ``.next`` may exist, possibly
      half-written → drop it; the epoch replays and rebuilds it.
    """
    old = table_dir + ".old"
    tmp = table_dir + ".next"
    if not os.path.exists(table_dir) and os.path.exists(old):
        os.rename(old, table_dir)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(table_dir) and os.path.exists(old):
        shutil.rmtree(old)


def _merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_dir: str,
    batch_id: int | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """MERGE the micro-batch's per-user partial aggregate into the keyed
    table: full outer join on the key, sum the measures.

    Pass ``batch_id`` (the foreachBatch epoch) to make the merge
    idempotent under replay, and ``checkpoint_dir`` so the skip check is
    scoped to the query lineage that wrote the marker (a marker from a
    different lineage raises — see module docstring).
    """
    _recover_table(table_dir)
    run_id = _run_identity(checkpoint_dir)
    committed = _read_marker(table_dir)
    if committed is not None and batch_id is not None:
        committed_batch, committed_run = committed
        if committed_run != run_id:
            raise ValueError(
                f"upsert table {table_dir!r} was committed by a different "
                f"query lineage ({committed_run!r} != {run_id!r}); batch ids "
                "are not comparable across lineages — delete the table and "
                "the checkpoint together, or resume the original checkpoint"
            )
        if batch_id <= committed_batch:
            return  # replayed epoch: the swap that wrote it also committed it
    inc = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    if os.path.exists(table_dir):
        cur = spark.read.parquet(table_dir)
        merged = (
            cur.select(
                F.col("user_id").alias("k"),
                F.col("n_events").alias("n0"),
                F.col("total_value").alias("v0"),
            )
            .join(inc, F.col("k") == F.col("user_id"), "full_outer")
            .select(
                F.coalesce("user_id", "k").alias("user_id"),
                (F.coalesce("n0", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias(
                    "n_events"
                ),
                (
                    F.coalesce("v0", F.lit(0.0))
                    + F.coalesce("total_value", F.lit(0.0))
                ).alias("total_value"),
            )
        )
    else:
        merged = inc
    tmp = table_dir + ".next"
    old = table_dir + ".old"
    merged.write.mode("overwrite").parquet(tmp)
    if batch_id is not None:
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            fh.write(f"{batch_id}\n{run_id}")
    # rename-aside swap: every crash point recoverable by _recover_table
    if os.path.exists(table_dir):
        os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def read_upsert_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read the keyed table, first adopting any crash-interrupted swap."""
    _recover_table(table_dir)
    return spark.read.parquet(table_dir)


def run_upsert_sink_demo(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Drain the deduped (doubled-feed) event stream through the upsert
    sink; return the final keyed table as a DataFrame.  Uses Spark's
    per-run temp checkpoint, so the table is recreated fresh each run
    (table and checkpoint live and die together — the lineage contract
    in the module docstring)."""
    table_dir = fixture_dir("upsert_table", sf_dir)
    for leftover in (table_dir, table_dir + ".old", table_dir + ".next"):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)  # fresh demo run

    drain_each_batch(
        streaming_dedup(spark, sf_dir),
        lambda bdf, bid: _merge_batch(spark, bdf, table_dir, batch_id=bid),
    )
    return read_upsert_table(spark, table_dir)
