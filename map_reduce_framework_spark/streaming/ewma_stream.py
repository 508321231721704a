"""Streaming EWMA: the live twin of
:func:`..operators.relational_ext.ewma_smooth`, and the operational
proof of :func:`..operators.relational_ext.ewma_smooth_segmented`'s
algebra — a micro-batch IS a segment.

Per-user state carries ``(s, n, last_x)``; each micro-batch sorts its
rows by (event-time µs, event_id) and folds them into the carried
state with the same recursion the batch operator folds its collected
list with (``s' = α·x + (1−α)·s``, first-ever element seeds).  Because
folding a segment seeded with the previous segments' result is the
IDENTICAL floating-point op sequence as one whole-history fold (the
property ``test_ewma_segment_merge_equals_full_fold`` pins), the
drained stream's final row per user equals the batch operator's —
bit-exactly, before and after the shared 4-dp rounding.

Ordering contract: correctness of any order-dependent streaming fold
requires the feed to deliver a key's rows in event order across
micro-batches (here: time-split files under one drain with
``maxFilesPerTrigger``).  Out-of-order arrivals WITHIN a batch are
repaired by the per-batch sort; arrivals that cross batch boundaries
out of order would need an event-time buffer (watermark + sort in
state), which is the documented trade every streaming EWMA/as-of
system makes.

At scale: state is 3 scalars per user in the state store (RocksDB in
prod), partitioned by user_id; no per-key history is retained — the
whole point of the affine fold.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.relational_ext import EWMA_ALPHA
from .events_stream import events_stream_source
from .feeds import drain_to_memory, final_updates, linked_stream_dir

OUTPUT_SCHEMA = "user_id long, n_events long, last_value double, ewma double"
STATE_SCHEMA = "s double, n long, last_x double"


def _fold_user_batch(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        s, n, last_x = state.get
    else:
        s, n, last_x = 0.0, 0, 0.0
    a = EWMA_ALPHA
    b = 1 - EWMA_ALPHA
    for pdf in pdfs:
        pdf = pdf.sort_values(["t", "event_id"])
        # same cents derivation as the batch twin: floor(v*100+0.5)/100
        xs = np.floor(pdf["value"].to_numpy(dtype=np.float64) * 100 + 0.5) / 100.0
        for x in xs:
            x = float(x)
            if n == 0:
                s = x  # first-ever element seeds the fold
            else:
                s = a * x + b * s
            n += 1
            last_x = x
    state.update((s, n, last_x))
    # same portable 4-dp rounding as functions.rnd
    ewma4 = np.floor(s * 1e4 + 0.5) / 1e4
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "last_value": [last_x],
            "ewma": [float(ewma4)],
        }
    )


def ewma_stream(
    spark: SparkSession,
    stream_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-user streaming EWMA (update mode)."""
    stream = events_stream_source(
        spark, stream_dir, max_files_per_trigger=max_files_per_trigger
    ).withColumn("t", F.expr("unix_micros(ts) div 1000000"))
    return stream.select("user_id", "event_id", "t", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _fold_user_batch,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_ewma_stream_demo(
    spark: SparkSession,
    sf_dir: str,
    table: str = "ewma_stream_demo",
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the backlog; return the FINAL row per user (update mode
    emits one row per touched user per micro-batch — the last
    micro-batch's row carries the complete fold)."""
    stream = ewma_stream(
        spark,
        stream_dir or linked_stream_dir(sf_dir, "events"),
        max_files_per_trigger=max_files_per_trigger,
    )
    return final_updates(drain_to_memory(stream, table, "update"), "user_id")
