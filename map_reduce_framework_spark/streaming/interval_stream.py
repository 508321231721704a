"""Streaming gaps-and-islands: the live twin of
:func:`..operators.relational_ext.interval_coalesce`, completing the
time-series batch/stream matrix the round-10 EWMA twin started.

The batch operator's island break is a RUNNING-MAX test — an interval
``[s, e]`` opens a new island iff its start clears every earlier end
(``s > max(end) so far``) — which is exactly one scalar of carried
state: per-user ``(island, start, max_end, n)``.  Each micro-batch
sorts its rows by (event-time seconds, event_id) — the IDENTICAL sort
key as the batch window — and folds them through that state; an island
row is emitted whenever it grows (update mode) and a new island opens
right where the batch operator's ``brk`` fires, so the drained stream's
final row per (user, island) equals the batch operator's bit-exactly
(integer seconds arithmetic everywhere — no floats to reorder).

Ordering contract: same as the EWMA twin — the feed must deliver a
key's rows in event order ACROSS micro-batches (time-split files in
one drain); within-batch disorder is repaired by the per-batch
sort.  Two same-second events are break-order-insensitive here (equal
starts can never straddle a gap), so this fold is strictly more
tolerant than the EWMA's.

At scale: state is 4 integers per user in the state store, partitioned
by user_id; islands stream out as they close — nothing buffers a
user's history.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.relational_ext import INTERVAL_BASE_S, INTERVAL_SPAN_S
from .events_stream import events_stream_source
from .feeds import drain_to_memory, final_updates, linked_stream_dir

OUTPUT_SCHEMA = (
    "user_id long, island long, island_start long, island_end long,"
    " n_events long, covered_s long"
)
STATE_SCHEMA = "island long, start long, max_end long, n long"


def _fold_user_batch(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        island, start, max_end, n = state.get
    else:
        island, start, max_end, n = 0, 0, 0, 0
    out: list[tuple[int, int, int, int]] = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["s", "event_id"])
        ss = pdf["s"].to_numpy(dtype=np.int64)
        # same cents/end derivation as the batch twin:
        # e = s + BASE + floor(value*100 + 0.5) % SPAN
        cents = np.floor(
            pdf["value"].to_numpy(dtype=np.float64) * 100 + 0.5
        ).astype(np.int64)
        es = ss + INTERVAL_BASE_S + cents % INTERVAL_SPAN_S
        for s, e in zip(ss.tolist(), es.tolist()):
            if n == 0:
                island, start, max_end, n = 1, s, e, 1
            elif s > max_end:
                out.append((island, start, max_end, n))  # island closed
                island, start, max_end, n = island + 1, s, e, 1
            else:
                max_end = max(max_end, e)
                n += 1
    state.update((island, start, max_end, n))
    if n > 0:
        out.append((island, start, max_end, n))  # current open island
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(out),
            "island": [o[0] for o in out],
            "island_start": [o[1] for o in out],
            "island_end": [o[2] for o in out],
            "n_events": [o[3] for o in out],
            "covered_s": [o[2] - o[1] for o in out],
        }
    )


def interval_stream(
    spark: SparkSession,
    stream_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-user streaming interval union (update mode)."""
    stream = events_stream_source(
        spark, stream_dir, max_files_per_trigger=max_files_per_trigger
    ).withColumn("s", F.expr("unix_micros(ts) div 1000000"))
    return stream.select("user_id", "event_id", "s", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _fold_user_batch,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_interval_stream_demo(
    spark: SparkSession,
    sf_dir: str,
    table: str = "interval_stream_demo",
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the backlog; return the FINAL row per (user, island) — an
    island row re-emits each time a batch grows it, so the last
    (= max n_events) emission carries the closed value."""
    stream = interval_stream(
        spark,
        stream_dir or linked_stream_dir(sf_dir, "events"),
        max_files_per_trigger=max_files_per_trigger,
    )
    updates = drain_to_memory(stream, table, "update")
    return final_updates(updates, "user_id", "island")
