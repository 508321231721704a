"""Custom stateful streaming operator: per-user running aggregates via
``applyInPandasWithState``.

This is the Structured-Streaming analogue of the reference's "reduce sees
the whole group" semantics (SURVEY §2.3f) carried into unbounded streams:
state holds the running (count, sum, max_ts) per user_id across
micro-batches; each batch folds its rows into state and emits the updated
row.  The drain (:mod:`.feeds`) takes the whole backlog in one run, so
the final emitted state equals the batch group-by — which is exactly
what the test asserts.

At scale: state lives in the state store (RocksDB in prod), partitioned
by the grouping key; timeouts (``GroupStateTimeout``) bound state size for
keys that go quiet — set to NoTimeout here because the demo drains a
finite backlog.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .events_stream import events_stream_source
from .feeds import drain_to_memory, final_updates, linked_stream_dir

# last_ts is epoch-micros: state rows must be Arrow-serializable scalars,
# so the timestamp crosses into state as a long
OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts long"
STATE_SCHEMA = "n long, total double, last_ts long"


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_ts = state.get
    else:
        n, total, last_ts = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ts = max(last_ts, int(pdf["ts"].max()))
    state.update((n, total, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [last_ts],
        }
    )


def user_running_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user running stats (update mode)."""
    stream = events_stream_source(
        spark, linked_stream_dir(sf_dir, "events")
    ).withColumn("ts", F.unix_micros("ts"))
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_user_stats_demo(
    spark: SparkSession, sf_dir: str, table: str = "user_stats_demo"
) -> DataFrame:
    """Drain the backlog; return final per-user rows (last update per
    user wins if multiple micro-batches fired)."""
    stream = user_running_stats_stream(spark, sf_dir)
    return final_updates(drain_to_memory(stream, table, "update"), "user_id")
