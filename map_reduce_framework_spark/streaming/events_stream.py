"""Structured Streaming demo over the ``events`` table.

The reference is strictly batch (SURVEY §2.4 streaming row: none — its
map/shuffle pipelining, MapReduceFramework.cpp:355-361, is an execution
detail, not event-time semantics).  This module is the engine's
*beyond-reference* streaming surface:

- file-source ``readStream`` over the events parquet,
- event-time tumbling window + watermark (late-data bound),
- the available-now drain (:mod:`.feeds`) → processes the backlog
  exactly once and terminates, which makes the demo deterministic and
  testable: its result must equal the batch
  ``relational.events_time_window`` aggregation (same logical query,
  streaming execution).

At scale the same pipeline pointed at a Kafka/file-drop source with a
continuous trigger is the production shape; state-store size is bounded
by (windows in watermark horizon × event_types).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import rnd
from .feeds import drain_to_memory, linked_stream_dir

_EVENTS_COLS = (
    "event_id long, {ts}, user_id long, event_type string, "
    "value double, props string"
)


def _probe_ts_encoding(stream_dir: str) -> str:
    """Inspect the parquet footer to learn the on-disk ``ts`` encoding.

    ``readStream`` requires a user-supplied schema, so unlike the batch
    loader we can't let Spark infer it — probe the first file's footer and
    mirror :func:`..sources.tables.load_table`'s normalization (its
    docstring lists the encodings the generator has shipped).  Assumes
    all files in the directory share the first file's encoding — true
    for any single-writer stream directory; a mixed directory would fail
    loudly downstream when the fixed readStream schema misreads a file.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(stream_dir, "*.parquet"))) or sorted(
        glob.glob(os.path.join(stream_dir, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise FileNotFoundError(
            f"no parquet files under {stream_dir!r} — cannot probe the 'ts' "
            "encoding; write at least one batch before opening the stream"
        )
    t = pq.read_schema(files[0]).field("ts").type
    if not hasattr(t, "unit"):
        raise TypeError(
            f"'ts' in {files[0]!r} has parquet type {t!r}; expected a "
            "timestamp (nanos/micros) column"
        )
    if t.unit == "ns":
        return "ns"
    return "us_tz" if t.tz is not None else "us_ntz"


def events_stream_source(
    spark: SparkSession,
    stream_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an events-shaped parquet directory with
    ``ts`` normalized to the engine-standard session timestamp — the
    streaming twin of :func:`..sources.tables.load_table`."""
    enc = _probe_ts_encoding(stream_dir)
    if enc == "ns":
        # required on any caller's session, not just the repo's get_spark()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _EVENTS_COLS.format(ts="ts long")
    elif enc == "us_ntz":
        schema = _EVENTS_COLS.format(ts="ts timestamp_ntz")
    else:
        schema = _EVENTS_COLS.format(ts="ts timestamp")
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        # forces multiple micro-batches in one drain — exercises the
        # cross-batch state retention the watermarks must guarantee
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.load(stream_dir)
    if enc == "ns":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif enc == "us_ntz":
        df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def streaming_event_counts(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Build the streaming DataFrame: 1-hour tumbling windows per
    event_type with a watermark (unbounded-late rows dropped)."""
    stream = events_stream_source(spark, linked_stream_dir(sf_dir, "events"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_events_stream_demo(
    spark: SparkSession, sf_dir: str, table: str = "events_stream_demo"
) -> DataFrame:
    """Drain the stream; return the result as a batch DataFrame from
    the in-memory sink."""
    return drain_to_memory(streaming_event_counts(spark, sf_dir), table, "complete")
