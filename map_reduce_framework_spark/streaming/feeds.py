"""Shared plumbing of the streaming demos: the drain and the fixture dirs.

Every demo drains a finite backlog with the available-now trigger
(process what is there, in as many micro-batches as the source's
``maxFilesPerTrigger`` asks for, then stop), which makes each run
deterministic and comparable with its batch twin.  The two drains here
differ only in the sink: the memory sink (read back as a table) or a
``foreachBatch`` function.

Fixture dirs live under the system temp dir, one per ``(kind, key)``;
the key is usually the SF directory, plus a stream id where two
concurrent streams over one corpus must not share working state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import _incr_is_new
from ..sources import load_table

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _drain(writer) -> None:
    writer.trigger(availableNow=True).start().awaitTermination()


def drain_to_memory(stream: DataFrame, table: str, mode: str) -> DataFrame:
    """Drain ``stream`` into the memory sink ``table`` in output mode
    ``mode``; return the sink as a batch DataFrame."""
    _drain(stream.writeStream.format("memory").queryName(table).outputMode(mode))
    return stream.sparkSession.table(table)


def drain_each_batch(
    stream: DataFrame, fn: Callable[[DataFrame, int], None]
) -> None:
    """Drain ``stream`` through ``fn(batch_df, batch_id)``."""
    _drain(stream.writeStream.foreachBatch(fn))


def final_updates(updates: DataFrame, *keys: str) -> DataFrame:
    """The last emission per key of an update-mode drain: the row with
    the highest ``n_events`` (a fold's count only grows)."""
    w = Window.partitionBy(*keys).orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def docs_feed(spark: SparkSession, feed_dir: str) -> DataFrame:
    """A documents stream over ``feed_dir``, one file per micro-batch."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )


def fixture_dir(kind: str, key: str) -> str:
    """``<tmp>/mrfs_<kind>_<hash of key>``; not created."""
    tag = hashlib.md5(key.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"mrfs_{kind}_{tag}")


def linked_stream_dir(sf_dir: str, table: str, copies: int = 1) -> str:
    """A stream-source directory holding ``copies`` symlinks to
    ``<sf_dir>/<table>.parquet``: FileStreamSource needs a directory,
    and the read-only testdata stays untouched.  Two copies deliver
    every row twice (a duplicate feed)."""
    d = fixture_dir(f"{table}_stream_x{copies}", sf_dir)
    os.makedirs(d, exist_ok=True)
    for i in range(copies):
        link = os.path.join(d, f"{table}_{i}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{table}.parquet"), link)
    return d


def doubled_new_docs_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Stream dir delivering every NEW document (``_incr_is_new``)
    exactly twice, as two single-file copies: the at-least-once
    redelivery feed.  Rebuilt on every call."""
    d = fixture_dir(kind, sf_dir)
    if os.path.exists(d):
        shutil.rmtree(d)
    new_docs = (
        load_table(spark, sf_dir, "documents").where(_incr_is_new()).coalesce(1)
    )
    stage = os.path.join(d, "_stage")
    for name in ("a", "b"):
        new_docs.write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(os.path.join(stage, part), os.path.join(d, f"docs_{name}.parquet"))
    shutil.rmtree(stage)
    return d
