"""Parquet table sources for the synthetic star schema (TESTDATA.md).

The reference's only sources are an in-memory list scan
(MapReduceFramework.cpp:712-715) and a non-recursive directory listing
(Search.cpp:172-202).  The engine's primary source is columnar Parquet via
``spark.read.parquet`` — Catalyst pushes filters and prunes columns into
the scan, which is the scale path for ~100 TB inputs.  The directory-scan
source (Search parity) lives in :mod:`..operators.search_client`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _footer_timestamp_kinds(path: str) -> tuple[bool, bool]:
    """(has naive µs/ms timestamp, has nanos timestamp) from parquet
    footers — metadata reads only, no data IO, so probing per load is
    free relative to the scan it gates.

    Sharded tables probe the first, middle, and last part files (O(1)
    regardless of shard count): a generator that re-encoded timestamps
    mid-table — the round-4 incident that motivated this probe — leaves
    the boundary between encodings at SOME file boundary, and any ONE
    detected nanos/naive shard is enough to set the right session conf
    for the whole scan."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        probes = [path]
    else:
        candidates = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not candidates:
            return False, False
        probes = sorted(
            {candidates[0], candidates[len(candidates) // 2], candidates[-1]}
        )
    naive = nanos = False
    for f in probes:
        for field in pq.read_schema(f):
            if pa.types.is_timestamp(field.type):
                if field.type.unit == "ns":
                    nanos = True
                elif field.type.tz is None:
                    naive = True
    return naive, nanos


#: Session confs that change how Parquet footers map to Spark types (or,
#: for ``caseSensitive``/``mergeSchema``, which columns the inferred
#: schema holds); part of every :data:`_SCHEMA_CACHE` key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: (path, content stamp, schema confs) → the StructType Spark inferred;
#: see :func:`load_table`
_SCHEMA_CACHE: dict[tuple, StructType] = {}

#: Confs Spark's file-split packing reads; part of every
#: :data:`_PARTITIONS_CACHE` key.
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)

#: (input files' stamp, split confs, defaultParallelism) → the partition
#: count Spark planned; see :func:`scan_partitions`
_PARTITIONS_CACHE: dict[tuple, int] = {}


def scan_partitions(df: DataFrame) -> int:
    """Spark's own ``df.rdd.getNumPartitions()``, memoized.

    ``df`` must be a narrow plan over a file scan (projections and
    filters over :func:`load_table`): compiling such a plan to an RDD
    runs no Spark job, but it costs ~35 ms of driver time per fresh
    DataFrame, and :func:`..operators.dedup.fan_out` asks at the build of
    nearly every query.  A plan with an exchange is not such an input:
    its ``.rdd`` runs the shuffle.

    For a narrow scan the count depends only on the input files, the
    split confs in :data:`_SPLIT_CONFS` and ``defaultParallelism``, so
    the answer is kept in :data:`_PARTITIONS_CACHE` under those, the
    files by :func:`..bucketing.files_stamp` (name, size, ``mtime_ns``).
    An input with a non-local or unstattable file, or none at all, has
    no stamp and asks Spark every time.
    """
    from urllib.parse import unquote, urlparse

    from .bucketing import files_stamp

    spark = df.sparkSession
    files = df.inputFiles()
    key = None
    if files and all(f.startswith("file:") for f in files):
        try:
            key = (
                files_stamp(unquote(urlparse(f).path) for f in files),
                tuple(spark.conf.get(c, None) for c in _SPLIT_CONFS),
                spark.sparkContext.defaultParallelism,
            )
        except OSError:
            pass
    n = _PARTITIONS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _PARTITIONS_CACHE[key] = n
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``.

    Schema memo: inferring a Parquet schema is a Spark job (a footer read
    scheduled on the executors), and at benchmark sizes the job, not the
    scan, is the unit of cost.  The StructType Spark itself inferred is
    therefore kept in :data:`_SCHEMA_CACHE`, and a warm load reads with
    ``spark.read.schema(cached)``, which runs no job.  The key is the
    table's path and its unhashed content stamp
    (:func:`..bucketing.content_stamp`: every file's name, size and
    ``mtime_ns``; :func:`table_row_count` keys on the same) together with
    the values of :data:`_SCHEMA_CONFS`, read after the timestamp confs
    below are set.  A stale schema is not served: a table rewritten at
    the same path changes the stamp (a file's name, size or
    ``mtime_ns``; the stamp is compared whole, not hashed), and a session
    whose confs would infer different types changes the conf half of the
    key; either is a miss that infers afresh.  A path the local
    filesystem cannot stat (a remote URI) has no stamp and is inferred
    on every load.  Only the inferred schema is cached, never a
    DataFrame, and no Parquet type is converted in Python.

    Works on ANY session, not just the one built by :func:`..session.get_spark`,
    and across the timestamp encodings the generator has shipped:

    * TIMESTAMP(NANOS) (round 1-3 ``events.ts``) — Spark rejects it outright
      unless ``spark.sql.legacy.parquet.nanosAsLong`` is set (runtime-settable,
      so we set it here idempotently); the resulting epoch-nanos long is
      truncated ns → µs exactly like DuckDB's µs-precision TIMESTAMP.
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 4+ data) — by default
      Spark reads it as TIMESTAMP_NTZ, which many chronon functions
      (``unix_micros``) reject.  Disabling
      ``spark.sql.parquet.inferTimestampNTZ.enabled`` (runtime-settable)
      makes the scan read the column as a NATIVE session-tz TIMESTAMP with
      the same epoch-micros (naive wall clock interpreted as UTC — exactly
      what DuckDB does with the same bytes, so oracles agree).  Native
      beats a ``to_utc_timestamp`` projection because timestamp predicates
      still reach the scan as PushedFilters — a computed column would turn
      every date-range filter into a post-scan filter, which at 100 TB is
      the difference between pruning row groups and reading them all.

    Both paths are gated on the *read* dtype, and a ``to_utc_timestamp``
    fallback covers any future encoding that still surfaces as NTZ.

    Conf scoping: both knobs are session-wide once set, so they are only
    touched when the file's FOOTER (a cheap pyarrow metadata read) shows a
    column that needs them — a load of a timestamp-free table leaves the
    caller's session untouched, and unrelated NTZ parquet reads on the
    same session keep their default typing unless the caller also loads a
    naive-timestamp table through here (documented trade-off: restoring
    the conf post-read would race the lazy scan's execution-time schema
    conversion).
    """
    from .bucketing import content_stamp

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    naive_ts, nanos_ts = _footer_timestamp_kinds(path)
    if nanos_ts:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if naive_ts:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # a path the local filesystem cannot see has no stamp to key on
    key = None
    if os.path.exists(path):
        key = (
            path,
            content_stamp(sf_dir, name),
            tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
        )
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            # a copy: ``df.schema`` is cached on df and StructType is mutable
            _SCHEMA_CACHE[key] = StructType.fromJson(df.schema.jsonValue())

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.to_utc_timestamp(field.name, "UTC"))
    return df


#: (sf_dir, table, content stamp) → row count; see :func:`table_row_count`
_ROW_COUNT_CACHE: dict[tuple, int] = {}


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized row count of a source table — for operators that size a
    parameter to the corpus (``adaptive_sign_bits``, ``semantic_k``)
    without paying one extra Spark job per invocation when composed
    into larger pipelines (round-7 ADVICE).  Keyed by the same
    per-file size+mtime content stamp the materialized-index table names
    fold in (unhashed here), so a regenerated corpus at the same path is
    re-counted, never served a stale cardinality."""
    from .bucketing import content_stamp

    key = (sf_dir, name, content_stamp(sf_dir, name))
    if key not in _ROW_COUNT_CACHE:
        _ROW_COUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _ROW_COUNT_CACHE[key]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table as a dict name → DataFrame (lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` can use them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
