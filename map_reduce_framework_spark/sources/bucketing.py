"""Bucketed-table storage: the shuffle-free co-located join primitive.

At 100 TB the single most expensive repeated cost is re-shuffling fact
tables on the same join key query after query.  Bucketing
(``write.bucketBy(n, key).sortBy(key).saveAsTable``) persists the hash
partitioning in the table layout, so every subsequent equi-join or
aggregation on the bucket key runs with NO exchange on that side.

``tests/test_plans.py::test_bucketed_join_no_shuffle`` proves the plan:
two tables bucketed on the same key joined with zero Exchange operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def content_stamp(sf_dir: str, source_table: str) -> str:
    """Content stamp of ``{sf_dir}/{source_table}.parquet``: every file's
    name, size and ``mtime_ns``, joined.  Empty when the path does not
    exist locally."""
    import glob
    import os

    path = os.path.join(sf_dir, f"{source_table}.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if os.path.isdir(path)
        else [path]
        if os.path.exists(path)
        else []
    )
    return "|".join(
        f"{os.path.basename(f)}:{os.stat(f).st_size}:{os.stat(f).st_mtime_ns}"
        for f in files
    )


def fingerprinted_table_name(prefix: str, sf_dir: str, source_table: str) -> str:
    """Per-corpus materialized-index table name: folds a content
    fingerprint (:func:`content_stamp`) into the name alongside the
    path, so a session touching several sf_dirs never reuses another
    corpus's index and a corpus REGENERATED at the same path is never
    served a stale one."""
    import hashlib

    key = f"{sf_dir}#{content_stamp(sf_dir, source_table)}"
    return f"{prefix}_{hashlib.md5(key.encode()).hexdigest()[:8]}"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Persist ``df`` as a parquet table bucketed+sorted on ``bucket_col``.

    The in-memory catalog forgets tables between sessions while the
    warehouse directory persists — clear any orphaned location first so
    ``saveAsTable`` never hits LOCATION_ALREADY_EXISTS.
    """
    import os
    import shutil
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
    # Round-14 (guide §6 small files): a bucketed save writes one file
    # per (task, non-empty bucket) — at 32 tasks × 8 buckets every
    # KB-sized index table landed as ~256 files plus commit metadata,
    # and the maintenance queries' wall was file churn, not data.
    # Repartitioning BY THE BUCKET COLUMN into exactly n_buckets
    # partitions uses the same Murmur3 % n assignment as the bucket
    # spec, so each task holds exactly one bucket and writes exactly
    # one file — the ideal bucketed layout.
    # Round-15 (round-14 advice): that repartition caps WRITER
    # parallelism at n_buckets, a regression for genuinely large
    # inputs (the orders/customer path at high SFs) — so align only
    # when the source leaf bytes are plausibly bucket-file-sized
    # (~n_buckets × healthy-file-size); a big table keeps full writer
    # parallelism and accepts more files per bucket, the trade
    # production makes by raising n_buckets instead.  Leaf bytes
    # OVERESTIMATE derived inputs (joins/filters keep every leaf), so
    # big-input misclassification only errs toward parallelism.  A plan
    # with no file leaves counts as small and is aligned: persisted
    # subtrees are InMemoryRelation leaves with no input files, and the
    # index writers pass exactly such frames (small per-run deltas,
    # fanned out to defaultParallelism), which unaligned would land as
    # tasks x n_buckets files again.  The gate therefore assumes a
    # leafless plan is driver- or cache-sized.  A leaf on non-local
    # storage, or a local one that cannot be stat'ed, has an UNKNOWN
    # size, treated as large: the alignment is skipped.
    files = df.inputFiles()
    try:
        leaf_bytes = (
            sum(os.stat(unquote(urlparse(f).path)).st_size for f in files)
            if all(f.startswith("file:") for f in files)
            else None
        )
    except OSError:
        leaf_bytes = None
    align_max = int(
        os.environ.get("SPARK_GRAFT_BUCKET_ALIGN_MAX", str(256 << 20))
    )
    if leaf_bytes is not None and leaf_bytes <= align_max:
        df = df.repartition(n_buckets, F.col(bucket_col))
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_orders_customer(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Create (once per session) bucketed copies of orders and customer on
    the customer key and return them."""
    from .tables import load_table

    if not spark.catalog.tableExists("orders_bkt"):
        write_bucketed(
            load_table(spark, sf_dir, "orders"), "orders_bkt", "o_custkey", n_buckets
        )
    if not spark.catalog.tableExists("customer_bkt"):
        write_bucketed(
            load_table(spark, sf_dir, "customer"),
            "customer_bkt",
            "c_custkey",
            n_buckets,
        )
    return spark.table("orders_bkt"), spark.table("customer_bkt")
