"""Shared fixtures: one SparkSession per test run + oracle compare helper.

``assert_matches_oracle`` reproduces the driver's correctness gate locally
(row count + column names + order-insensitive values, float-tolerant) so
every operator is validated against DuckDB before the driver ever runs.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_framework_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    """A deliberately VANILLA session — driver parity.

    The external correctness driver builds its own SparkSession with none of
    the engine's configs (no nanosAsLong, no UTC pin, no Arrow/AQE flags), so
    the whole test suite runs under the same conditions: any query that only
    works on ``session.get_spark()``'s configs fails here first.  Only
    operational knobs (master, shuffle width, warehouse dir, UI, memory) are
    set — nothing semantic.
    """
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("mrfs-tests")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", "/tmp/mrfs_warehouse_tests")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark


@pytest.fixture(params=["local", "distributed"])
def graph_path(request, monkeypatch):
    """Run a graph test on both paths of ``operators.graph``: at the
    default ``LOCAL_MAX_EDGES`` (every test-SF graph is under it, so
    the driver computes) and at 0, where any non-empty edge list takes
    the distributed path."""
    from map_reduce_framework_spark.operators import graph

    if request.param == "distributed":
        monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)
    return request.param


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if isinstance(v, float):
            if math.isinf(v):
                return repr(v)
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(str(canon(x)) for x in v) + "]"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(canon))
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
            drop=True
        )
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(
        oracle_pdf.columns
    ), f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    assert len(spark_pdf) == len(
        oracle_pdf
    ), f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if not a.equals(b):
        diff_mask = (a != b).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch; first diffs:\n"
            f"spark:\n{a[diff_mask].head(5)}\noracle:\n{b[diff_mask].head(5)}"
        )


def assert_matches_oracle(spark, duck, query_fn, sql: str, name: str, sf_dir=SF_DIR):
    from map_reduce_framework_spark import cache

    try:
        spark_pdf = query_fn(spark, sf_dir).toPandas()
    finally:
        # keep the session-wide executor storage flat across the suite
        cache.release()
    oracle_pdf = duck.execute(sql).df()
    # a 0-row result matching a 0-row oracle proves nothing — every
    # registered query must be non-vacuous at the test SF
    assert len(spark_pdf) > 0, f"{name}: vacuous (0-row) result at {sf_dir}"
    assert_frames_match(spark_pdf, oracle_pdf, name)
