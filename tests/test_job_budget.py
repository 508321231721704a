"""Job budget: Spark jobs run at build time, counted exactly.

At small scale the Spark job, not the data, is the unit of cost, so
these counts are pinned: they may only go down.  Jobs are counted from
``sc.statusTracker()`` under a job group unique to each measured call,
after draining the listener bus the tracker is fed from.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from map_reduce_framework_spark.plans.registry import QUERIES
from map_reduce_framework_spark.sources.tables import TABLES, load_table

from .conftest import SF_DIR

#: queries whose only build-time jobs were schema inference
LAZY_QUERIES = (
    "pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q21_waiting_suppliers",
    "sessionize",
)


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_warm_load_table_runs_no_job(spark, name):
    cold, _ = _jobs(spark, lambda: load_table(spark, SF_DIR, name))
    warm, n = _jobs(spark, lambda: load_table(spark, SF_DIR, name))
    assert n == 0
    assert warm.schema == cold.schema


@pytest.mark.parametrize("name", LAZY_QUERIES)
def test_warm_query_build_runs_no_job(spark, name):
    QUERIES[name](spark, SF_DIR)  # warms the schema memo
    _, n = _jobs(spark, lambda: QUERIES[name](spark, SF_DIR))
    assert n == 0


def _write_region(sf_dir, columns):
    pq.write_table(
        pa.table({c: pa.array([0, 1, 2], pa.int64()) for c in columns}),
        sf_dir / "region.parquet",
    )


def test_rewritten_table_is_reinferred(spark, tmp_path):
    _write_region(tmp_path, ["r_regionkey"])
    load_table(spark, str(tmp_path), "region")
    old, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n == 0 and old.columns == ["r_regionkey"]

    _write_region(tmp_path, ["r_regionkey", "r_extra"])
    new, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n == 1
    assert new.columns == ["r_regionkey", "r_extra"]
    assert new.count() == 3


def test_schema_conf_change_misses_the_memo(spark, tmp_path):
    _write_region(tmp_path, ["r_regionkey"])
    a, b = spark.newSession(), spark.newSession()
    a.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    b.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load_table(a, str(tmp_path), "region")
    _, n = _jobs(a, lambda: load_table(a, str(tmp_path), "region"))
    assert n == 0
    _, n = _jobs(b, lambda: load_table(b, str(tmp_path), "region"))
    assert n == 1
