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

from map_reduce_framework_spark import cache
from map_reduce_framework_spark.mapreduce import run_map_reduce
from map_reduce_framework_spark.operators.dedup import fan_out
from map_reduce_framework_spark.operators import cleaning, graph
from map_reduce_framework_spark.plans.registry import QUERIES
from map_reduce_framework_spark.sources import tables
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


@pytest.mark.parametrize("name", TABLES)
def test_fan_out_runs_no_job(spark, name, monkeypatch):
    monkeypatch.setattr(tables, "_PARTITIONS_CACHE", {})
    load_table(spark, SF_DIR, name)  # warms the schema memo
    for memo in ("cold", "warm"):
        _, n = _jobs(spark, lambda: fan_out(load_table(spark, SF_DIR, name)))
        assert n == 0, memo
    assert tables._PARTITIONS_CACHE


#: (query, build-time jobs, action jobs) of the corpus composites,
#: warm: the exact-dup edges and the keeplist's doc_id list read the
#: raw scan, so no round-robin fan-out shuffle runs in front of them
COMPOSITE_JOBS = {
    "keeplist_unsorted": (graph.keeplist_unsorted, 11, None),
    "clean_corpus": (cleaning.clean_corpus, 11, 9),
}


@pytest.mark.parametrize("name", COMPOSITE_JOBS)
def test_corpus_composite_jobs(spark, name):
    fn, build_budget, action_budget = COMPOSITE_JOBS[name]
    spark.catalog.clearCache()  # no other test's cache may stand in
    try:
        fn(spark, SF_DIR)  # warms the schema and partition-count memos
        cache.release()
        df, n = _jobs(spark, lambda: fn(spark, SF_DIR))
        assert n == build_budget
        if action_budget is not None:
            _, n = _jobs(
                spark, lambda: df.write.format("noop").mode("overwrite").save()
            )
            assert n == action_budget
    finally:
        cache.release()


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


def _word_map(k, v):
    for w in v.split():
        yield w, 1


def _sum_reduce(k, vals):
    yield k, sum(vals)


@pytest.mark.parametrize("n, budget", [(1, 1), (2, 2), (4, 2)])
def test_run_map_reduce_jobs(spark, n, budget):
    """One job samples the range bounds (none at n = 1), one shuffles,
    reduces and collects; the k3 sort runs on the driver."""
    items = [(i, f"w{i % 7} w{i % 3} x{i % 11}") for i in range(200)]
    out, jobs = _jobs(
        spark, lambda: run_map_reduce(spark, items, _word_map, _sum_reduce, n)
    )
    assert jobs == budget
    assert sum(c for _, c in out) == 600


#: (edge list, jobs of the distributed connected components plus
#: collecting its result); the inputs converge in 2, 7, 1 and 1 sweeps
CC_INPUTS = {
    "6-clique": ([(i, j) for i in range(6) for j in range(i + 1, 6)], 20),
    "64-vertex path": ([(i, i + 1) for i in range(63)], 65),
    "self-loops only": ([(i, i) for i in range(5)], 11),
    "empty edge list": ([], 4),
}


@pytest.mark.parametrize("name", CC_INPUTS)
def test_connected_components_jobs(spark, name):
    edges, budget = CC_INPUTS[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    _, jobs = _jobs(
        spark,
        lambda: graph._connected_components_distributed(df, "src", "dst").collect(),
    )
    assert jobs == budget


@pytest.mark.parametrize("name", CC_INPUTS)
def test_connected_components_local_jobs(spark, name):
    """Under the edge cap the probe's collect is the only job, however
    many sweeps the distributed path would run."""
    edges, _ = CC_INPUTS[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    _, jobs = _jobs(
        spark, lambda: graph.connected_components(df, "src", "dst").collect()
    )
    assert jobs == 1


@pytest.mark.parametrize("name", [n for n in CC_INPUTS if CC_INPUTS[n][0]])
def test_connected_components_probe_jobs_above_cap(spark, name, monkeypatch):
    """Above the cap the probe's collect is wasted: one job more than
    the distributed path alone."""
    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)
    edges, budget = CC_INPUTS[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    _, jobs = _jobs(
        spark, lambda: graph.connected_components(df, "src", "dst").collect()
    )
    assert jobs == budget + 1
