"""Targeted tests for the extended relational surface (relational_ext).

Oracle equivalence for every oracle-backed query is already covered by the
parametrized suite in test_relational.py; this file tests the properties
the oracle can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_spark.operators import relational_ext as rx
from map_reduce_framework_spark.sources import load_table

from .conftest import SF_DIR


def test_approx_distinct_within_5pct_of_exact(spark):
    """HLL++ estimate must land within 5% of the exact distinct count
    (Spark's default rsd is 5%; the per-group user counts here are small
    enough that the sketch is near-exact)."""
    approx = {
        r["event_type"]: r["approx_users"]
        for r in rx.approx_distinct_hll(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["exact_users"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, est in approx.items():
        assert abs(est - exact[etype]) <= max(1, 0.05 * exact[etype]), (
            etype,
            est,
            exact[etype],
        )


def test_hash_sample_is_deterministic(spark):
    """The md5-keyed sample must be bit-identical across runs (unlike
    TABLESAMPLE) — the whole point of hash sampling for stable eval sets."""
    a = rx.hash_sample(spark, SF_DIR).collect()
    b = rx.hash_sample(spark, SF_DIR).collect()
    assert a == b
    assert sum(r["n_rows"] for r in a) > 0


def test_asof_join_prev_click_is_strictly_earlier(spark):
    """Every matched click must be the same user's strictly-earlier event;
    unmatched purchases keep NULL (left as-of semantics)."""
    rows = rx.asof_join(spark, SF_DIR).collect()
    assert len(rows) > 0
    matched = [r for r in rows if r["prev_click_id"] is not None]
    assert matched, "expected at least one purchase with a prior click"
    for r in matched:
        assert r["prev_click_ts"] < r["ts"]


def test_asof_join_same_timestamp_click_excluded(spark, tmp_path):
    """A click at EXACTLY the purchase's timestamp must not match (oracle
    is strictly c.ts < p.ts); equal-ts clicks tie-break by larger
    event_id.  Synthetic table — the real data can't force ts collisions."""
    import pandas as pd

    evts = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",  # click, earlier
                    "2024-01-01 11:00:00",  # click, same-ts as purchase
                    "2024-01-01 11:00:00",  # purchase
                    "2024-01-01 09:00:00",  # click tie A (same ts as 5)
                    "2024-01-01 09:00:00",  # click tie B -> larger id wins
                ]
            ),
            "user_id": [7, 7, 7, 8, 8],
            "event_type": ["click", "click", "purchase", "click", "click"],
            "value": [0.0] * 5,
            "props": ["{}"] * 5,
        }
    )
    purchase2 = pd.DataFrame(
        {
            "event_id": [6],
            "ts": pd.to_datetime(["2024-01-01 12:00:00"]),
            "user_id": [8],
            "event_type": ["purchase"],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    pd.concat([evts, purchase2]).to_parquet(tmp_path / "events.parquet")
    out = {r["event_id"]: r for r in rx.asof_join(spark, str(tmp_path)).collect()}
    # user 7: same-ts click (id=2) excluded -> strictly-earlier click id=1
    assert out[3]["prev_click_id"] == 1
    # user 8: two clicks at the same earlier ts -> larger event_id (5) wins
    assert out[6]["prev_click_id"] == 5


def test_pivot_unpivot_shapes(spark):
    piv = rx.pivot_priority(spark, SF_DIR)
    assert piv.columns == ["o_orderstatus", *rx.ORDER_PRIORITIES]
    unp = rx.unpivot_measures(spark, SF_DIR)
    n_li = load_table(spark, SF_DIR, "lineitem").count()
    assert unp.count() == 4 * n_li


def test_ann_ivf_recall_vs_exact(spark):
    """IVF with n_probe=2 of 8 cells must recover a meaningful share of
    the exact top-5 (structure check + recall floor; exact recall depends
    on the synthetic geometry)."""
    from map_reduce_framework_spark.operators import similarity as sim

    exact = {
        (r["query_id"], r["cand_id"])
        for r in sim.ann_cosine_topk(spark, SF_DIR).collect()
        if r["rank"] <= sim.IVF_TOP_K
    }
    ivf = {
        (r["query_id"], r["cand_id"])
        for r in sim.ann_ivf(spark, SF_DIR).collect()
    }
    assert ivf, "IVF returned nothing"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.2, f"recall collapsed: {recall}"


def test_connected_components_property(spark, graph_path):
    """CC, on the driver and distributed, must agree with a pure-Python
    union-find on random small graphs (chains, cliques, isolated pairs,
    self-loops), an empty edge list, a self-loop-only graph and a
    64-vertex path."""
    import random

    from map_reduce_framework_spark.operators.graph import connected_components

    rng = random.Random(7)
    graphs = []
    for _ in range(3):
        n = rng.randint(5, 30)
        graphs.append(
            [(rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(3, 40))]
        )
    graphs += [
        [],  # no vertices at all
        [(i, i) for i in range(5)],  # self-loops only: sweep 1 changes nothing
        [(i, i + 1) for i in range(63)],  # a 64-vertex path: several sweeps
    ]
    for trial, edges in enumerate(graphs):
        # union-find reference
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected = {v: find(v) for v in parent}

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["label"]
            for r in connected_components(df, "src", "dst").collect()
        }
        assert got == expected, f"trial {trial}: {sorted(got.items())[:5]}..."


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_connected_components_null_endpoint(spark, graph_path, id_type):
    """A null endpoint is its own (null, null) row and relaxes nothing;
    the output keeps the input's id type."""
    from map_reduce_framework_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(1, None), (2, 3), (3, 1)], f"src {id_type}, dst {id_type}"
    )
    out = connected_components(df, "src", "dst")
    assert [f.dataType for f in out.schema] == [f.dataType for f in df.schema]
    got = sorted(
        (tuple(r) for r in out.collect()), key=lambda r: (r[0] is None, r[0])
    )
    assert got == [(1, 1), (2, 1), (3, 1), (None, None)]


def test_approx_percentile_within_2pct_of_exact(spark):
    """The sketch quantiles must land within 2% of the exact quantiles
    (accuracy gate for the oracle-less rows-only driver check)."""
    from map_reduce_framework_spark.operators.relational_ext import (
        approx_percentile_summary,
    )
    from map_reduce_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    approx = {
        r["l_returnflag"]: r
        for r in approx_percentile_summary(spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        for q in ("p50", "p95"):
            rel = abs(a[q] - exact[flag][q]) / exact[flag][q]
            assert rel <= 0.02, f"{flag} {q}: {rel:.4f}"
