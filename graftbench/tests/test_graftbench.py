"""Tests of the benchmark itself; none starts Spark.

Run from the repository root: ``python -m pytest graftbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd
import pytest

from graftbench import check, gen, trace
from graftbench.workloads import OBJECT_PATH, WORKLOADS, Workload, all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _file_digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic(tmp_path, name):
    wl = WORKLOADS[name]
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_tables(str(tmp_path / sub), wl.tables(seed))
    a, b, c = (_file_digests(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_corpus_statistics():
    docs = gen.corpus_tables(3, docs=4000, vecs=100)["documents"].to_pandas()
    lengths = docs["text"].str.split().str.len()
    assert lengths.between(10, 100).all()
    assert set(docs["text"].str.split().explode()) == set(gen.VOCAB)
    assert docs["source"].nunique() == gen.N_SOURCES
    assert set(docs["lang"]) == set(gen.LANGS)
    assert 0 < docs["text"].duplicated().sum() < 0.01 * len(docs)


def test_every_named_query_resolves():
    from map_reduce_framework_spark.operators import wordcount_client
    from map_reduce_framework_spark.plans import registry

    for wl in WORKLOADS.values():
        for q in wl.queries:
            if q == OBJECT_PATH:
                assert callable(getattr(wordcount_client, q))
            else:
                assert q in registry.QUERIES and q in registry.ORACLES, q


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in doc["workloads"]] == [w.why for w in WORKLOADS.values()]
    names = [m["name"] for m in doc["per_layer"]]
    assert names == trace.metric_names(all_queries())
    assert [m["unit"] for m in doc["per_layer"]] == [trace.unit(n) for n in names]
    for n in names:
        assert any(n.startswith(prefix) for prefix in trace.MOVES), n
    assert {m["name"] for m in doc["end_to_end"]} == {"setup_s", "jobs_per_pass"}


def _star_bench(tmp_path, corrupt: str | None):
    """A check pass over star_sql whose Spark results are replaced by the
    oracle answers, with one of them corrupted."""
    from map_reduce_framework_spark.plans import registry

    from graftbench.run import Bench

    wl = Workload("star_small", "test", WORKLOADS["star_sql"].queries, "lineitem",
                  WORKLOADS["star_sql"].tables)
    data = str(tmp_path / "inputs")
    gen.write_tables(data, wl.tables(5))
    con = duckdb.connect()
    for t in wl.tables(5):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    answers = {q: con.execute(registry.ORACLES[q]).df() for q in wl.queries}
    if corrupt:
        bad = answers[corrupt].copy()
        col = bad.select_dtypes("number").columns[0]
        bad.loc[0, col] = bad.loc[0, col] * 2 + 1
        answers[corrupt] = bad

    bench = Bench(wl, 5, data)
    bench.run_query = lambda tag, name, collect: (answers[name], 0.0, 0.0)
    return bench


def test_corrupted_result_raises_failed_frac(tmp_path):
    digests = check.DigestCache(str(tmp_path / "digests.json"))
    clean = _star_bench(tmp_path, None)
    clean.check_pass(digests)
    assert (clean.failed, clean.attempted) == (0, len(clean.wl.queries))

    # the second pass is served from the digest cache and still catches it
    bad = _star_bench(tmp_path, "tpch_q5_local_supplier_volume")
    bad.check_pass(check.DigestCache(digests.path))
    assert bad.failed == 1
    assert bad.failed / bad.attempted == 1 / len(bad.wl.queries)


def test_check_frame_cases():
    good = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    bad = good.assign(v=[1.0, 2.5])
    err, fresh = check.check_frame("q", good, None, lambda: good)
    assert err is None and fresh == check.digest(good)
    assert check.check_frame("q", good.iloc[::-1], fresh, None) == (None, None)
    assert check.check_frame("q", bad, None, lambda: good)[0]
    assert check.check_frame("q", bad, fresh, lambda: good)[0]
    assert check.check_frame("q", good.iloc[:0], None, lambda: good)[0]
    assert check.check_pairs("q", [("a", 1)], [("a", 1)]) is None
    assert check.check_pairs("q", [("a", 2)], [("a", 1)])
    assert check.check_pairs("q", [], [])


def test_pass_layers_self_time_and_job_attribution():
    S = trace.Span
    spans = [
        S(2, 1, "plans.build", "t0", 0.0, 4.0),
        S(3, 2, "sources.load_table", "t0", 0.5, 1.0),
        S(4, 2, "graph.connected_components", "t0", 1.0, 3.0),
        S(1, None, "q.x", "t0", 0.0, 5.0),
        S(5, 1, "plans.action", "t0", 4.0, 5.0),
        S(6, None, "q.x", "other", 0.0, 9.0),
    ]
    job = lambda span, group="t0|x": trace.Job(group, span, [])  # noqa: E731
    jobs = [job(3), job(4), job(4), job(5), job(2), job(None, "other|x")]
    out = trace.pass_layers("t0", spans, jobs, {"x": 5.0}, 5.0, 4, 1.5)
    assert out["sources.load_table.jobs"] == 1
    assert out["graph.connected_components.jobs"] == 2
    assert out["plans.build_jobs"] == 4
    assert out["plans.build_s"] == 4.0
    assert out["operators.self_s"] == pytest.approx(1.5)
    assert out["graph.connected_components.s"] == 2.0
    assert out["spark.jobs"] == 5
    assert out["q.x.jobs"] == 5
    assert out["cache.storage_mb"] == 1.5
