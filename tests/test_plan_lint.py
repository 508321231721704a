"""Plan lint: structural anti-pattern sweep over EVERY registered query.

test_plans.py asserts positive plan properties on chosen exemplars; this
suite asserts the NEGATIVE space across the whole registry — no
unbounded cartesian product, no row-at-a-time Python evaluation, no
window over a low-cardinality key alone, and no round-robin fan-out in
front of cheap work may appear in any query's physical plan.  All are
scale or job-count bugs that value-level tests can never catch.

Plans are built (not executed) at the smallest SF, once per query for
all the checks.  Queries whose CONSTRUCTION trains a model (k-means)
execute small jobs while building; they are included anyway — the lint
inspects their final plan like any other.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from map_reduce_framework_spark.plans import registry

from .conftest import SF_DIR

#: queries whose plan legitimately contains a CartesianProduct: the
#: deliberate cross-join exemplar only.  Broadcast-scalar crossJoins
#: (avgdl, n_docs, spines) plan as BroadcastNestedLoopJoin, which is
#: fine — a broadcast of 1-row/dim-sized sides, not a shuffle product.
CARTESIAN_OK = {"join_cross"}

#: queries allowed to evaluate Python row-at-a-time: the Spark-4 Python
#: UDTF (its evaluation node is the UDTF contract, Arrow-optimized via
#: the session conf, but plans print as BatchEvalPythonUDTF).
ROW_PYTHON_OK = {"python_udtf_tokens"}


#: queries allowed a round-robin fan-out with no heavy consumer in its
#: stage, name → a one-line measured reason (an interleaved A/B of the
#: row with and without the fan-out; bench.py, sf0.1, 4 cores).
FAN_OUT_OK: dict[str, str] = {
    "clean_corpus": (
        "flags (regex count, sample hash) on the raw scan: one job fewer "
        "but 5.02 vs 4.78 s (4 pairs, medians; 3 of 4 slower)"
    ),
}


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


#: every Python-evaluation exec (MapInPandas, MapInArrow,
#: FlatMapGroupsInPandas, ArrowEvalPython, ...) lives in this package
_PYTHON_EXECS = "org.apache.spark.sql.execution.python."

#: nodes that end a stage for the fan-out check: what sits under them
#: runs in an earlier stage (or, under a cache scan, when the cache is
#: filled)
_STAGE_ENDS = {
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "InMemoryTableScanExec",
    "AdaptiveSparkPlanExec",
}


def _children(node, cls: str) -> list:
    if cls == "AdaptiveSparkPlanExec":
        # the current plan: the initial physical plan (exchanges
        # included, no job run) until the plan executes, then the final
        # one; a filled cache's plan is a final one
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _is_heavy(node, full_cls: str, cls: str) -> bool:
    return (
        full_cls.startswith(_PYTHON_EXECS)
        or cls == "GenerateExec"
        or "lambdafunction" in node.expressions().toString()
    )


def _idle_fan_outs(df) -> list[str]:
    """Every ``RoundRobinPartitioning … REPARTITION_BY_NUM`` exchange
    (:func:`~map_reduce_framework_spark.operators.dedup.fan_out`'s
    shuffle) whose consumer stage — its ancestors up to the next
    exchange, broadcast, cache scan or root — holds no Python node, no
    Generate and no lambda function, described by that consumer chain.

    Walks the physical tree over py4j, cached plans included, so it
    reads node classes instead of the formatted text."""
    found = []

    def walk(node, heavy_above: bool, chain: tuple) -> None:
        full_cls = node.getClass().getName()
        cls = full_cls.rsplit(".", 1)[1]
        if (
            cls == "ShuffleExchangeExec"
            and not heavy_above
            and node.outputPartitioning().getClass().getName().endswith(
                "RoundRobinPartitioning"
            )
            and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            found.append(" < ".join(("RoundRobin",) + chain[::-1]))
        if cls in _STAGE_ENDS:
            heavy_above, chain = False, (cls,)
        elif not cls.endswith("QueryStageExec"):
            heavy_above = heavy_above or _is_heavy(node, full_cls, cls)
            chain = chain + (cls,)
        for kid in _children(node, cls):
            walk(kid, heavy_above, chain)

    walk(df._jdf.queryExecution().executedPlan(), False, ("root",))
    return found


#: name → (formatted plan, simple plan, idle fan-outs): each query is
#: built once for every check in this module
_BUILT: dict[str, tuple[str, str, list[str]]] = {}


def _built(spark, name: str) -> tuple[str, str, list[str]]:
    if name not in _BUILT:
        from map_reduce_framework_spark import cache

        try:
            df = registry.QUERIES[name](spark, SF_DIR)
            _BUILT[name] = (
                _explain(df, "formatted"),
                _explain(df, "simple"),
                _idle_fan_outs(df),
            )
        finally:
            cache.release()
    return _BUILT[name]


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_structural_antipatterns(spark, name):
    plan = _built(spark, name)[0]
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in ROW_PYTHON_OK:
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


#: columns with a handful of distinct values at any scale — a Window
#: partitioned ONLY by these serializes each key's whole history into
#: one task (the round-6 "wrong plan at 100 TB" class; fixed by
#: bucket-slicing or partial-agg+join rewrites)
LOW_CARD_COLS = {
    "event_type", "source", "lang", "kind", "pred_lang",
    "l_returnflag", "l_linestatus", "quality_bucket", "o_orderpriority",
}

#: queries whose plan legitimately windows a LOW-CARD key: the second
#: phase of a two-pass decomposition, where the window input is the
#: BUCKET-LEVEL aggregate (one row per (key, bucket) — kilobytes per
#: key even at 100 TB), not the raw table.  Each is individually
#: plan-audited in test_plans/test_bucket_windows.
AGGREGATE_PHASE_WINDOW_OK = {
    "rolling_zscore",
    "window_range_interval",
    "pack_sequences",
    "window_distribution",
    "mr_wordcount_facade",  # facade contract: global k3 sort of tiny output
    # tercile cuts run over the DISTINCT-(pred_lang, ppl) value table
    # (Window directly above HashAggregate(keys=[pred_lang, ppl]) —
    # bounded by 4-dp value cardinality, never the corpus); audited in
    # test_bucket_windows.test_ccnet_windows_run_over_the_value_table
    "ccnet_buckets",
}

import re  # noqa: E402

_WSPEC = re.compile(r"windowspecdefinition\(([^)]*)\)")


def _partition_cols(plan: str) -> list[set]:
    """Partition-column-name sets for every window spec in a plan."""
    specs = []
    for m in _WSPEC.finditer(plan):
        cols = set()
        for arg in m.group(1).split(","):
            arg = arg.strip()
            if " ASC" in arg or " DESC" in arg or "specifiedwindowframe" in arg:
                break  # order spec begins — partition spec is done
            name = arg.split("#")[0].strip()
            if name:
                cols.add(name)
        specs.append(cols)
    return specs


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_low_cardinality_windows(spark, name):
    """No query may window a RAW table by a low-cardinality key alone:
    every window must carry at least one high-cardinality or bucket
    column in its partition spec (or be an allow-listed second-phase
    window over bucket-level aggregates)."""
    if name in AGGREGATE_PHASE_WINDOW_OK:
        pytest.skip("audited second-phase window over bucket aggregates")
    plan = _built(spark, name)[1]
    for cols in _partition_cols(plan):
        if cols:  # global windows are audited case-by-case elsewhere
            assert not cols <= LOW_CARD_COLS, (
                f"{name}: window partitioned only by low-cardinality "
                f"{sorted(cols)} — one task per key at scale"
            )


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_fan_out_feeds_heavy_work(spark, name):
    """A round-robin fan-out shuffle writes and reads every byte of the
    row once, so it pays only in front of heavy per-row work: a Python
    stage, a Generate (explode) or a higher-order function.  A cheap
    consumer (project, hash, filter, regex count, partial aggregate)
    must read the raw ``load_table`` scan instead."""
    if name in FAN_OUT_OK:
        pytest.skip(FAN_OUT_OK[name])
    idle = _built(spark, name)[2]
    assert not idle, (
        f"{name}: fan-out with no heavy consumer in its stage — feed "
        f"these from the raw scan: {idle}"
    )
