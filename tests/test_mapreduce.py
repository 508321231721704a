"""Property + contract tests for the Layer B facade (SURVEY §2.3 a–g).

``run_map_reduce`` (distributed, Spark) is compared against
``run_map_reduce_local`` (pure single-threaded reference model) on
hypothesis-generated inputs, order-insensitively within equal keys (§2.3b).
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_framework_spark.mapreduce import (
    run_map_reduce,
    run_map_reduce_local,
)

# ---- reference model helpers -------------------------------------------


def normalize(out):
    """§2.3b: canonical form = sorted by key, multiset within key."""
    return sorted(Counter(out).items(), key=lambda x: (repr(x[0][0]), repr(x)))


def assert_equivalent(spark_out, model_out):
    # §2.3a: the spark output must already be sorted by k3
    keys = [k for k, _ in spark_out]
    assert all(not (keys[i + 1] < keys[i]) for i in range(len(keys) - 1)), (
        "output not sorted by k3"
    )
    assert normalize(spark_out) == normalize(model_out)


# ---- map/reduce function zoo (multi-emit, 0-emit, dup-emit) -------------


def m_identity(k, v):
    yield k, v


def m_multi(k, v):
    # 0..n emits incl. duplicates (§2.3d,e)
    for i in range(v % 3):
        yield (k % 5), v
        if v % 4 == 0:
            yield (k % 5), v  # duplicate pair


def m_swap(k, v):
    yield v, k


def r_concat_sorted(k, vals):
    # non-associative reduce: needs the WHOLE group in one call (§2.3f)
    yield k, tuple(sorted(vals))


def r_count(k, vals):
    yield k, len(vals)


def r_explode(k, vals):
    # 1 group -> n outputs, incl. duplicate k3s across groups
    for v in vals:
        yield len(vals), v


def r_empty_small(k, vals):
    if len(vals) > 2:
        yield k, sum(vals)


MAPS = {"identity": m_identity, "multi": m_multi, "swap": m_swap}
REDUCES = {
    "concat": r_concat_sorted,
    "count": r_count,
    "explode": r_explode,
    "empty_small": r_empty_small,
}

pairs_strategy = st.lists(
    st.tuples(st.integers(-20, 20), st.integers(0, 20)), max_size=60
)


@pytest.mark.parametrize("m_name", sorted(MAPS))
@pytest.mark.parametrize("r_name", sorted(REDUCES))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=pairs_strategy)
def test_facade_matches_model(spark, m_name, r_name, items):
    got = run_map_reduce(spark, items, MAPS[m_name], REDUCES[r_name], 4)
    want = run_map_reduce_local(items, MAPS[m_name], REDUCES[r_name])
    assert_equivalent(got, want)


# ---- §2.3c: comparator-equivalence keys (no __eq__ / __hash__) ----------


class CmpKey:
    """Key class defining ONLY __lt__ — like k2Base (Search.cpp:39-43).

    Default __eq__ is identity, default __hash__ is id-based: hash- or
    eq-based grouping would put comparator-equal instances in different
    groups; the sort-based facade must merge them.
    """

    def __init__(self, n):
        self.n = n

    def __lt__(self, other):
        return self.n < other.n

    def __repr__(self):
        return f"CmpKey({self.n})"


def m_wrap_key(k, v):
    yield CmpKey(k % 4), v


def r_key_stats(k, vals):
    yield k.n, (len(vals), sum(vals))


def test_comparator_equivalence_grouping(spark):
    items = [(i, i) for i in range(40)]
    got = run_map_reduce(spark, items, m_wrap_key, r_key_stats, 4)
    want = run_map_reduce_local(items, m_wrap_key, r_key_stats)
    # 4 equivalence classes despite 40 distinct CmpKey instances
    assert len(got) == 4
    assert_equivalent(got, want)


class LtOnlyKey:
    """A key that can ONLY be compared with ``<``: equality and hashing
    raise, so any grouping, partitioning or sorting step that consults
    them fails the test."""

    def __init__(self, n):
        self.n = n

    def __lt__(self, other):
        return self.n < other.n

    def __eq__(self, other):
        raise AssertionError("key compared with ==")

    def __hash__(self):
        raise AssertionError("key hashed")


def m_lt_only_key(k, v):
    yield LtOnlyKey(k % 5), v


def r_lt_only_stats(k, vals):
    yield LtOnlyKey(k.n), (len(vals), sum(vals))


def test_grouping_uses_lt_only(spark):
    items = [(i, i) for i in range(60)]
    got = run_map_reduce(spark, items, m_lt_only_key, r_lt_only_stats, 4)
    assert [(k.n, v) for k, v in got] == [
        (j, (12, sum(range(j, 60, 5)))) for j in range(5)
    ]


def test_all_keys_comparator_equal(spark):
    # one equivalence class over many partitions: every value reaches one
    # reduce call, however the range bounds fall (§2.3c,f)
    items = [(i, i) for i in range(50)]

    def m_one_class(k, v):
        yield CmpKey(7), v

    got = run_map_reduce(spark, items, m_one_class, r_key_stats, 4)
    assert got == [(7, (50, sum(range(50))))]


def test_more_partitions_than_keys(spark):
    items = [(i, i) for i in range(30)]
    got = run_map_reduce(spark, items, m_wrap_key, r_key_stats, 16)
    assert_equivalent(got, run_map_reduce_local(items, m_wrap_key, r_key_stats))
    assert len(got) == 4


def test_empty_input(spark):
    assert run_map_reduce(spark, [], m_identity, r_count) == []


def test_zero_emit_map(spark):
    # map that never emits -> empty output (§2.3e); at 2 partitions the
    # range bounds come from an empty sample
    def m_none(k, v):
        return iter(())

    assert run_map_reduce(spark, [(1, 1), (2, 2)], m_none, r_count, 2) == []


def test_duplicates_preserved(spark):
    # n identical (k3, v3) pairs must appear n times (§2.3d)
    def m_dup(k, v):
        yield 1, 1
        yield 1, 1

    def r_passthrough(k, vals):
        for v in vals:
            yield k, v

    out = run_map_reduce(spark, [(0, 0), (0, 0)], m_dup, r_passthrough)
    assert out == [(1, 1)] * 4


def test_whole_group_single_call(spark):
    # reduce called exactly once per distinct key, with every value (§2.3f)
    items = [(k, v) for k in range(7) for v in range(k + 1)]

    def r_snapshot(k, vals):
        yield k, tuple(sorted(vals))

    out = run_map_reduce(spark, items, m_identity, r_snapshot, 3)
    assert out == [(k, tuple(range(k + 1))) for k in range(7)]


# ---- heterogeneous key types: strings and tuples (both only need <) ----


def m_str_key(k, v):
    yield f"k{k % 5}", v


def m_tuple_key(k, v):
    yield (k % 3, k % 2), v


@pytest.mark.parametrize("m_name", ["str", "tuple"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=pairs_strategy)
def test_facade_nonint_keys(spark, m_name, items):
    m = {"str": m_str_key, "tuple": m_tuple_key}[m_name]
    got = run_map_reduce(spark, items, m, r_concat_sorted, 4)
    want = run_map_reduce_local(items, m, r_concat_sorted)
    assert_equivalent(got, want)
