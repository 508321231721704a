"""Persisted operator intermediates must not outlive their query.

Round-5 structural guarantee: registry-wrapped queries ``adopt`` their
staged persists onto the result DataFrame, so a plain
``QUERIES[name](spark, sf)`` + action leaks nothing once the caller
drops the result — no explicit ``cache.release()`` required.  Raw
operator functions still stage, and ``release()`` still clears them.
"""

from __future__ import annotations

import gc

import pytest

from map_reduce_framework_spark import cache
from map_reduce_framework_spark.plans import registry

from .conftest import SF_DIR

# the queries whose operators persist intermediates (posting lists,
# MinHash/SimHash signature tables, embedding matrices)
CACHE_HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_ivf_kmeans",
    "kmeans_embeddings",
    # round-6 third batch: Bloom corpus key set, BPE vocab table
    "dedup_incremental_bloom",
    "bpe_train_merges",
    "bpe_segment_docs",
    "dedup_incremental_minhash",
    # NOTE: the indexed twin persists nothing per-run (the index is a
    # table); deliberately not listed here
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _zero_persistent_baseline(spark):
    """Deterministic baseline: earlier test modules (graph peels, CC
    pipelines) leave ``localCheckpoint`` RDD blocks whose cleanup is
    ASYNC (driver GC → ContextCleaner), so the pre-test persistent-RDD
    count is a race, not a constant.  The property under test is
    "THIS query's caches don't outlive its result" — purge every
    persistent RDD up front so the assertions measure exactly that."""
    # py4j exposes the java.util.Map as a dict-like JavaMap
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist()
    spark.catalog.clearCache()
    cache.release()
    assert _n_persistent(spark) == 0
    yield


@pytest.mark.parametrize("name", CACHE_HEAVY)
def test_structural_release_without_explicit_call(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    df.count()
    assert _n_persistent(spark) > 0, f"{name}: expected a tracked persist"
    # the caller drops the result — adopted caches must go with it,
    # with NO cache.release() call anywhere
    del df
    gc.collect()
    assert _n_persistent(spark) == 0, f"{name}: cache outlived the result"


def test_raw_operator_persists_clear_on_release(spark):
    from map_reduce_framework_spark.operators import dedup

    dedup.dedup_minhash_lsh(spark, SF_DIR).count()
    assert _n_persistent(spark) > 0, "expected a staged persist"
    assert cache.release() > 0
    assert _n_persistent(spark) == 0, "cache survived release()"


def test_release_is_idempotent(spark):
    assert cache.release() == 0


def test_failed_query_does_not_leak_staged_persists_to_next(spark):
    """A query that raises AFTER staging persists must not hand its
    caches to the next query's result (round-6 ADVICE): the registry
    wrapper releases staged entries on exception."""
    from map_reduce_framework_spark.plans.registry import _structural_release

    def failing(spark_, sf_dir_):
        from map_reduce_framework_spark.operators import dedup

        e = dedup._shingle_exploded(spark_, sf_dir_)  # stages a persist
        e.count()
        raise RuntimeError("boom after staging")

    with pytest.raises(RuntimeError, match="boom"):
        _structural_release(failing)(spark, SF_DIR)
    # nothing staged for the NEXT query to adopt, nothing left persisted
    assert cache._TRACKED == []
    assert _n_persistent(spark) == 0, "failed query leaked its persist"


def test_failed_unpersist_is_logged_and_not_counted(caplog):
    """An unpersist that raises (e.g. on a stopped session) is left out
    of the count and logged at debug level with its traceback."""

    class _Stopped:
        def unpersist(self):
            raise RuntimeError("session stopped")

    class _Live:
        def unpersist(self):
            pass

    with caplog.at_level("DEBUG", logger="map_reduce_framework_spark.cache"):
        assert cache._unpersist_all([_Stopped(), _Live()]) == 1
    (rec,) = caplog.records
    assert rec.levelname == "DEBUG"
    assert "session stopped" in str(rec.exc_info[1])


def test_shared_plan_cache_lives_while_any_owner_does(spark):
    """Spark keys a cache by plan, so two owners that adopted persists
    of the same plan share one cache entry: dropping the first owner
    must leave it cached for the second, and dropping the second must
    release it."""

    def plan():
        return spark.range(1000).selectExpr("id * 7 AS x")

    def owner():
        cache.persist_tracked(plan())
        return cache.adopt(spark.range(1))

    first, second = owner(), owner()
    del first
    gc.collect()
    assert plan().storageLevel.useMemory, "first owner's drop uncached the second's"
    del second
    gc.collect()
    assert not plan().storageLevel.useMemory, "cache outlived both owners"


def test_staging_loses_no_persist_under_threads(spark):
    """Threads that stage, adopt and drop at once (more threads than
    cores, a short switch interval) lose no persist: once every owner is
    gone and the leftovers are released, none of the plans is cached
    and no adopted list is left."""
    import sys
    import threading

    n_threads, rounds = 8, 5

    def plan(t, i):
        return spark.range(10 + t * rounds + i)  # one plan per (t, i)

    errors = []

    def work(t):
        try:
            for i in range(rounds):
                cache.persist_tracked(plan(t, i))
                owner = cache.adopt(spark.range(1))
                del owner  # runs the finalizer on this thread
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    cache.release()
    gc.collect()
    assert cache._ADOPTED == {}
    cached = [
        (t, i)
        for t in range(n_threads)
        for i in range(rounds)
        if plan(t, i).storageLevel.useMemory
    ]
    assert cached == []
