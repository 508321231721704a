"""Tracked operator caches: deterministic release of persisted intermediates.

Several operators ``persist()`` an intermediate that BOTH feeds the
returned (lazy) DataFrame and is consumed by more than one downstream
branch (posting lists, MinHash signatures, embedding matrices).  The
driver contract returns lazy DataFrames, so the operator itself cannot
``unpersist()`` before the caller's action without silently losing the
cache.  Two complementary mechanisms keep executor storage flat:

1. **Structural (default)**: the query registry wraps every top-level
   query so its staged persists are :func:`adopt`-ed by the RESULT
   DataFrame — a ``weakref.finalize`` unpersists them the moment the
   caller drops the result (for CPython, immediately after e.g.
   ``toPandas()`` when the result was a temporary).  A plain
   ``QUERIES[name](spark, sf)`` + action therefore leaks nothing, with
   no cooperation from the caller.
2. **Cooperative**: direct callers of raw operator functions (tests,
   notebooks) can still call :func:`release` to drop anything staged.

Why this is safe even for callers that defeat both: the default DF
storage level is MEMORY_AND_DISK with LRU eviction, so a pathological
session degrades to spill/recompute, never OOM.

Concurrency: the registry is process-global and assumes a
SINGLE-THREADED driver session (the driver/bench/pytest shape).  Two
sessions or threads interleaving staged persists could adopt or release
each other's caches; if concurrent drivers are ever expected, key the
staging list per SparkSession and lock mutation.
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame

logger = logging.getLogger("map_reduce_framework_spark.cache")

_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + stage for :func:`adopt` / :func:`release`."""
    _TRACKED.append(df)
    return df.persist()


def _unpersist_all(dfs: list[DataFrame]) -> int:
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # most often the session already stopped — nothing left to
            # release; logged so any other cause is not lost
            logger.debug("unpersist failed; not counted", exc_info=True)
    return n


def adopt(owner: DataFrame) -> DataFrame:
    """Transfer every staged persist to ``owner``'s lifetime: a weakref
    finalizer unpersists them when ``owner`` is garbage-collected, i.e.
    as soon as the caller is done with the result.  Returns ``owner``."""
    if _TRACKED:
        staged = _TRACKED[:]
        _TRACKED.clear()
        # NOTE: the callback must not capture ``owner`` (it would keep it
        # alive forever); binding the staged list via default arg is safe.
        weakref.finalize(owner, _unpersist_all, staged)
    return owner


def release() -> int:
    """Unpersist every STAGED cache (adopted ones release themselves);
    return how many were released."""
    staged = _TRACKED[:]
    _TRACKED.clear()
    return _unpersist_all(staged)
