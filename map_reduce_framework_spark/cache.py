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

Shared cache entries: Spark's CacheManager keys a cache by PLAN, so
``a.unpersist()`` also drops the cache of a semantically equal ``b``
that is still live.  Releasing a staged frame is therefore skipped while
another live staged frame (staged, or adopted by a live owner) has the
same semantics; the last holder's release drops the entry.

Concurrency: a finalizer can run on any thread, so one re-entrant lock
guards the staging lists (re-entrant because a garbage collection inside
a locked section can run a finalizer on the same thread).  The staging
list is still process-global: two sessions or threads building queries
at once could adopt each other's staged persists.
"""

from __future__ import annotations

import logging
import threading
import weakref

from pyspark.sql import DataFrame

logger = logging.getLogger("map_reduce_framework_spark.cache")

_LOCK = threading.RLock()
_TRACKED: list[DataFrame] = []
#: the staged lists of live owners, keyed by the list's id
_ADOPTED: dict[int, list[DataFrame]] = {}


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + stage for :func:`adopt` / :func:`release`."""
    with _LOCK:
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


def _shares_cache(df: DataFrame, live: list[DataFrame]) -> bool:
    try:
        return any(df.sameSemantics(other) for other in live)
    except Exception:
        logger.debug("sameSemantics failed; releasing", exc_info=True)
        return False


def _release_unshared(staged: list[DataFrame]) -> int:
    """Unpersist each of ``staged`` (already unlisted) that no live
    staged frame shares a cache entry with.  Call with ``_LOCK`` held."""
    live = _TRACKED[:]
    for dfs in list(_ADOPTED.values()):  # a finalizer may pop meanwhile
        live += dfs
    return _unpersist_all([df for df in staged if not _shares_cache(df, live)])


def _release_adopted(key: int) -> None:
    with _LOCK:
        _release_unshared(_ADOPTED.pop(key))


def adopt(owner: DataFrame) -> DataFrame:
    """Transfer every staged persist to ``owner``'s lifetime: a weakref
    finalizer unpersists them when ``owner`` is garbage-collected, i.e.
    as soon as the caller is done with the result.  Returns ``owner``."""
    with _LOCK:
        if _TRACKED:
            staged = _TRACKED[:]
            _ADOPTED[id(staged)] = staged  # listed before unstaged
            _TRACKED.clear()
            # NOTE: the callback must not capture ``owner`` (it would
            # keep it alive forever)
            weakref.finalize(owner, _release_adopted, id(staged))
    return owner


def release() -> int:
    """Unpersist every STAGED cache (adopted ones release themselves);
    return how many were released."""
    with _LOCK:
        staged = _TRACKED[:]
        _TRACKED.clear()
        return _release_unshared(staged)
