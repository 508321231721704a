"""Driver-side concurrent materialization of independent query branches.

Guide §2.6 (stragglers and idle capacity): Spark happily runs several
jobs at once inside one application — actions are only sequential
because driver code calls them sequentially.  A composite query with
a branch that schedules small sequential driver actions *and* an
independent heavy branch that the final join consumes can overlap
them: the heavy branch's tasks back-fill the cores the small jobs
leave idle, and the composite's wall approaches max(branches) instead
of sum(branches).  The one user left is ccnet_buckets (its KN scorer
beside the dedup keeplist): an interleaved A/B at sf0.1 on 4 cores
(5 pairs, medians) kept it at 9.52 s on vs 10.32 s off, while the
overlaps in clean_corpus (4.56 vs 4.50 s) and dedup_keeplist_quality
(3.33 vs 3.26 s) stopped paying once the keeplist's connected
components ran on the driver, and were removed.

Threading contract (see :mod:`.cache`): the tracked-persist registry is
single-threaded, so DataFrames must be CONSTRUCTED (and
``persist_tracked``-ed) on the main driver thread — only the *action*
(a noop-sink save that populates the persisted blocks) runs on the
background thread.  ``pyspark.InheritableThread`` carries the
job-group/description thread-locals per the Spark docs.

This changes scheduling only — the same deterministic DAG is computed
either way, so results are bit-identical (the background action merely
populates the persist cache the final plan would otherwise populate
itself).
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame

logger = logging.getLogger("map_reduce_framework_spark.parallel")


#: Branch overlap on; off is the sequential shape, where the final action
#: materializes every branch.  Tests flip it to pin that both shapes
#: return the same rows.
OVERLAP = True


class _Handle:
    """Join handle for a background materialization."""

    def __init__(self, thread, box: dict):
        self._thread = thread
        self._box = box

    def wait(self) -> None:
        """Block until the background action finishes; re-raise its
        exception, if any, on the calling thread."""
        self._thread.join()
        if "exc" in self._box:
            raise self._box["exc"]


def materialize_async(df: DataFrame, desc: str | None = None) -> _Handle:
    """Start computing ``df`` (noop sink → populates its persist cache)
    on a background driver thread; returns a handle to :meth:`wait` on.

    ``df`` must already be fully constructed — build it (and any
    ``persist_tracked``) on the main thread first; only the action runs
    here.
    """
    from pyspark import InheritableThread

    sc = df.sparkSession.sparkContext
    box: dict = {}

    def run() -> None:
        try:
            if desc is not None:
                sc.setJobDescription(desc)
            df.write.format("noop").mode("overwrite").save()
        except BaseException as e:  # noqa: BLE001 — must cross threads
            box["exc"] = e

    t = InheritableThread(target=run, daemon=True)
    t.start()
    return _Handle(t, box)


@contextmanager
def co_materialize(df: DataFrame, desc: str | None = None):
    """Context manager: materialize ``df`` concurrently with the body.

    The body runs the *other* (typically iterative, many-small-jobs)
    branch on the main thread; on exit the background action is joined
    and its exception, if any, re-raised.  If the body itself raises,
    the background action is still joined so no job outlives the
    query's construction; the body's exception wins, and the background
    one is logged with its cause instead of being raised.

    With :data:`OVERLAP` off this is a no-op (``df`` stays lazy; the
    final action computes it, the sequential shape).
    """
    if not OVERLAP:
        yield None
        return
    h = materialize_async(df, desc)
    try:
        yield h
    except BaseException:
        try:
            h.wait()
        except BaseException:  # noqa: BLE001 — body's exception wins
            logger.warning(
                "co_materialize: background action %r failed while the body "
                "was failing; raising the body's error",
                desc,
                exc_info=True,
            )
        raise
    h.wait()
