"""Central query/oracle registry — the single source the driver consumes.

Each operator module contributes ``QUERIES`` (name → callable(spark, sf_dir)
→ DataFrame) and ``ORACLES`` (name → DuckDB ANSI SQL).  A query without an
oracle entry is allowed (non-SQL-expressible op → driver's rows-only check),
but an oracle without a query is a bug, as is a duplicate name.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    audit,
    cleaning,
    clustering,
    dedup,
    graph,
    multimodal,
    relational,
    relational_ext,
    search_client,
    similarity,
    text,
    tpch_extra,
    udfs,
    wordcount_client,
)

_MODULES = [
    audit,
    cleaning,
    relational,
    relational_ext,
    tpch_extra,
    wordcount_client,
    search_client,
    dedup,
    graph,
    similarity,
    clustering,
    text,
    multimodal,
    udfs,
]

#: A correctness pass checks only the first ``WINDOW`` entries of
#: ``queries()``, in insertion order.
WINDOW = 50

#: The correctness records, ``CORRECTNESS_rN.json`` (N = round), sit at
#: the repo root.
RECORDS = Path(__file__).resolve().parents[2]

#: The one hand-kept input to the window: rows whose plan changed this
#: round, so they get a fresh correctness row now whatever their last green
#: round.  Keep it short — it may not push out any row of the stalest
#: round (``tests/test_registry_order.py`` checks that).  Now: the
#: three keeplist composites (cheap consumers read the raw scan, and
#: clean_corpus and dedup_keeplist_quality lost their branch overlap),
#: quality_classifier_score (its bias feature now rides the token
#: explode) and dedup_semantic (its cached embeddings lost the fan-out).
CHANGED = [
    "ccnet_buckets",
    "clean_corpus",
    "dedup_keeplist_quality",
    "dedup_semantic",
    "quality_classifier_score",
]


def last_green_rounds(records: Path) -> dict[str, int]:
    """Each query's last green round: the highest N among
    ``records/CORRECTNESS_rN.json`` whose row for it has no error and
    matching rows, schema and hash.  A malformed record raises."""
    green: dict[str, int] = {}
    for path in sorted(records.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if (
                row["err"] is None
                and row["rows_match"]
                and row["schema_match"]
                and row["hash_match"]
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def driver_window(
    queries: Iterable[str],
    oracles: Mapping[str, str],
    records: Path,
    changed: list[str],
) -> list[str]:
    """The ``WINDOW`` oracle-backed queries the next correctness pass checks:
    stalest last green round first, ties alphabetical.  A name in
    ``changed`` and a query never green both count as round 0."""
    green = last_green_rounds(records)
    return sorted(
        (name for name in queries if name in oracles),
        key=lambda name: (0 if name in changed else green.get(name, 0), name),
    )[:WINDOW]


def _structural_release(fn: Callable) -> Callable:
    """Wrap a query so its operators' staged persists are adopted by the
    returned DataFrame: the caches live exactly as long as the caller
    holds the result — no cooperative ``cache.release()`` needed (see
    :mod:`..cache`)."""
    from functools import wraps

    from .. import cache

    @wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            return cache.adopt(fn(spark, sf_dir))
        except BaseException:
            # a query that fails after staging persists must not hand its
            # caches to the NEXT query's result (whose finalizer would
            # unpersist caches it never owned) — drop them here
            cache.release()
            raise

    return run


def _collect() -> tuple[dict, dict, list[str]]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in _MODULES:
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {mod.__name__}")
            queries[name] = _structural_release(fn)
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name in oracles:
                raise ValueError(f"duplicate oracle name {name!r} in {mod.__name__}")
            oracles[name] = sql
    missing = set(oracles) - set(queries)
    if missing:
        raise ValueError(f"oracles without queries: {sorted(missing)}")
    unknown = set(CHANGED) - set(queries)
    if unknown:
        raise ValueError(f"CHANGED names without queries: {sorted(unknown)}")
    # The correctness window first, the other queries after it in module
    # order: a correctness pass reads the dict in insertion order.
    window = driver_window(queries, oracles, RECORDS, CHANGED)
    ordered = {name: queries[name] for name in window}
    ordered.update(
        {name: fn for name, fn in queries.items() if name not in ordered}
    )
    return ordered, oracles, window


QUERIES, ORACLES, DRIVER_WINDOW = _collect()


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)
