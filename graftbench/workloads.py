"""The benchmark's workloads: which inputs each generates and which
queries one pass runs over them.

Every name is a ``plans.registry.QUERIES`` entry except
:data:`OBJECT_PATH`, the object-path MapReduce facade
(``operators.wordcount_client.wordcount_mr``), which takes a Python list
of (doc, text) pairs rather than a table directory.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa

from . import gen

OBJECT_PATH = "wordcount_mr"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: the table the session set-up scans once
    scan_table: str
    tables: Callable[[int], dict[str, pa.Table]]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="star_sql",
            why=(
                "Four SQL/TPC-H queries over a 60k-lineitem star schema: JVM-only "
                "and bound by job count; the bypass workload for every corpus-side change"
            ),
            queries=(
                "pricing_summary",
                "tpch_q5_local_supplier_volume",
                "tpch_q21_waiting_suppliers",
                "sessionize",
            ),
            scan_table="lineitem",
            tables=lambda seed: gen.star_tables(seed, orders=15_000, events=10_000),
        ),
        Workload(
            name="corpus_500",
            why=(
                "Corpus cleaning and the object-path MapReduce contract on a 500-doc "
                "corpus: Python workers, connected-components sweeps, branch overlap, caches"
            ),
            queries=(
                "clean_corpus",
                OBJECT_PATH,
            ),
            scan_table="documents",
            tables=lambda seed: gen.corpus_tables(seed, docs=500, vecs=500),
        ),
    )
}


def all_queries() -> list[str]:
    """Every query any workload runs, each once, in workload order."""
    return list(dict.fromkeys(q for w in WORKLOADS.values() for q in w.queries))
