"""Correctness check of collected results against reference answers.

Table queries are compared with their ``plans.registry.ORACLES`` DuckDB
answer through ``tests/conftest.py::assert_frames_match``; the
object-path MapReduce result is compared with
``mapreduce.run_map_reduce_local``.  A 0-row result fails.

Oracles are slower than the queries they check, so each oracle answer
is reduced to the digest of its normalized frame and cached per
(workload, seed, generator version, query).  A cached digest that equals
the digest of the Spark result passes without running the oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import Future, ThreadPoolExecutor

import pandas as pd

from tests.conftest import _normalize, assert_frames_match

from . import gen


def digest(pdf: pd.DataFrame) -> str:
    norm = _normalize(pdf)
    h = hashlib.sha256(",".join(norm.columns).encode())
    h.update(norm.to_csv(index=False, header=False).encode())
    return h.hexdigest()


class DigestCache:
    """Oracle digests in one JSON file, rewritten atomically on update."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path, encoding="utf-8") as f:
                self._d = json.load(f)
        except (OSError, ValueError):
            self._d = {}

    @staticmethod
    def key(workload: str, seed: int, query: str) -> str:
        return f"{workload}/{seed}/{gen.GEN_VERSION}/{query}"

    def get(self, key: str) -> str | None:
        return self._d.get(key)

    def put(self, key: str, value: str) -> None:
        self._d[key] = value
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self._d, f, sort_keys=True)
        os.replace(tmp, self.path)


class Oracles:
    """Runs DuckDB oracles on one background thread, so the answers a
    check pass needs are computed while the Spark collect pass runs."""

    def __init__(self, data_dir: str, sqls: dict[str, str], threads: int = 2):
        import duckdb

        self._sqls = sqls
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {threads}")
        for f in sorted(os.listdir(data_dir)):
            table, ext = os.path.splitext(f)
            if ext == ".parquet":
                path = os.path.join(data_dir, f)
                self._con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._futures: dict[str, Future] = {}

    def prefetch(self, name: str) -> None:
        if name not in self._futures:
            sql = self._sqls[name]
            self._futures[name] = self._pool.submit(lambda: self._con.execute(sql).df())

    def result(self, name: str) -> pd.DataFrame:
        self.prefetch(name)
        return self._futures[name].result()

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)
        self._con.close()


def check_frame(
    name: str, got: pd.DataFrame, cached: str | None, oracle
) -> tuple[str | None, str | None]:
    """Check one collected table result.  ``cached`` is the oracle digest
    from an earlier run or None; ``oracle()`` returns the oracle frame.
    Returns (error or None, oracle digest to cache or None)."""
    if len(got) == 0:
        return f"{name}: 0-row result", None
    if cached is not None and digest(got) == cached:
        return None, None
    expected = oracle()
    try:
        assert_frames_match(got, expected, name)
    except AssertionError as e:
        return str(e), None
    return None, digest(expected)


def check_pairs(name: str, got: list, expected: list) -> str | None:
    """Check an object-path result list against the local reference."""
    if not got:
        return f"{name}: 0-row result"
    if got != expected:
        bad = next(
            (i for i, (a, b) in enumerate(zip(got, expected)) if a != b),
            min(len(got), len(expected)),
        )
        return (
            f"{name}: {len(got)} vs {len(expected)} pairs, first difference at "
            f"{bad}: {got[bad:bad + 1]} vs {expected[bad:bad + 1]}"
        )
    return None
