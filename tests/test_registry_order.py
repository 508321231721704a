"""A correctness pass checks only the first ``registry.WINDOW``
``queries()`` entries (insertion order).  The window is chosen by a rule
over the correctness records (``registry.driver_window``): these tests pin the
rule on fake records and its invariants on the real ones."""

from __future__ import annotations

import json

import pytest

from map_reduce_framework_spark.plans import registry

GREEN = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}
RED = {**GREEN, "hash_match": False}


def _record(tmp_path, rnd: int, rows: dict) -> None:
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_rule_on_fake_records(tmp_path):
    _record(tmp_path, 1, {"a": GREEN, "b": GREEN, "c": GREEN, "d": GREEN})
    _record(tmp_path, 2, {"a": RED, "b": GREEN, "d": GREEN})
    _record(tmp_path, 3, {"c": GREEN})
    assert registry.last_green_rounds(tmp_path) == {"a": 1, "b": 2, "c": 3, "d": 2}
    oracles = dict.fromkeys("abcdn", "SELECT 1")

    def window(changed):
        return registry.driver_window("dcbaxn", oracles, tmp_path, changed)

    # n never went green; a red row does not count, so a sorts at r1; b and
    # d tie at r2 and go alphabetically; x has no oracle
    assert window([]) == ["n", "a", "b", "d", "c"]
    # a CHANGED name counts as round 0: ahead of every green row, even
    # the stalest
    assert window(["c"]) == ["c", "n", "a", "b", "d"]


def test_changed_names_must_be_queries(monkeypatch):
    monkeypatch.setattr(registry, "CHANGED", ["no_such_query"])
    with pytest.raises(ValueError, match="no_such_query"):
        registry._collect()


def test_driver_window_is_first_50():
    keys = list(registry.get_queries())
    assert len(registry.DRIVER_WINDOW) == registry.WINDOW
    assert keys[: registry.WINDOW] == registry.DRIVER_WINDOW


def test_every_window_query_has_an_oracle():
    missing = set(registry.DRIVER_WINDOW) - set(registry.get_oracles())
    assert not missing, f"window rows with no oracle: {sorted(missing)}"


def test_window_takes_the_stalest_rows():
    green = registry.last_green_rounds(registry.RECORDS)
    window = set(registry.DRIVER_WINDOW)
    oracle_backed = set(registry.get_oracles())
    picked = [green.get(q, 0) for q in window - set(registry.CHANGED)]
    left_out = [green.get(q, 0) for q in oracle_backed - window]
    assert min(left_out, default=99) >= max(picked, default=0)
    stalest = min(green.get(q, 0) for q in oracle_backed)
    stale_rows = {q for q in oracle_backed if green.get(q, 0) == stalest}
    assert stale_rows <= window, (
        f"CHANGED pushes stalest rows out: {sorted(stale_rows - window)}"
    )


def test_every_query_has_a_driver_row_across_rounds():
    """Every oracle-backed query has been green once, or is in the
    window now."""
    green = registry.last_green_rounds(registry.RECORDS)
    unchecked = set(registry.get_oracles()) - set(green) - set(registry.DRIVER_WINDOW)
    assert not unchecked, f"never driver-checked: {sorted(unchecked)}"


def test_changed_rows_in_window():
    assert {"clean_corpus", "dedup_keeplist_quality"} <= set(registry.CHANGED)
    assert set(registry.CHANGED) <= set(registry.DRIVER_WINDOW)


def test_every_query_still_registered():
    # the reorder must not drop or duplicate anything
    names = list(registry.get_queries())
    assert len(names) == len(set(names))
    registered = {
        name for mod in registry._MODULES for name in getattr(mod, "QUERIES", {})
    }
    assert set(names) == registered
