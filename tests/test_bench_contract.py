"""bench.py's driver contract: every headline name resolves, and the
one-line JSON record stays small enough for the driver's byte-bounded
stdout capture (rounds 9-10 lost the FRONT of ~4 KB default-separator
lines and recorded `parsed: null`; round 11 moved to compact
separators + a BENCH_LOCAL.json copy — pin both properties)."""

from __future__ import annotations

import ast
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_module():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench.py",
    )
    spec = importlib.util.spec_from_file_location("bench_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_every_headline_query_is_registered():
    from map_reduce_framework_spark.plans import registry

    bench = _bench_module()
    missing = [q for q in bench.HEADLINE if q not in registry.QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_compact_record_fits_the_capture_window():
    """A worst-case STDOUT record must stay comfortably under the
    observed ~2 KB driver capture bound when serialized compactly.
    Since round 12 the stdout line carries only the 5 slowest queries
    (the full map goes to BENCH_LOCAL.json), so its size is bounded by
    the metadata fields, not by HEADLINE's length — model the actual
    round-13 shape incl. the load gate + control-drift fields."""
    longest = "a_very_long_query_name_padding_x"
    record = {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "unit": "sec",
        "sf": 0.1,
        "shuffle_partitions": "32",
        "parallelism": 32,
        "runs_per_query": 2,
        "strategy": "min",
        "load_1m_start": 99.99,
        "load_1m_end": 99.99,
        "load_gate": {"threshold": 2.0, "waited_sec": 600, "satisfied": False},
        "control_query": "pricing_summary",
        "control_quiet_ref_sec": 0.70,
        "control_drift": 99.999,
        "drift_redo": {
            "threshold": 1.15,
            "passes": 9,
            "history": [99.999, 99.999, 99.999],
        },
        "n_queries": 999,
        "queries": {f"{longest}{i}": 9999.999 for i in range(5)},
        "full_record": "BENCH_LOCAL.json",
    }
    line = json.dumps(record, separators=(",", ":"))
    assert len(line) < 2_000, (
        f"bench stdout record is {len(line)} bytes; the driver capture "
        "clipped ~2 KB lines — trim the metadata or the slowest-5 list"
    )


def test_scripts_build_sessions_through_get_spark():
    """bench.py and every script take the engine's own session
    (``session.get_spark``: UTC, Arrow, AQE, core count); only
    ``driver_sim.py`` builds a vanilla one on purpose, to match the
    external driver."""
    import glob

    paths = [os.path.join(ROOT, "bench.py")] + sorted(
        glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    )
    allowed = os.path.join(ROOT, "scripts", "driver_sim.py")
    offenders = []
    for path in paths:
        if path == allowed:
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and isinstance(node.value, ast.Name)
                and node.value.id == "SparkSession"
            ):
                offenders.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not offenders, f"SparkSession.builder outside get_spark: {offenders}"


def test_drift_only_against_a_matching_calibration():
    """The control drift divides by a time recorded at one SF and core
    count; any other setting gets no drift, so it triggers no redo pass."""
    bench = _bench_module()
    sf, cores = bench.CONTROL_REF_SF, bench.CONTROL_REF_PARALLELISM
    t = {bench.CONTROL_QUERY: 2 * bench.CONTROL_REF_SEC, "join_equi": 1.0}
    assert bench.drift_of(t, sf, cores) == 2.0
    assert bench.drift_of(t, 0.01, cores) is None
    assert bench.drift_of(t, sf, 4) is None
    assert bench.drift_of({"join_equi": 1.0}, sf, cores) is None


def test_sf_read_from_directory_name():
    bench = _bench_module()
    assert bench.sf_of("/data/sf0.1") == 0.1
    assert bench.sf_of("/data/sf0.01/") == 0.01
    assert bench.sf_of("/tmp/mrfs_sf1") == 1.0
    assert bench.sf_of("/tmp/corpus") == -1.0
