"""Fold multiple full bench captures into one canonical record.

Per-query MIN across captures (the round-13 canonical method: each
capture shows distinct transient neighbor-burst blocks on untouched
code, and the per-query min removes them).

Usage: python scripts/fold_bench.py out.json capture1.json [capture2.json ...]
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    out_path = sys.argv[1]
    captures = []
    for p in sys.argv[2:]:
        with open(p) as f:
            captures.append(json.load(f))
    queries: dict[str, float] = {}
    for c in captures:
        for k, v in c["queries"].items():
            queries[k] = min(queries.get(k, float("inf")), v)
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": captures[0]["sf"],
        "shuffle_partitions": captures[0]["shuffle_partitions"],
        "parallelism": captures[0]["parallelism"],
        "strategy": f"min-of-{len(captures)}-captures",
        "captures": [
            {
                "total": c["value"],
                "load_1m_start": c["load_1m_start"],
                "load_1m_end": c["load_1m_end"],
                "control_drift": c["control_drift"],
                "drift_redo": c.get("drift_redo"),
            }
            for c in captures
        ],
        "control_query": "pricing_summary",
        "control_quiet_ref_sec": 0.70,
        "control_drift": min(c["control_drift"] for c in captures),
        "queries": queries,
        "note": (
            "canonical record: per-query min across same-code "
            "quiet-start captures (each with bench.py's own best-of-2 + "
            "drift-redo min-folding inside), the round-13 method"
        ),
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"{out_path}: {record['value']}s over {len(queries)} queries "
          f"(drift {record['control_drift']})")


if __name__ == "__main__":
    main()
