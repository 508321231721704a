"""Dump ``explain("formatted")`` for named queries.

Usage: python scripts/dump_plans.py <tag> <suffix> <query> [query ...]

Writes /tmp/mrfs_plans/<tag>/<query>_<suffix>.txt (e.g. suffix =
before|after), for reading Exchange counts, join strategies,
PushedFilters and Python-eval nodes side by side.  The plan facts that
must hold are assertions in tests/test_plans.py and
tests/test_plan_lint.py; these dumps are not committed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out = os.path.join("/tmp/mrfs_plans", tag)
    os.makedirs(out, exist_ok=True)

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.plans.registry import QUERIES
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark(f"dump-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        cache.release()
        spark.catalog.clearCache()
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)


if __name__ == "__main__":
    main()
