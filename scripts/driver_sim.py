"""Local simulation of the external correctness driver.

Runs each named query (default: the 50-entry ``DRIVER_WINDOW``) on a
deliberately VANILLA SparkSession at sf0.01 alongside its DuckDB oracle
and applies the same compare the driver does (row count + column names +
order-insensitive canonicalized values).

The window is not kept by hand: ``plans.registry.driver_window`` takes
the oracle-backed queries by their last green round in the repo-root
``CORRECTNESS_rN.json`` records (never green counts as round 0), ties
alphabetical, with the short ``registry.CHANGED`` list (rows whose plan
changed this round) at round 0.  Print the upcoming window with

    python -c "from map_reduce_framework_spark.plans import registry; print(registry.DRIVER_WINDOW)"

and pre-validate it before round end:

    python scripts/driver_sim.py                # the driver window
    python scripts/driver_sim.py tpch_q2_min_cost_supplier wordcount
    python scripts/driver_sim.py --all          # every oracle-backed query
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")

#: on mismatch, how many differing rows to dump per side
DIFF_ROWS = 10


def engine_versions() -> dict:
    """The environment facts a cross-host hash mismatch needs recorded
    (round-9 verdict item 1: the driver red row was unreproducible
    locally, so artifacts must carry both engines' builds)."""
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "java_home": os.environ.get("JAVA_HOME", ""),
        "tz": os.environ.get("TZ", "<unset>"),
    }


def explain_mismatch(spark_pdf, oracle_pdf, name: str) -> dict:
    """Value-LEVEL mismatch report: per-column mismatch counts over the
    normalized+sorted frames, plus the first differing rows from both
    engines side by side.  Returns a JSON-able dict (also printed) so a
    red row leaves a diagnosable artifact, not just a hash verdict."""
    from tests.conftest import _normalize

    report: dict = {"query": name, "versions": engine_versions()}
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        report["column_mismatch"] = {"spark": sc, "oracle": oc}
        return report
    if len(spark_pdf) != len(oracle_pdf):
        report["rowcount_mismatch"] = {
            "spark": len(spark_pdf),
            "oracle": len(oracle_pdf),
        }
        return report
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    neq = a != b
    report["n_rows"] = len(a)
    report["per_column_mismatches"] = {
        c: int(neq[c].sum()) for c in a.columns if neq[c].any()
    }
    mask = neq.any(axis=1)
    bad = mask[mask].index[:DIFF_ROWS]
    report["first_diff_rows"] = [
        {
            "row": int(i),
            "spark": a.loc[i].to_dict(),
            "oracle": b.loc[i].to_dict(),
        }
        for i in bad
    ]
    return report


def main(argv: list[str]) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from map_reduce_framework_spark.plans import registry
    from map_reduce_framework_spark.sources.tables import TABLES
    from tests.conftest import assert_frames_match

    if argv and argv[0] == "--all":
        names = [n for n in registry.QUERIES if n in registry.ORACLES]
    elif argv:
        names = argv
    else:
        names = registry.DRIVER_WINDOW
    print("engines:", json.dumps(engine_versions()))

    spark = (
        SparkSession.builder.appName("driver-sim")
        .master("local[16]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", "/tmp/mrfs_warehouse_sim")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.isdir(p):  # sharded table: directory of part files
            p = f"{p}/**/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_green = 0
    failures: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            sql = registry.ORACLES.get(name)
            if sql is None:
                rows = registry.QUERIES[name](spark, SF).count()
                print(f"  {name}: rows-only check, {rows} rows "
                      f"({time.time() - t0:.1f}s)")
                n_green += 1
                continue
            spark_pdf = registry.QUERIES[name](spark, SF).toPandas()
            oracle_pdf = con.execute(sql).df()
            assert len(spark_pdf) > 0, f"{name}: vacuous 0-row result"
            try:
                assert_frames_match(spark_pdf, oracle_pdf, name)
            except AssertionError:
                # value-level diagnosis: which columns, which rows,
                # under which engine builds (round-9 verdict item 1)
                report = explain_mismatch(spark_pdf, oracle_pdf, name)
                print(f"  {name}: MISMATCH detail:")
                print(json.dumps(report, indent=2, default=str))
                raise
            print(f"  {name}: GREEN {len(spark_pdf)} rows "
                  f"({time.time() - t0:.1f}s)")
            n_green += 1
        except Exception:
            failures.append(name)
            print(f"  {name}: RED ({time.time() - t0:.1f}s)")
            traceback.print_exc(limit=3)
    print(f"\n{n_green}/{len(names)} green at {SF}")
    if failures:
        print("RED:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
