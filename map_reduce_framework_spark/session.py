"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM, but every config here is chosen
to also be the right default on a large multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — on a
  1000-executor cluster reading ~100 TB, static partition counts are always
  wrong for some stage; AQE re-plans from actual map-output sizes.
- Arrow on — all Pandas UDF / ``applyInPandas`` paths batch via Arrow.
- Broadcast threshold left at default (10 MB); dimension tables (region,
  nation, supplier, part at small SF) broadcast automatically, and operators
  that *know* a side is dimension-sized hint ``F.broadcast`` explicitly so
  the plan survives stale/absent stats at scale.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and identical to the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "map_reduce_framework_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults: both
    the ``local`` core count and the default shuffle partitions come from
    ``$SPARK_GRAFT_CPUS`` (32 when unset)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # type, so read as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # bucketed tables (sources/bucketing.py) live outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mrfs_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
