"""Empirical scale probe: run the dedup family at sf1 (10× bench SF).

Measures wall time for the headline dedup/graph operators on the
generated /tmp/mrfs_sf1 corpus (scripts/gen_sf1.py) and reports whether
the scale-safety mechanisms actually engaged:

- how many distinct grams crossed ``NGRAM_DF_CAP`` (dropped from the
  posting list) — at the shipped SFs this is always 0;
- candidate-pair counts per operator, to confirm candidate generation
  stays ~linear rather than quadratic as df saturates.

Usage: python scripts/scale_probe.py [sf_dir]
Prints one JSON line per query plus a summary line, whose ``sf`` is read
from the directory's name as ``bench.py`` reads it (-1.0 when the name
holds none).  The session is the
engine's own (``session.get_spark``); at sf1 give it room and a separate
warehouse with ``SPARK_GRAFT_DRIVER_MEM=48g
SPARK_GRAFT_WAREHOUSE=/tmp/mrfs_warehouse_probe``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mrfs_sf1"

PROBE_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_exact_substring",
    "dedup_pipeline_keeplist",
    "graph_triangle_stats",
    "dedup_semantic",
    "dedup_embedding_cosine",
    # event/window family (round 6): probes the bucket-sliced window
    # rewrites on 10×-HISTORY events (same arrival rate, 300 days) —
    # the axis where the old PARTITION BY event_type plan serialized.
    # window_range_interval keeps its event_id < 2000 output filter, so
    # its row counts the scan, not the window; rolling_zscore is the
    # full-table window probe.
    "rolling_zscore",
    "window_range_interval",
    "sessionize",
    "events_window_distinct",
    "session_window_agg",
    "cohort_retention",
    # ANN: derived-per-search vs materialized-index screen (the index is
    # pre-built before the timing loop, so the indexed row measures the
    # between-builds production shape)
    "ann_ivf",
    "ann_ivf_indexed",
    # round-6 third batch: Bloom bypass (bitmap is m/64 rows at any
    # corpus size → ~flat) and the BPE pair (training on the vocab axis
    # → ~flat; application adds one corpus join pass → ~linear)
    "dedup_incremental_bloom",
    "bpe_train_merges",
    "bpe_segment_docs",
    # index maintenance twins (batch-sized bucketed delta + re-screen/
    # self-retrieval proof — delta design since round 8) and the
    # winnowing fingerprinter
    "dedup_index_maintain",
    "band_index_maintain",
    "ann_index_maintain",
    "dedup_winnowing",
]


def main() -> None:
    from pyspark.sql import functions as F

    from bench import sf_of
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators import dedup
    from map_reduce_framework_spark.plans.registry import QUERIES
    from map_reduce_framework_spark.session import get_spark
    from map_reduce_framework_spark.sources import load_table

    spark = get_spark("mrfs-scale-probe")

    # --- does the df cap fire at this scale?
    docs = dedup.fan_out(load_table(spark, SF1, "documents"))
    posting = dedup._shingled_docs(docs, with_hashes=True).select(
        "doc_id", F.explode("gh").alias("g")
    )
    dfs = posting.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    stats = dfs.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.max("df").alias("max_df"),
        F.sum(F.when(F.col("df") > dedup.NGRAM_DF_CAP, 1).otherwise(0)).alias(
            "n_capped"
        ),
    ).collect()[0]
    print(
        json.dumps(
            {
                "probe": "ngram_df_cap",
                "n_grams": stats["n_grams"],
                "max_df": stats["max_df"],
                "n_capped_grams": stats["n_capped"],
                "cap": dedup.NGRAM_DF_CAP,
            }
        )
    )

    from map_reduce_framework_spark.operators.similarity import (
        ivf_index_bucketed,
    )

    probe_queries = PROBE_QUERIES
    subset = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
    if subset:  # noisy-host triage: probe a comma-separated subset only
        probe_queries = [q.strip() for q in subset.split(",") if q.strip()]

    if any(q.startswith("ann_ivf") for q in probe_queries):
        ivf_index_bucketed(spark, SF1)  # build outside the timing loop

    # SPARK_GRAFT_PROBE_RUNS=2 runs each query twice and reports both:
    # `sec` stays the FIRST (cold) run for continuity with prior rounds'
    # records, `sec_warm` is the second.  The warm number is the one for
    # the maintenance-family scale law — their first run in a session
    # also builds the session's base index tables (a once-per-rebuild
    # cost), while the warm run measures the per-batch work (screen +
    # delta overwrite) that the delta design claims is batch-sized.
    runs = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "1"))
    results = {}
    for name in probe_queries:
        try:
            times = []
            n = 0
            for _ in range(runs):
                t0 = time.time()
                n = QUERIES[name](spark, SF1).count()
                times.append(round(time.time() - t0, 2))
                cache.release()
                spark.catalog.clearCache()
            results[name] = times[-1]
            rec = {"query": name, "sec": times[0], "rows": n}
            if runs > 1:
                rec["sec_warm"] = times[-1]
            print(json.dumps(rec))
        except Exception as e:  # keep probing the rest
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            cache.release()
            spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "metric": "scale_probe_total",
                "value": round(sum(results.values()), 2),
                "unit": "sec",
                "queries": results,
                "sf": sf_of(SF1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
