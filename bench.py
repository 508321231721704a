#!/usr/bin/env python
"""Bench harness — one JSON line of per-query wall seconds.

Runs the headline query set (or ``$SPARK_GRAFT_BENCH_QUERIES``) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Execution materializes each query with the noop sink (full computation,
no driver collect cost).  After a shared session warm-up, each query
runs ``RUNS_PER_QUERY`` times and keeps its best time.  When the control
query's drift exceeds ``DRIFT_REDO``, up to ``DRIFT_REDO_PASSES`` more
passes run and fold their minima in.

The full record (every query's time, load, drift) is written to
``BENCH_LOCAL.json`` next to this script and appended to
``scripts/bench_history.jsonl``.  Stdout gets exactly one JSON line: the
same record with only the 5 slowest queries::

    {"metric": "headline_queries_total", "value": N, "unit": "sec", ...,
     "n_queries": 105, "queries": {"q1": sec, ...},
     "full_record": "BENCH_LOCAL.json"}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

#: load gate at the driver boundary (round 13: the r12 driver artifact
#: was captured at load 7→12 and its rows are ~2.5× quiet values).  The
#: driver must ALWAYS get a capture, so instead of refusing, wait — up
#: to GATE_WAIT_SEC in 30 s polls — for the 1-min load to drop under
#: GATE_LOAD, then proceed either way and record the gate's outcome.
GATE_LOAD = 2.0
GATE_WAIT_SEC = 600
#: drift-triggered redo (round 14: the r13 driver artifact shipped at
#: drift 1.266 because load rose AFTER the load gate passed): above this
#: control drift, wait for quiet again and fold in another min-pass, at
#: most DRIFT_REDO_PASSES times
DRIFT_REDO = 1.15
DRIFT_REDO_PASSES = 2
#: the control query and its quiet-host calibration: pricing_summary is
#: untouched since round 1 and ran in 0.70 s at sf0.1 on 32 cores
#: (BASELINE.md round-11)
CONTROL_QUERY = "pricing_summary"
CONTROL_REF_SEC = 0.70
CONTROL_REF_SF = 0.1
CONTROL_REF_PARALLELISM = 32
#: best-of-N per query: the shared host shows bursty external load
#: (BASELINE.md noise caveat — identical binaries measured 25-55 s
#: totals); the minimum of two back-to-back runs is the engine's
#: capability, largely insulated from one neighbor burst
RUNS_PER_QUERY = 2

# headline set: one per operator family, weighted toward the scale-relevant
# ops (joins, windows, dedup, similarity, facade)
HEADLINE = [
    "pricing_summary",
    "join_equi",
    "top_k_per_group",
    "window_rank_lag",
    "wordcount",
    "events_time_window",
    "tpch_q18_large_volume",
    "asof_join",
    "hash_sample",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "multimodal_features",
    "mr_wordcount_facade",
    # round-2 additions — NOT in the round-1 baseline total; compare
    # per-query and use the comparable-subset total in BASELINE.md
    "ngram_topk",
    "dedup_pipeline_keeplist",
    "kmeans_embeddings",
    "tfidf_topterms",
    "dedup_incremental",
    "tpch_q8_market_share",
    "tpch_q21_waiting_suppliers",
    # round-4 additions — NOT in earlier baseline totals
    "clean_corpus",
    "dedup_semantic",
    "chunk_documents",
    "bm25_topk",
    "scd2_apply",
    "rolling_zscore",
    "graph_triangle_stats",
    # round-5 additions — TPC-H breadth completion + containment screen
    "dedup_containment",
    "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_count",
    "tpch_q20_promo_stock_suppliers",
    # round-6 additions — the bucket-sliced window rewrites (their cost
    # is the price of removing one-task-per-key plans; track it)
    "window_range_interval",
    "pack_sequences",
    "window_distribution",
    # round-6 additions, second batch — substring-level dedup and the
    # Gopher rule gate
    "dedup_exact_substring",
    "quality_filter_rules",
    "source_overlap_matrix",
    # round-6 additions, third batch — Bloom-bypass incremental screen
    # and the multi-round BPE trainer
    "dedup_incremental_bloom",
    "bpe_train_merges",
    "bpe_segment_docs",
    "dedup_incremental_minhash",
    "dedup_incremental_minhash_indexed",
    "dedup_index_maintain",
    "band_index_maintain",
    "dedup_winnowing",
    "ann_index_maintain",
    "split_leakage_check",
    "quality_weighted_sample",
    "dedup_keeplist_quality",
    # round 9: the LSM compaction matrix + hierarchical SemDeDup
    "dedup_index_compact",
    "band_index_compact",
    "ann_index_compact",
    "dedup_semantic_scalable",
    "ann_ivf_pq",
    "heavy_hitters",
    "embedding_quantize_int8",
    "ann_ivf_pq_indexed",
    "fuzzy_edit_pairs",
    # round 9, second batch — validation/diagnostics + time-series +
    # leakage-safe splits + the value-bucketed global rank
    "expectations_audit",
    "key_skew_profile",
    "interval_coalesce",
    "ewma_smooth",
    "leakage_safe_splits",
    "global_rank_quality",
    "distribution_drift",
    "record_linkage_scores",
    "kcore_membership",
    "agg_view_maintain",
    "zorder_locality_audit",
    "token_budget_plan",
    "golden_record_assembly",
    # round 10 — the segmental EWMA (unbounded-history decomposition)
    "ewma_smooth_segmented",
    # round 11 — prefix-doubling suffix spans, Kneser-Ney trigram LM,
    # DSIR importance resampling
    "dedup_suffix_spans",
    "kn_perplexity",
    "dsir_sample",
    "quality_classifier_score",
    "contamination_embedding",
    # round 11 (second batch) — ExactSubstr span-clip rewrite, PII scrub,
    # mojibake repair
    "dedup_span_clip",
    "pii_redact",
    "encoding_repair",
    # round 12 — held-out KN scoring, the CCNet tercile capstone,
    # held-out classifier evaluation, the sampled LSH-recall audit,
    # and the per-language tokenizer-fertility rollup
    "kn_perplexity_heldout",
    "ccnet_buckets",
    "quality_classifier_eval",
    "dedup_recall_audit",
    "tokenizer_fertility",
    "ann_recall_audit",
    # round 13 — recall governance extended to the remaining approximate
    # screens (multiprobe sign-LSH, IVF-PQ ADC shortlist)
    "ann_recall_lsh",
    "ann_recall_pq",
    "ann_recall_kmeans",
    # round 13 — perceptual-hash image dedup (real PNG encode/decode)
    # and the audio-leg fingerprint dedup (real WAV encode/decode)
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    "media_dedup_clusters",
    "dedup_media_incremental",
    # round 14 — URL canonicalization dedup (the pre-content crawl pass)
    "dedup_url",
]


def _wait_for_quiet() -> int:
    """Poll every 30 s while the 1-min load exceeds ``GATE_LOAD``, for at
    most ``GATE_WAIT_SEC``; return the seconds waited."""
    waited = 0
    while os.getloadavg()[0] > GATE_LOAD and waited < GATE_WAIT_SEC:
        print(
            f"load gate: 1-min load {os.getloadavg()[0]:.2f} > {GATE_LOAD}"
            f" — waiting ({waited}s/{GATE_WAIT_SEC}s)",
            file=sys.stderr,
        )
        time.sleep(30)
        waited += 30
    return waited


def sf_of(sf_dir: str) -> float:
    """The scale factor named by an SF directory (``.../sf0.1`` → 0.1,
    ``/tmp/mrfs_sf1`` → 1.0), or -1.0 when its name holds none."""
    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1).rstrip(".")) if m else -1.0


def drift_of(
    timings: dict[str, float], sf: float, parallelism: int
) -> float | None:
    """Host-day drift of this capture: the control query's time over its
    calibration, so cross-round comparisons can normalize without a
    separate calibration run.  None when the capture did not run the
    control query, or ran at another SF or core count than the
    calibration, where the ratio measures the setting, not the host."""
    if (
        CONTROL_QUERY not in timings
        or sf != CONTROL_REF_SF
        or parallelism != CONTROL_REF_PARALLELISM
    ):
        return None
    return round(timings[CONTROL_QUERY] / CONTROL_REF_SEC, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.plans import registry
    from map_reduce_framework_spark.session import get_spark

    # measurement hygiene (round-7): the recorded artifact self-documents
    # host load at start/end so a contaminated capture is identifiable
    # from the JSON alone (the r06 artifact was silently inflated ~1.3×).
    # SPARK_GRAFT_MAX_LOAD=<float> additionally REFUSES to run when the
    # 1-min load exceeds the bound — for manual quiet-host records.
    load_start = round(os.getloadavg()[0], 2)
    max_load = os.environ.get("SPARK_GRAFT_MAX_LOAD")
    if max_load and load_start > float(max_load):
        print(
            f"refusing to bench: 1-min load {load_start} > "
            f"SPARK_GRAFT_MAX_LOAD={max_load}",
            file=sys.stderr,
        )
        return 3
    waited = _wait_for_quiet()
    load_start = round(os.getloadavg()[0], 2)
    load_gate = {
        "threshold": GATE_LOAD,
        "waited_sec": waited,
        "satisfied": load_start <= GATE_LOAD,
    }

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footers, AND the Python/Arrow worker pool
    # (mapInPandas spins up one worker per core on first use — session
    # infrastructure, not a property of whichever query runs first)
    registry.QUERIES["filter_project"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    # optional comma-separated subset for targeted quiet-host re-measures
    # (e.g. SPARK_GRAFT_BENCH_QUERIES=dedup_minhash_lsh,dedup_ngram_jaccard);
    # unset → the full headline set the driver records
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    subset = [q.strip() for q in subset_env.split(",") if q.strip()] or HEADLINE
    unknown = [q for q in subset if q not in registry.QUERIES]
    if unknown:
        print(f"unknown bench queries: {unknown}", file=sys.stderr)
        return 2
    def one_pass(timings: dict[str, float]) -> None:
        """Run every subset query ``RUNS_PER_QUERY`` times, folding the
        minimum into ``timings`` (idempotent across passes)."""
        for name in subset:
            fn = registry.QUERIES[name]
            best = timings.get(name, float("inf"))
            for _ in range(RUNS_PER_QUERY):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                cache.release()
                spark.catalog.clearCache()
            timings[name] = round(best, 3)
            # per-query progress to STDERR so stdout stays minimal
            print(f"bench {name}: {timings[name]}s", file=sys.stderr)

    parallelism = spark.sparkContext.defaultParallelism
    timings: dict[str, float] = {}
    one_pass(timings)
    control_drift = drift_of(timings, sf, parallelism)
    # a later-in-time pass de-correlates from the burst that inflated
    # the first; the artifact records how many ran and the drift after each
    drift_history = [control_drift]
    redo_passes = 0
    while (
        control_drift is not None
        and control_drift > DRIFT_REDO
        and redo_passes < DRIFT_REDO_PASSES
    ):
        print(
            f"control drift {control_drift} > {DRIFT_REDO} — redo pass"
            f" {redo_passes + 1}/{DRIFT_REDO_PASSES}",
            file=sys.stderr,
        )
        _wait_for_quiet()
        one_pass(timings)
        control_drift = drift_of(timings, sf, parallelism)
        drift_history.append(control_drift)
        redo_passes += 1

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "parallelism": parallelism,
        "runs_per_query": RUNS_PER_QUERY,
        "strategy": "min",
        "load_1m_start": load_start,
        "load_1m_end": round(os.getloadavg()[0], 2),
        "load_gate": load_gate,
        "control_query": CONTROL_QUERY,
        "control_quiet_ref_sec": CONTROL_REF_SEC,
        "control_drift": control_drift,
        "drift_redo": {
            "threshold": DRIFT_REDO,
            "passes": redo_passes,
            "history": drift_history,
        },
    }
    # The driver's stdout capture keeps only the LAST ~2 KB: rounds
    # 9-11 all lost the FRONT of the single full-map JSON line and
    # recorded `parsed: null`.  So the stdout record must FIT the
    # window: the final line carries totals + config + only the 5
    # slowest queries (~0.5 KB), while the complete per-query map goes
    # to BENCH_LOCAL.json next to this script.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json"),
            "w",
        ) as f:
            json.dump(record, f, separators=(",", ":"))
            f.write("\n")
    except OSError as e:  # never let the file copy kill the stdout record
        print(f"BENCH_LOCAL.json write failed: {e}", file=sys.stderr)
    # Round-15: BENCH_LOCAL.json is a last-run snapshot, so a later
    # lower-core driver pass silently replaces the canonical 32-core
    # record (it did between rounds 13→15).  Keep every run in an
    # append-only history so per-run records survive; pure artifact
    # addition — nothing timed changes.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "scripts", "bench_history.jsonl"),
            "a",
        ) as f:
            json.dump(
                {"ts": time.strftime("%Y-%m-%dT%H:%M:%S"), **record}, f,
                separators=(",", ":"),
            )
            f.write("\n")
    except OSError as e:
        print(f"bench_history.jsonl append failed: {e}", file=sys.stderr)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    stdout_record = {
        **{k: v for k, v in record.items() if k != "queries"},
        "n_queries": len(timings),
        "queries": slowest,
        "full_record": "BENCH_LOCAL.json",
    }
    print(json.dumps(stdout_record, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
