"""Physical-plan quality gates (the 100 TB checklist, SURVEY §4).

Correctness tests prove the right rows come back; these prove the right
PLAN produces them — predicate pushdown reaching the parquet scan, column
pruning, broadcast joins on dimension sides, TakeOrderedAndProject for
top-k (no global sort), and partial (map-side) aggregation.  A regression
here is a 100×-scale performance bug even when every value still matches.
"""

from __future__ import annotations

import contextlib
import io

from map_reduce_framework_spark.operators import relational

from .conftest import SF_DIR


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    plan = plan_of(relational.filter_project(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "p_size" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: the scan must not read unused columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "p_brand" not in read_schema

def test_pricing_summary_pushes_date_filter(spark):
    plan = plan_of(relational.pricing_summary(spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed


def test_events_ts_is_scan_native_and_pushes_filters(spark):
    """The loader must surface timestamp columns as NATIVE scan columns
    (session-tz TIMESTAMP), never as a computed conversion — a projection
    over the scan would strip ts predicates from PushedFilters, which at
    100 TB is the difference between pruning row groups and reading them
    all (see sources.tables.load_table)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from map_reduce_framework_spark.sources import load_table

    events = load_table(spark, SF_DIR, "events")
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    plan = plan_of(
        events.where(F.col("ts") >= "2024-01-02").select("event_id")
    )
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "ts" in pushed


def test_join_equi_broadcasts_dimensions(spark):
    plan = plan_of(relational.join_equi(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation
    assert "SortMergeJoin" not in plan


def test_top_k_avoids_global_sort(spark):
    plan = plan_of(relational.top_k(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_wordcount_partial_aggregation(spark):
    plan = plan_of(relational.wordcount(spark, SF_DIR))
    # partial + final HashAggregate around the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_active(spark):
    # AQE wraps the plan pre-execution and hides codegen stage markers;
    # disable it for this single plan capture
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(relational.pricing_summary(spark, SF_DIR), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan  # WholeStageCodegen stage markers


def test_bucketed_join_no_shuffle(spark):
    from map_reduce_framework_spark.sources.bucketing import (
        bucketed_orders_customer,
    )

    orders_b, customer_b = bucketed_orders_customer(spark, SF_DIR)
    # force the SMJ path so the assertion is about bucketing, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders_b.join(
            customer_b, orders_b.o_custkey == customer_b.c_custkey
        )
        plan = plan_of(joined, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: bucket layout IS the shuffle
    # and the result is correct
    assert joined.count() == orders_b.count()


def test_salted_join_equals_plain_join(spark):
    from map_reduce_framework_spark.functions.skew import salted_join
    from map_reduce_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")
    plain = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, part, li.l_partkey == part.p_partkey, n_salts=4)
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_q19_disjunctive_pushdown(spark):
    """Q19's OR-of-ANDs must still push per-side conjunct envelopes into
    the scans (Catalyst extracts brand/size IN-envelopes from the
    disjunction) and broadcast the part side."""
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.tpch_q19_discounted_revenue(spark, SF_DIR))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "p_brand" in pushed or "Or(" in pushed
    assert "BroadcastHashJoin" in plan


def test_pivot_is_single_pass(spark):
    """Pinned pivot values: one aggregate over one scan — no extra
    distinct-values job and no second exchange."""
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.pivot_priority(spark, SF_DIR), mode="simple")
    assert plan.count("Scan parquet") == 1


def test_asof_join_is_single_shuffle_window(spark):
    """The as-of join must be the union-window formulation: exactly one
    hash-partition exchange on user_id and NO join operator at all."""
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.asof_join(spark, SF_DIR))
    assert "Join" not in plan  # no range/equi join — window formulation
    assert plan.count("Window") >= 1
    assert plan.count("hashpartitioning(user_id") == 1


def test_q17_broadcasts_per_part_averages(spark):
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.tpch_q17_small_quantity(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # part dim + avg table


def test_hash_sample_no_exchange_before_agg(spark):
    """The sampling predicate must evaluate scan-side: the only exchange
    in the plan is the groupBy's, and partial aggregation runs first."""
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.hash_sample(spark, SF_DIR), mode="simple")
    # one exchange for the final agg, one for the orderBy's range partition
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 2


def test_ngram_topk_partial_agg_and_top_n_cut(spark):
    """Corpus n-gram rollup must map-side combine (partial + final
    HashAggregate) and cut top-N via TakeOrderedAndProject — never a
    global sort of the full gram table."""
    from map_reduce_framework_spark.operators import text

    plan = plan_of(text.ngram_topk(spark, SF_DIR), mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no standalone global sort operator


def test_stratified_sample_filters_before_any_exchange(spark):
    """The stratum-hash keep predicate must run scan-side: exchanges in
    the plan belong to the aggregate/order, and the Filter sits under
    them (no shuffle of unsampled rows)."""
    from map_reduce_framework_spark.operators import text

    plan = plan_of(text.stratified_sample(spark, SF_DIR), mode="simple")
    # only the agg and the orderBy exchange: no fan-out in front of a
    # hash filter, and no extra join/window exchanges
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 2
    filter_pos = plan.find("Filter")
    agg_exchange_pos = plan.find("Exchange hashpartitioning")
    assert filter_pos != -1
    # deeper in the tree = later in the printed plan: the filter must
    # appear BELOW (after) the agg exchange line
    assert agg_exchange_pos == -1 or filter_pos > agg_exchange_pos


def test_ngram_dedup_self_join_reuses_posting_partitioning(spark):
    """The df-cap window shuffles the posting list by gram hash ONCE;
    the candidate self-join must not add hash exchanges on top of the
    cached, already-partitioned posting list."""
    from map_reduce_framework_spark.operators import dedup

    try:
        df = dedup.dedup_ngram_jaccard(spark, SF_DIR)
        plan = plan_of(df, mode="simple")
        # exchanges allowed: inside the InMemoryRelation build (window),
        # pair-agg hashpartitioning, two size joins, final orderBy.  NOT
        # allowed: hashpartitioning(g) ABOVE an InMemoryTableScan (that
        # would mean the join re-shuffles the cached posting list).
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "hashpartitioning(g" not in above_cache
    finally:
        spark.catalog.clearCache()


def test_tfidf_topk_cut_below_window_and_broadcast_vocab(spark):
    """tfidf's per-doc top-3 must run as a WindowGroupLimit partial cut
    BELOW the window exchange (only ≤3 rows per doc per partition
    shuffle), and the vocabulary-sized df table must broadcast-join, not
    sort-merge."""
    from map_reduce_framework_spark.operators import text

    plan = plan_of(text.tfidf_topterms(spark, SF_DIR), mode="simple")
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # tf and df branches must both map-side combine
    assert plan.count("HashAggregate") >= 4


def test_mixture_sample_no_extra_exchanges(spark):
    """The keep decision is a pure hash expression evaluated pre-shuffle;
    only the aggregate + the orderBy may exchange (no fan-out in front
    of cheap hashing)."""
    from map_reduce_framework_spark.operators import text

    plan = plan_of(text.mixture_sample(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan  # rate is derived, not joined, in this form


def test_incremental_dedup_reuses_posting_partitioning(spark):
    """The new×old candidate join must consume the cached df-capped
    posting list without re-shuffling it by gram hash (same contract as
    the ngram self-join gate)."""
    from map_reduce_framework_spark.operators import dedup

    try:
        df = dedup.dedup_incremental(spark, SF_DIR)
        plan = plan_of(df, mode="simple")
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "hashpartitioning(g" not in above_cache
    finally:
        spark.catalog.clearCache()


def test_kmeans_output_plan_is_one_agg_over_arrow_pass(spark):
    """The returned profile plan: one Arrow map pass (MapInPandas), one
    partial+final aggregate, no joins — the corpus is never shuffled for
    training (iterations reduce K·P partial rows driver-side)."""
    from map_reduce_framework_spark.operators import clustering

    df = clustering.kmeans_embeddings(spark, SF_DIR)
    plan = plan_of(df, mode="simple")
    assert "MapInPandas" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_multi_distinct_single_expand_pass(spark):
    """Two different DISTINCT keys + plain aggregates must plan as ONE
    Expand + one aggregation tree — not a job per distinct column."""
    from map_reduce_framework_spark.operators import relational_ext

    plan = plan_of(relational_ext.multi_distinct_agg(spark, SF_DIR), mode="simple")
    assert plan.count("Expand") == 1
    assert plan.count("HashAggregate") >= 2


def test_q21_plans_semi_and_anti_joins(spark):
    """The double-correlated EXISTS/NOT EXISTS must appear as one
    LeftSemi and one LeftAnti join; the supplier name join broadcasts."""
    from map_reduce_framework_spark.operators import relational_ext

    plan = plan_of(
        relational_ext.tpch_q21_waiting_suppliers(spark, SF_DIR), mode="simple"
    )
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q8_pushes_part_filter_and_broadcasts_dims(spark):
    """The p_type filter must reach the part scan, and every dimension
    side of the seven-table join must broadcast."""
    from map_reduce_framework_spark.operators import relational_ext

    plan = plan_of(relational_ext.tpch_q8_market_share(spark, SF_DIR))
    pushed = [
        seg.split("]")[0]
        for seg in plan.split("PushedFilters")[1:]
    ]
    assert any("p_type" in seg for seg in pushed)
    assert plan.count("BroadcastHashJoin") >= 4


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """A lang-partitioned parquet layout must serve a lang-filtered scan
    via PartitionFilters (directory pruning — at 100 TB the difference
    between touching one partition and scanning the corpus)."""
    from map_reduce_framework_spark.sources import load_table
    from map_reduce_framework_spark.sources.formats import write_parquet

    docs = load_table(spark, SF_DIR, "documents")
    dest = str(tmp_path / "docs_by_lang")
    write_parquet(docs, dest, partition_by=["lang"])
    back = spark.read.parquet(dest).where("lang = 'en'")
    plan = plan_of(back)
    part_seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "lang" in part_seg
    # the lang predicate is satisfied by pruning, not data filters
    assert back.count() == docs.where("lang = 'en'").count()


def test_gram_df_cap_is_partial_agg_not_window(spark):
    """The gram-df cap must never colocate a gram's full posting list in
    one task (round-6 rewrite): the df pass is a groupBy with MAP-SIDE
    partial aggregation — only combiner rows shuffle — and the tiny
    over-cap gram set applies via broadcast anti-join.  A Window node
    here would be the 100 TB unbounded-fan-in regression."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import _shingle_exploded

    from pyspark.sql import functions as F

    e = _shingle_exploded(spark, SF_DIR)
    try:
        plan = plan_of(e, mode="simple")
        formatted = plan_of(e, mode="formatted")
        assert "Window" not in plan, plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        # the df count aggregates partially before its exchange
        assert (
            "partial_count" in formatted or "Functions: [partial_" in formatted
        ), formatted
        # the persisted capped list is hash-partitioned + sorted on g, so
        # the candidate self-join needs NO exchange of its own: every
        # Exchange in the plan is a deliberate REPARTITION inside the
        # cached subtree, never an ENSURE_REQUIREMENTS inserted for the
        # join (forcing SMJ — at test SF the capped list broadcasts)
        e.count()  # populate the cache so the join plans against it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a, b = e.alias("a"), e.alias("b")
            pairs = a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            jplan = plan_of(pairs, mode="simple")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "SortMergeJoin" in jplan, jplan
        # every Exchange sits deep inside the printed cached subtree
        # (the df-agg's combiner-row finalization, the deliberate
        # repartitions); none at the SMJ's input depth — the join's
        # sides read the cache as-is.  The SMJ's direct children print
        # at column ≤ 12; cached-plan internals print far deeper.
        for line in jplan.splitlines():
            if "Exchange" in line:
                assert line.index("Exchange") > 12, jplan
    finally:
        cache.release()


def test_gram_index_join_shuffles_batch_side_only(spark):
    """The incremental screen's candidate equi-join must read the
    materialized gram index WITHOUT an exchange: the bucket layout is
    the shuffle.  Only the new-batch side (freshly shingled, unknown
    partitioning) may repartition to the bucket count."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        _incr_is_new,
        _shingled_docs,
        gram_index_bucketed,
    )
    from map_reduce_framework_spark.sources import load_table

    idx = gram_index_bucketed(spark, SF_DIR)
    new_docs = load_table(spark, SF_DIR, "documents").where(_incr_is_new())
    ng = _shingled_docs(new_docs, with_hashes=True).select(
        F.col("doc_id").alias("new_id"), F.explode("gh").alias("g")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = ng.join(idx.select(F.col("doc_id").alias("old_id"), "g"), "g")
        plan = plan_of(cand, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan  # batch side only
    formatted = plan_of(cand, mode="formatted")
    assert "Bucketed: true" in formatted  # index scan uses the layout
    assert cand.count() > 0


def test_keeplist_exact_edges_partial_agg_not_window(spark):
    """Exact-dup star edges (the keeplist's ``exact_dup_edges``) must
    come from a partial-agg roots groupBy + equi-join, never
    min().over(partitionBy(content_hash)): a hot boilerplate hash would
    colocate its whole clone set in one window task, and window
    partitions cannot be AQE-skew-split — the join can.  The md5 is
    cheap per row, so no round-robin fan-out may sit in front of it."""
    from map_reduce_framework_spark.operators.graph import exact_dup_edges
    from map_reduce_framework_spark.sources import load_table

    edges = exact_dup_edges(load_table(spark, SF_DIR, "documents"))
    plan = plan_of(edges, mode="simple")
    formatted = plan_of(edges, mode="formatted")
    assert "Window" not in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan
    assert (
        "partial_min" in formatted or "Functions: [partial_" in formatted
    ), formatted


def test_exact_substring_partial_agg_and_doc_bounded_window(spark):
    """dedup_exact_substring: the duplicated-gram pass is a partial-agg
    groupBy (map-side combine — a boilerplate window recurring millions
    of times shuffles one combiner row per map task, not its posting
    list), and the only Window nodes are the doc-bounded span merge
    (partitioned by doc_id — high-cardinality, one document per frame)."""
    from map_reduce_framework_spark.operators.dedup import dedup_exact_substring

    df = dedup_exact_substring(spark, SF_DIR)
    formatted = plan_of(df, mode="formatted")
    assert (
        "partial_count" in formatted or "Functions: [partial_" in formatted
    ), formatted
    # every Window in the plan is partitioned by doc_id
    import re

    for m in re.finditer(r"partition spec: \[([^\]]*)\]", formatted):
        assert "doc_id" in m.group(1), formatted


def test_ivf_index_join_shuffles_probe_side_only(spark):
    """The indexed ANN screen must read the materialized IVF cell table
    WITHOUT an exchange: the bucket layout on `cell` is the shuffle.
    Only the (tiny, freshly-assigned) probe side may repartition."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.similarity import (
        N_CENTROIDS,
        N_PROBE,
        _assign_cells,
        _corpus_and_queries,
        ivf_index_bucketed,
        unit_vector_col,
    )
    from map_reduce_framework_spark.sources import load_table

    idx = ivf_index_bucketed(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = emb.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"),
        unit_vector_col("embedding").alias("vcent"),
    )
    _, queries = _corpus_and_queries(spark, SF_DIR)
    probes = _assign_cells(
        centroids, queries, "query_id", "vq", N_PROBE
    ).withColumnRenamed("cell", "qcell")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = probes.join(idx, F.col("qcell") == F.col("cell"))
        plan = plan_of(cand, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    # the index side reads its bucketed layout as-is: every Exchange in
    # the plan belongs to the probe side's assignment subtree
    formatted = plan_of(cand, mode="formatted")
    assert "Bucketed: true" in formatted, formatted
    idx_scan_exchanges = plan.count("Exchange")
    probe_plan = plan_of(probes, mode="simple")
    assert idx_scan_exchanges == probe_plan.count("Exchange") + 1, plan
    assert cand.count() > 0


def test_ann_ivf_indexed_equals_derived(spark):
    """The indexed IVF screen must reproduce the self-derived search
    row-for-row (same centroids, same probe ranking — only WHERE the
    corpus assignment comes from differs)."""
    from map_reduce_framework_spark.operators.similarity import (
        ann_ivf,
        ann_ivf_indexed,
    )

    a = [tuple(r) for r in ann_ivf(spark, SF_DIR).collect()]
    b = [tuple(r) for r in ann_ivf_indexed(spark, SF_DIR).collect()]
    assert a == b and len(a) > 0


def test_bloom_build_is_partial_agg_and_probe_broadcasts(spark):
    """The Bloom screen's two scale guarantees (dedup.py docstring):
    the bitmap build must partial-aggregate bit_or map-side (only
    combiner rows — at most m/64 per task — ever shuffle, regardless of
    corpus size), and the probe join must broadcast the <=m/64-row
    bitmap, never shuffling the batch on block_id."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        _bloom_blocks,
        _bloom_key,
        _bloom_maybe,
        _incr_is_new,
    )
    from map_reduce_framework_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    newd = docs.where(_incr_is_new()).select(
        "doc_id", "source", _bloom_key().alias("h")
    )
    oldh = docs.where(~_incr_is_new()).select(_bloom_key().alias("h")).distinct()
    blocks = _bloom_blocks(oldh)
    assert "partial_bit_or" in plan_of(blocks, mode="simple")
    probe_plan = plan_of(_bloom_maybe(newd, blocks), mode="simple")
    assert "BroadcastHashJoin" in probe_plan
    # the only exchanges are the build's own and the per-doc verdict agg
    # — the exploded probe side must NOT hash-shuffle on block_id
    assert "hashpartitioning(block_id" not in probe_plan.split(
        "BroadcastExchange"
    )[0]


def test_band_index_join_shuffles_batch_side_only(spark):
    """The indexed MinHash screen's candidate equi-join must read the
    materialized band index WITHOUT an exchange (bucket layout is the
    shuffle); only the freshly-signed batch side may repartition."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        _band_key_array,
        _incr_is_new,
        _shingled_docs,
        band_index_bucketed,
    )
    from map_reduce_framework_spark.sources import load_table

    idx = band_index_bucketed(spark, SF_DIR)
    new_docs = load_table(spark, SF_DIR, "documents").where(_incr_is_new())
    newb = _shingled_docs(new_docs, with_sig=True).select(
        F.col("doc_id").alias("new_id"),
        F.explode(_band_key_array()).alias("band_key"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = newb.join(
            idx.select(F.col("doc_id").alias("old_id"), "band_key"),
            "band_key",
        )
        plan = plan_of(cand, mode="simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan  # batch side only
    formatted = plan_of(cand, mode="formatted")
    assert "Bucketed: true" in formatted
    assert cand.count() > 0


def test_maintained_index_join_is_exchange_free_after_append(spark):
    """Post-append, BOTH index sides must stay exchange-free: the
    immutable base index and the batch-sized delta table share the
    bucket spec, so a re-screen join against EITHER reads that index
    side with ZERO exchange (only the fresh batch side repartitions) —
    the VERDICT-r7 contract for the delta-table maintenance design."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        GRAM_INDEX_DELTA_TABLE,
        _incr_is_new,
        _shingled_docs,
        dedup_index_maintain,
        gram_index_bucketed,
    )
    from map_reduce_framework_spark.sources import load_table
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    dedup_index_maintain(spark, SF_DIR).count()  # builds base + delta
    base = gram_index_bucketed(spark, SF_DIR)
    delta = spark.table(
        fingerprinted_table_name(GRAM_INDEX_DELTA_TABLE, SF_DIR, "documents")
    )
    new_docs = load_table(spark, SF_DIR, "documents").where(_incr_is_new())
    ng = _shingled_docs(new_docs, with_hashes=True).select(
        F.col("doc_id").alias("new_id"), F.explode("gh").alias("g")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for side in (base, delta):
            cand = ng.join(
                side.select(F.col("doc_id").alias("old_id"), "g"), "g"
            )
            plan = plan_of(cand, mode="simple")
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 1, plan  # batch side only
            formatted = plan_of(cand, mode="formatted")
            assert "Bucketed: true" in formatted
            assert cand.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_compact_df_recount_rides_bucket_layout(spark):
    """dedup_index_compact's df recount must be per-table partial counts
    on the bucket layout: groupBy(g) over each bucketed index scan runs
    with ZERO exchange, and their vocabulary-scale full-outer merge
    reuses the same hash partitioning — so the only corpus-scale shuffle
    in the whole fold is the bucketed write of the next base itself."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        GRAM_INDEX_DELTA_TABLE,
        dedup_index_compact,
        gram_index_bucketed,
    )
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    dedup_index_compact(spark, SF_DIR).count()  # builds base + delta
    base = gram_index_bucketed(spark, SF_DIR)
    delta = spark.table(
        fingerprinted_table_name(GRAM_INDEX_DELTA_TABLE, SF_DIR, "documents")
    )
    df_base = base.groupBy("g").agg(F.count(F.lit(1)).alias("c0"))
    df_delta = delta.groupBy("g").agg(F.count(F.lit(1)).alias("c1"))
    for side in (df_base, df_delta):
        plan = plan_of(side, mode="simple")
        assert "Exchange" not in plan, plan  # bucket layout IS the hash dist
    merged = df_base.join(df_delta, "g", "full_outer")
    plan = plan_of(merged, mode="simple")
    assert "Exchange" not in plan, plan
    assert merged.count() > 0


def test_pq_index_side_is_scan_plus_projection_no_exchange(spark):
    """ann_ivf_pq_indexed's ADC stage must read the stored code index
    as a bucketed scan + the scan-time codebook reconstruction with NO
    shuffle exchange anywhere — the only exchange in the stage is the
    probe side's BroadcastExchange (the vectors never sit in the index,
    and nothing repartitions the code scan)."""
    from map_reduce_framework_spark.operators.similarity import (
        _indexed_recon_cells,
        _pq_adc_scores,
    )

    recon = _indexed_recon_cells(spark, SF_DIR)
    rplan = plan_of(recon, mode="simple")
    assert "mrfs_pq_index" in rplan
    assert "Exchange" not in rplan, rplan  # pure scan + projection

    adc = _pq_adc_scores(spark, SF_DIR, recon)
    plan = plan_of(adc, mode="simple")
    assert "BroadcastHashJoin" in plan
    # the only shuffle in the stage is the probe-side ranking window
    # over the CONSTANT-SIZE query set (keyed on query_id, inside the
    # broadcast build); nothing repartitions the corpus-scale code scan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "query_id" in hash_exchanges[0], plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert adc.count() > 0


def test_ewma_segmented_single_data_shuffle(spark):
    """The segmented EWMA's three user_id-keyed stages (row_number
    window, per-segment groupBy, per-user groupBy) must share ONE hash
    exchange: HashPartitioning(user_id) satisfies the (user_id, seg)
    clustered distribution, so the only other exchange is the output
    orderBy's range partition."""
    from map_reduce_framework_spark.operators import relational_ext as rx

    plan = plan_of(rx.ewma_smooth_segmented(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") <= 2


def _bucket_files(spark, table):
    """Number of parquet part files in a catalog table's location."""
    import os

    loc = spark.sql(f"DESCRIBE FORMATTED {table}").where(
        "col_name = 'Location'"
    ).collect()[0]["data_type"]
    path = loc.replace("file:", "")
    return sum(
        1 for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )


def test_bucketed_write_alignment_gate(spark, tmp_path, monkeypatch):
    """Round-15: write_bucketed aligns partitions to the bucket spec
    (one file per bucket) only for SMALL inputs; past the size gate the
    repartition is skipped so large tables keep full writer
    parallelism.  Both paths must read back identically."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.sources import bucketing
    from map_reduce_framework_spark.sources.bucketing import write_bucketed

    src = str(tmp_path / "src")
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(16).write.parquet(src)
    df = spark.read.parquet(src)

    # small input (default 256MB gate): exactly one file per bucket
    write_bucketed(df, "t_align_small", "k", n_buckets=4)
    assert _bucket_files(spark, "t_align_small") == 4

    # force the large-input path: alignment skipped, writer keeps its
    # parallelism (16 input partitions x up to 4 buckets > 4 files); the
    # explicit repartition keeps 16 writer tasks on any core count,
    # where the scan alone may pack the small files into fewer splits
    monkeypatch.setattr(bucketing, "BUCKET_ALIGN_MAX", 0)
    write_bucketed(df.repartition(16), "t_align_large", "k", n_buckets=4)
    assert _bucket_files(spark, "t_align_large") > 4

    a = spark.table("t_align_small").orderBy("k").collect()
    b = spark.table("t_align_large").orderBy("k").collect()
    assert a == b
    spark.sql("DROP TABLE t_align_small")
    spark.sql("DROP TABLE t_align_large")


def test_bucketed_write_persisted_fan_out_is_aligned(spark, tmp_path):
    """The index writers pass persisted, fanned-out frames, whose plans
    have no file leaves (a persisted subtree is an InMemoryRelation):
    they must still get the alignment repartition, one file per bucket,
    not one per (task, bucket)."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import fan_out
    from map_reduce_framework_spark.sources.bucketing import write_bucketed

    src = str(tmp_path / "src")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.parquet(src)
    df = fan_out(spark.read.parquet(src)).persist()
    try:
        df.count()
        assert df.inputFiles() == []
        assert df.rdd.getNumPartitions() > 4
        write_bucketed(df, "t_align_persisted", "k", n_buckets=4)
        assert _bucket_files(spark, "t_align_persisted") <= 4
        assert spark.table("t_align_persisted").count() == 1000
    finally:
        df.unpersist()
        spark.sql("DROP TABLE IF EXISTS t_align_persisted")


def test_bucketed_write_remote_input_keeps_parallelism(spark, monkeypatch):
    """An input on non-local storage has an unknown size: the alignment
    repartition is skipped (more than one file per bucket), even under
    the default size gate."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.sources.bucketing import write_bucketed

    df = spark.range(0, 1000, 1, 16).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    monkeypatch.setattr(
        df, "inputFiles", lambda: ["hdfs://nn/warehouse/t/part-0.parquet"]
    )
    write_bucketed(df, "t_align_remote", "k", n_buckets=4)
    assert _bucket_files(spark, "t_align_remote") > 4
    assert spark.table("t_align_remote").count() == 1000
    spark.sql("DROP TABLE t_align_remote")
