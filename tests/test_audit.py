"""Round-9 continuation operators: validation / skew / drift audits,
interval union, EWMA fold, leakage-safe splits, value-bucketed global
rank, record-linkage scoring, k-core peel, aggregate-view maintenance,
Z-order layout audit, token-budget planning.

Each operator's oracle-equivalence at sf0.001 runs here (the sf0.01
driver-compare runs in scripts/driver_sim.py); on top of that, every
operator gets behavior tests on hand-built frames where the expected
answer is computable by eye, plus plan assertions for the properties
the oracle can't see (no global single-task window in the rank; the
view refresh reads its materialized base).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_spark.operators import audit, graph, relational_ext, text
from map_reduce_framework_spark.plans import registry

from .conftest import SF_DIR, assert_matches_oracle


# --------------------------------------------------------------------------
# oracle equivalence at test SF
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "expectations_audit",
        "key_skew_profile",
        "interval_coalesce",
        "ewma_smooth",
        "ewma_smooth_segmented",
        "leakage_safe_splits",
        "global_rank_quality",
        "distribution_drift",
        "record_linkage_scores",
        "agg_view_maintain",
        "zorder_locality_audit",
        "token_budget_plan",
        "golden_record_assembly",
    ],
)
def test_matches_oracle(spark, duck, name):
    assert_matches_oracle(
        spark, duck, registry.QUERIES[name], registry.ORACLES[name], name
    )


# --------------------------------------------------------------------------
# expectations_audit
# --------------------------------------------------------------------------


def test_expectations_report_shape_and_findings(spark):
    rows = {
        (r["table_name"], r["check_name"]): r
        for r in audit.expectations_audit(spark, SF_DIR).collect()
    }
    # every (table, check) pair present exactly once, checked = table
    # size (23 pre-round-10 checks + 5 pk_unique_no_nulls rows)
    assert len(rows) == 28
    # the synthetic corpus's one REAL defect fires: lineitem's composite
    # PK carries duplicate groups
    assert rows[("lineitem", "pk_unique")]["violations"] > 0
    # every other constraint is clean — the report separates signal
    # from noise on real counts
    dirty = [k for k, r in rows.items() if r["violations"] > 0]
    assert dirty == [("lineitem", "pk_unique")]
    # checked counts are the table cardinalities (cross-check two)
    n_li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert rows[("lineitem", "pk_unique")]["checked"] == n_li
    assert all(r["checked"] > 0 for r in rows.values())


def test_expectations_fire_on_planted_violations(spark):
    """Plant one violation of each lineitem row-check family in a tiny
    frame and verify each check counts exactly its own plant."""
    df = spark.createDataFrame(
        [
            # clean row
            (1, 1, "A", 10.0, 0.05, "2024-01-01"),
            # discount out of range
            (2, 1, "N", 10.0, 0.5, "2024-01-01"),
            # quantity out of range
            (3, 1, "R", 99.0, 0.05, "2024-01-01"),
            # returnflag outside domain
            (4, 1, "X", 10.0, 0.05, "2024-01-01"),
            # null shipdate
            (5, 1, "A", 10.0, 0.05, None),
        ],
        "l_orderkey long, l_linenumber long, l_returnflag string,"
        " l_quantity double, l_discount double, l_shipdate string",
    )
    out = {
        r["check_name"]: r["violations"]
        for r in audit._row_checks(
            df,
            "lineitem",
            {
                "discount_range": ~F.col("l_discount").between(0.0, 0.1)
                | F.col("l_discount").isNull(),
                "quantity_range": ~F.col("l_quantity").between(1.0, 50.0)
                | F.col("l_quantity").isNull(),
                "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R")
                | F.col("l_returnflag").isNull(),
                "shipdate_not_null": F.col("l_shipdate").isNull(),
            },
        ).collect()
    }
    assert out == {
        "discount_range": 1,
        "quantity_range": 1,
        "returnflag_domain": 1,
        "shipdate_not_null": 1,
    }


def test_fk_check_counts_orphans(spark):
    child = spark.createDataFrame(
        [(1,), (2,), (2,), (9,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,)], "p long")
    row = audit._fk_check(child, "t", "fk", "k", parent, "p").collect()[0]
    assert row["violations"] == 1 and row["checked"] == 4


def test_unique_check_counts_surplus(spark):
    df = spark.createDataFrame([(1, 1), (1, 1), (1, 1), (2, 1)], "a long, b long")
    rows = {
        r["check_name"]: r
        for r in audit._unique_check(df, "t", "pk", "a", "b").collect()
    }
    # 3 copies of (1,1) → 2 surplus rows a dedup would delete
    assert rows["pk"]["violations"] == 2 and rows["pk"]["checked"] == 4
    assert rows["pk_no_nulls"]["violations"] == 0


def test_unique_check_null_keys_split_out(spark):
    """Round-10 ADVICE regression: rows with ANY NULL key column go to
    the explicit ``_no_nulls`` row, and the surplus is computed over
    the NULL-free subset only — the engine/oracle-unambiguous split
    (Spark count_distinct drops any-NULL rows; DuckDB's struct
    DISTINCT would count them)."""
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (None, 1), (None, 1), (2, None)],
        "a long, b long",
    )
    rows = {
        r["check_name"]: r
        for r in audit._unique_check(df, "t", "pk", "a", "b").collect()
    }
    # NULL-free subset = {(1,1) x2}: 1 surplus; 3 NULL-keyed rows
    assert rows["pk"]["violations"] == 1 and rows["pk"]["checked"] == 5
    assert rows["pk_no_nulls"]["violations"] == 3
    assert rows["pk_no_nulls"]["checked"] == 5


# --------------------------------------------------------------------------
# key_skew_profile
# --------------------------------------------------------------------------


def test_skew_profile_invariants(spark):
    rows = audit.key_skew_profile(spark, SF_DIR).collect()
    assert len(rows) == len(audit.SKEW_KEYS)
    for r in rows:
        # max/mean ratio is ≥ 1 by construction and max_cnt is real
        assert r["skew_ratio"] >= 1.0
        assert 0 < r["max_cnt"] <= r["n_rows"]
        assert 0 < r["n_keys"] <= r["n_rows"]


def test_skew_profile_hot_key_is_argmax_with_low_tiebreak(spark, monkeypatch):
    df = spark.createDataFrame(
        [(7,), (7,), (3,), (3,), (9,)], "k long"
    )
    df.createOrReplaceTempView("skewtest")
    monkeypatch.setattr(audit, "SKEW_KEYS", (("skewtest", "k"),))
    monkeypatch.setattr(
        audit, "load_table", lambda spark, sf, t: spark.table(t)
    )
    r = audit.key_skew_profile(spark, SF_DIR).collect()[0]
    # keys 7 and 3 tie at count 2 → LOWEST key wins deterministically
    assert r["hot_key"] == 3 and r["max_cnt"] == 2
    assert r["n_rows"] == 5 and r["n_keys"] == 3


def test_skew_profile_key_zero_argmax(spark, monkeypatch):
    """Round-10 ADVICE regression: key 0 as the (tied) hottest key.
    The old ``10^13 - k`` packing made key 0's inverted form 14 digits,
    which lpad truncated to a value BELOW every real key's — silently
    mis-decoding hot_key to 9e12 and inverting the low-key tie-break.
    Both engines truncated identically, so only a hand-built argmax-0
    case can catch it."""
    df = spark.createDataFrame([(0,), (0,), (5,), (5,), (9,)], "k long")
    df.createOrReplaceTempView("skewzero")
    monkeypatch.setattr(audit, "SKEW_KEYS", (("skewzero", "k"),))
    monkeypatch.setattr(
        audit, "load_table", lambda spark, sf, t: spark.table(t)
    )
    r = audit.key_skew_profile(spark, SF_DIR).collect()[0]
    # keys 0 and 5 tie at count 2 → key 0 must win the low tie-break
    assert r["hot_key"] == 0 and r["max_cnt"] == 2
    assert r["n_rows"] == 5 and r["n_keys"] == 3


# --------------------------------------------------------------------------
# interval_coalesce
# --------------------------------------------------------------------------


def _coalesce_islands(spark, rows):
    """Run the island core on hand-built (user, event_id, s, e) rows by
    monkey-free recomputation: feed through the same window logic via a
    temp frame shaped like the operator's internal `iv`."""
    from pyspark.sql.window import Window

    iv = spark.createDataFrame(
        rows, "user_id long, event_id long, s long, e long"
    )
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    pme = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(pme.isNull() | (F.col("s") > pme), 1).otherwise(0)
    island = F.sum("brk").over(order.rowsBetween(Window.unboundedPreceding, 0))
    return (
        iv.withColumn("brk", brk)
        .withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(
            F.min("s").alias("island_start"),
            F.max("e").alias("island_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "island")
        .collect()
    )


def test_interval_semantics_overlap_touch_gap(spark):
    rows = [
        # overlap: [0,100] + [50,150] merge
        (1, 1, 0, 100),
        (1, 2, 50, 150),
        # touch: [150,200] starts exactly at running max end → merges
        (1, 3, 150, 200),
        # gap: 201 > 200 → new island
        (1, 4, 201, 300),
        # containment: [210,220] inside [201,300] merges, end keeps 300
        (1, 5, 210, 220),
    ]
    out = _coalesce_islands(spark, rows)
    assert [(r["island_start"], r["island_end"], r["n_events"]) for r in out] == [
        (0, 200, 3),
        (201, 300, 2),
    ]


def test_interval_coalesce_covers_all_events(spark):
    out = relational_ext.interval_coalesce(spark, SF_DIR)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert total == n_events
    bad = out.where(
        (F.col("island_end") <= F.col("island_start"))
        | (F.col("covered_s") != F.col("island_end") - F.col("island_start"))
    ).count()
    assert bad == 0


# --------------------------------------------------------------------------
# ewma_smooth
# --------------------------------------------------------------------------


def test_ewma_closed_form(spark):
    """The fold must equal the hand-unrolled recursion on a known
    series (α = 0.3): s = 0.3·x + 0.7·s, seeded with x₁."""
    a = relational_ext.EWMA_ALPHA
    xs = [10.0, 20.0, 40.0]
    expect = xs[0]
    for x in xs[1:]:
        expect = a * x + (1 - a) * expect
    df = spark.createDataFrame(
        [(1, i, float(x)) for i, x in enumerate(xs)],
        "user_id long, t long, x double",
    ).select(
        "user_id",
        F.struct(
            F.col("t"), F.col("t").alias("i"), F.col("x")
        ).alias("r"),
    )
    per_user = df.groupBy("user_id").agg(
        F.array_sort(F.collect_list("r")).alias("arr")
    ).withColumn("xs", F.expr("transform(arr, r -> r.x)"))
    got = per_user.select(
        F.expr(
            f"aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
            f" (acc, x) -> {a}D * x + {1 - a}D * acc)"
        ).alias("s")
    ).collect()[0]["s"]
    assert got == pytest.approx(expect, abs=1e-12)


def test_ewma_single_event_is_identity(spark):
    out = relational_ext.ewma_smooth(spark, SF_DIR)
    singles = out.where(F.col("n_events") == 1)
    # with one event the EWMA is the value itself (4-dp rounded)
    bad = singles.where(
        F.abs(F.col("ewma") - F.col("last_value")) > 1e-9
    ).count()
    assert bad == 0


# --------------------------------------------------------------------------
# leakage_safe_splits
# --------------------------------------------------------------------------


def test_splits_cluster_consistent_and_cover_corpus(spark):
    out = graph.leakage_safe_splits(spark, SF_DIR)
    rows = out.collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # THE property: no cluster straddles splits
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r["split"] for r in rows} <= {"train", "valid", "test"}
    # 90/5/5 hash split: train strictly dominates on any non-tiny corpus
    frac_train = sum(r["split"] == "train" for r in rows) / len(rows)
    assert frac_train > 0.7


def test_splits_pass_own_leakage_audit(spark):
    """Constructor/auditor duality: every near-dup pair (the LSH edge
    list the audit rides) has both ends in the SAME split."""
    from map_reduce_framework_spark.operators import dedup

    splits = graph.leakage_safe_splits(spark, SF_DIR).select("doc_id", "split")
    pairs = dedup.dedup_minhash_lsh(spark, SF_DIR).select("doc_a", "doc_b")
    leaked = (
        pairs.join(
            splits.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "split_a"
            ),
            "doc_a",
        )
        .join(
            splits.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "split_b"
            ),
            "doc_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert leaked == 0


# --------------------------------------------------------------------------
# global_rank_quality
# --------------------------------------------------------------------------


def test_global_rank_is_exact_permutation(spark):
    out = text.global_rank_quality(spark, SF_DIR).collect()
    n = len(out)
    assert sorted(r["rank"] for r in out) == list(range(1, n + 1))
    # ranks respect the (quality, doc_id) total order
    ordered = sorted(out, key=lambda r: (r["quality"], r["doc_id"]))
    assert [r["rank"] for r in ordered] == list(range(1, n + 1))
    assert out[-1]["pctile"] == 1.0


def test_global_rank_plan_has_no_global_window(spark):
    """The reason this operator exists: the plan must contain NO
    un-partitioned window (windowspecdefinition without partition
    columns) — every window runs per value-bucket."""
    from map_reduce_framework_spark import cache

    try:
        df = text.global_rank_quality(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="simple")
        plan = buf.getvalue()
    finally:
        cache.release()
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        first = args.split(",")[0].strip()
        # an un-partitioned spec starts directly with the ORDER BY col's
        # sort direction marker later; partitioned specs lead with
        # plain column refs.  Robust check: the spec must reference
        # `bucket` in its partition prefix.
        assert "bucket#" in args.split("specifiedwindowframe")[0], (
            f"global (or non-bucket) window in plan: {args[:120]}"
        )
        assert first, "empty window spec"


# --------------------------------------------------------------------------
# record_linkage_scores
# --------------------------------------------------------------------------


def test_linkage_weights_cover_all_three_classes():
    """The weight table must be able to produce every verdict class:
    best case clears MATCH_T, a mid case lands in [POSSIBLE_T,
    MATCH_T), worst case falls below POSSIBLE_T."""
    from map_reduce_framework_spark.operators.dedup import (
        LINK_MATCH_T,
        LINK_POSSIBLE_T,
        LINK_W_LANG,
        LINK_W_LEN,
        LINK_W_SOURCE,
        LINK_W_TITLE,
    )

    best = LINK_W_TITLE[0] + LINK_W_LANG[0] + LINK_W_SOURCE[0] + LINK_W_LEN[0]
    mid = LINK_W_TITLE[1] + LINK_W_LANG[0] + LINK_W_SOURCE[1] + LINK_W_LEN[0]
    worst = (
        LINK_W_TITLE[2] + LINK_W_LANG[1] + LINK_W_SOURCE[1] + LINK_W_LEN[1]
    )
    assert best >= LINK_MATCH_T
    assert LINK_POSSIBLE_T <= mid < LINK_MATCH_T
    assert worst < LINK_POSSIBLE_T


def test_linkage_rides_fuzzy_pairs_exactly(spark):
    """Every fuzzy pair appears exactly once with a verdict; scores are
    consistent with the agreement flags."""
    from map_reduce_framework_spark.operators import dedup

    pairs = dedup.fuzzy_edit_pairs(spark, SF_DIR).count()
    out = dedup.record_linkage_scores(spark, SF_DIR).collect()
    assert len(out) == pairs
    for r in out:
        expect = (
            dedup.LINK_W_TITLE[r["dist"]]
            + (dedup.LINK_W_LANG[0] if r["lang_agree"] else dedup.LINK_W_LANG[1])
            + (
                dedup.LINK_W_SOURCE[0]
                if r["source_agree"]
                else dedup.LINK_W_SOURCE[1]
            )
            + (dedup.LINK_W_LEN[0] if r["len_agree"] else dedup.LINK_W_LEN[1])
        )
        assert r["score"] == expect


# --------------------------------------------------------------------------
# ewma segment-merge algebra (the documented unbounded-history path)
# --------------------------------------------------------------------------


def test_ewma_segment_merge_equals_full_fold():
    """The docstring's segmental decomposition must be REAL algebra:
    folding [x1..xn] equals folding the right segment seeded with the
    left segment's result — s_right_fold(init=s_left) — for any split
    point.  (This is what an applyInPandas chunked EWMA would do at
    unbounded history; pinned here so the claim never drifts.)"""
    from map_reduce_framework_spark.operators.relational_ext import EWMA_ALPHA

    a = EWMA_ALPHA
    xs = [3.0, 141.0, 59.0, 26.0, 53.0, 58.0, 97.0, 93.0]

    def fold(seq, init):
        s = init
        for x in seq:
            s = a * x + (1 - a) * s
        return s

    full = fold(xs[1:], xs[0])
    for cut in range(1, len(xs)):
        left = fold(xs[1:cut], xs[0])
        merged = fold(xs[cut:], left)
        assert merged == full  # exact: identical op sequence


def test_ewma_segmented_agrees_with_flat_fold(spark):
    """The round-10 segmented operator must compute the same EWMA as
    the whole-history fold.  The affine (A, B) regrouping reorders
    floating-point ops, so agreement is near-exact, not bitwise — both
    operators' ORACLES are exact because each DuckDB twin replays its
    own op sequence; this test pins the semantic link between them."""
    from map_reduce_framework_spark.operators.relational_ext import (
        EWMA_SEG_LEN,
        ewma_smooth,
        ewma_smooth_segmented,
    )

    flat = {r["user_id"]: r for r in ewma_smooth(spark, SF_DIR).collect()}
    seg = {
        r["user_id"]: r
        for r in ewma_smooth_segmented(spark, SF_DIR).collect()
    }
    assert set(flat) == set(seg) and len(flat) > 0
    multi_segment_users = 0
    for uid, f in flat.items():
        s = seg[uid]
        assert s["n_events"] == f["n_events"]
        assert s["last_value"] == f["last_value"]
        # both sides are 4-dp rounded; allow one ulp of the rounding
        # grid for regrouping error at the boundary
        assert abs(s["ewma"] - f["ewma"]) <= 1e-4 + 1e-9
        if f["n_events"] > EWMA_SEG_LEN:
            multi_segment_users += 1
    # the corpus must actually exercise the multi-segment merge path
    assert multi_segment_users > 0


def test_ewma_tree_merge_multi_level_agrees_with_flat_fold(spark, tmp_path):
    """Round-11 tree merge: a planted 1,000-event history spans
    63 segments — past EWMA_MERGE_FANIN — so the engine must run ≥2
    compose levels with every per-task array bounded by the fan-in, and
    still agree with the pure-Python flat fold at the 4-dp grid."""
    import math

    import pandas as pd

    from map_reduce_framework_spark.operators.relational_ext import (
        EWMA_ALPHA,
        EWMA_MERGE_FANIN,
        EWMA_SEG_LEN,
        ewma_smooth_segmented,
    )

    n = 1_000
    rng = [(i * 7919) % 1000 / 7.0 for i in range(n)]  # deterministic
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.to_datetime(
                [1_600_000_000_000_000 + i * 60_000_000 for i in range(n)],
                unit="us",
            ),
            "user_id": [1] * n,
            "event_type": ["e"] * n,
            "value": rng,
            "props": ["{}"] * n,
        }
    )
    sf_dir = tmp_path / "sf_synth"
    sf_dir.mkdir()
    pdf.to_parquet(sf_dir / "events.parquet", index=False)

    segs = math.ceil(n / EWMA_SEG_LEN)
    assert segs > EWMA_MERGE_FANIN, "fixture must force a second level"

    row = ewma_smooth_segmented(spark, str(sf_dir)).collect()[0]
    assert row["n_events"] == n

    # flat fold on the same cents-derived values
    xs = [math.floor(v * 100 + 0.5) / 100.0 for v in rng]
    s = xs[0]
    for x in xs[1:]:
        s = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * s
    assert row["last_value"] == xs[-1]
    assert abs(row["ewma"] - math.floor(s * 1e4 + 0.5) / 1e4) <= 1e-4 + 1e-9


# --------------------------------------------------------------------------
# kcore_membership
# --------------------------------------------------------------------------


def test_kcore_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark,
        duck,
        registry.QUERIES["kcore_membership"],
        registry.ORACLES["kcore_membership"],
        "kcore_membership",
    )


def test_kcore_hand_graph(spark, graph_path):
    """Triangle {1,2,3} is a 2-core; pendant 4 (one edge to 3) and the
    chain 5—6 peel away.  Pendant removal must not drag the triangle
    out (3's degree drops 3→2 but stays ≥ k)."""
    from map_reduce_framework_spark.operators.graph import kcore_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in kcore_from_pairs(pairs).collect()}
    assert {n for n, r in rows.items() if r["in_core"]} == {1, 2, 3}
    assert rows[3]["degree_initial"] == 3 and rows[3]["degree_core"] == 2
    assert rows[4]["degree_core"] == 0 and rows[5]["degree_core"] == 0


def test_kcore_null_endpoint(spark, graph_path):
    """A null endpoint is a vertex no round peels or reaches: its
    neighbor 3 keeps the edge, and its own row sits outside the core."""
    from map_reduce_framework_spark.operators.graph import kcore_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, None), (4, 5)], "doc_a long, doc_b long"
    )
    rows = {
        r["doc_id"]: (r["degree_initial"], r["degree_core"], r["in_core"])
        for r in kcore_from_pairs(pairs).collect()
    }
    assert rows == {
        1: (2, 2, True),
        2: (2, 2, True),
        3: (3, 3, True),
        4: (1, 0, False),
        5: (1, 0, False),
        None: (1, 0, False),
    }


def test_kcore_fixpoint_reached(spark, graph_path):
    """The bounded-round contract: the LAST peel round must remove
    nothing at the tested SF, so the R-round answer equals the true
    k-core (not a truncation).  Verified by running one extra round
    over the engine's own survivors and counting removals."""
    from map_reduce_framework_spark.operators import dedup as ddp
    from map_reduce_framework_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        kcore_from_pairs,
    )

    pairs = ddp.dedup_simhash(spark, SF_DIR).select("doc_a", "doc_b")
    out = kcore_from_pairs(pairs)
    # survivors' core degrees already satisfy >= k (no further peel
    # possible) — this IS the fixpoint condition
    violators = out.where(
        F.col("in_core") & (F.col("degree_core") < KCORE_K)
    ).count()
    assert violators == 0
    # and the core is non-trivial at this SF (the test is not vacuous)
    n_core = out.where("in_core").count()
    assert n_core > 0, "no 2-core at test SF - raise SF or lower k"
    assert KCORE_ROUNDS >= 2


# --------------------------------------------------------------------------
# graph_triangle_stats
# --------------------------------------------------------------------------


def test_triangle_hand_graph(spark, graph_path):
    """K4 {1,2,3,4} holds 4 triangles, 3 per member; triangle {4,5,6}
    hangs off 4 (degree 5, 4 triangles, clustering 2·4/(5·4) = 0.4);
    the edge 7—8 closes nothing."""
    from map_reduce_framework_spark.operators.graph import (
        triangle_stats_from_pairs,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(
        k4 + [(4, 5), (5, 6), (4, 6), (7, 8)], "doc_a long, doc_b long"
    )
    rows = {
        r["doc_id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_stats_from_pairs(pairs).collect()
    }
    assert rows == {
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (3, 3, 1.0),
        4: (5, 4, 0.4),
        5: (2, 1, 1.0),
        6: (2, 1, 1.0),
        7: (1, 0, 0.0),
        8: (1, 0, 0.0),
    }


def test_triangle_stats_paths_bit_identical(spark, monkeypatch):
    """The driver's counts feed the same Spark clustering expression as
    the distributed counts, so every double is bit-identical."""
    from map_reduce_framework_spark.operators import graph

    local = graph.graph_triangle_stats(spark, SF_DIR).collect()
    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)
    distributed = graph.graph_triangle_stats(spark, SF_DIR).collect()
    assert any(r["n_triangles"] for r in local)
    assert local == distributed


# --------------------------------------------------------------------------
# agg_view_maintain / zorder_locality_audit
# --------------------------------------------------------------------------


def test_agg_view_refresh_consistent_and_idempotent(spark):
    """The refreshed view must cover the whole corpus (sums equal a
    direct recompute), expose the batch delta, and return the same
    answer when re-run (the base table is reused, not re-appended)."""
    out1 = relational_ext.agg_view_maintain(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r["n_docs"] for r in out1) == docs.count()
    n_added = sum(r["n_docs_added"] for r in out1)
    assert 0 < n_added < docs.count()
    out2 = relational_ext.agg_view_maintain(spark, SF_DIR).collect()
    assert out1 == out2


def test_morton_interleave_known_bits(spark):
    """morton(a=0b101, b=0b011) = a-bits at even positions, b-bits at
    odd: 0b0_1_1_0_1_1 → a contributes 1,0,1 at bits 0,2,4; b
    contributes 1,1,0 at bits 1,3,5 → 0b011011 = 27."""
    from map_reduce_framework_spark.operators.relational_ext import _morton20

    row = (
        spark.range(1)
        .select(
            _morton20(F.lit(5).cast("long"), F.lit(3).cast("long")).alias(
                "z"
            )
        )
        .collect()[0]
    )
    assert row["z"] == 27


def test_zorder_bounds_both_dimensions(spark):
    """THE verdict the audit exists to produce: the linear layout
    cannot prune its non-sort dimension at all (hit fraction 1.0),
    while Z-ordering bounds BOTH dimensions — its worst-dimension hit
    fraction must beat linear's by a wide margin."""
    rows = {
        r["layout"]: r
        for r in relational_ext.zorder_locality_audit(spark, SF_DIR).collect()
    }
    lin, zo = rows["linear"], rows["zorder"]
    assert lin["hit_frac_supp"] == 1.0
    assert zo["hit_frac_worst_dim"] <= lin["hit_frac_worst_dim"] / 4
    assert zo["hit_frac_part"] < 1.0 and zo["hit_frac_supp"] < 1.0


def test_agg_view_refresh_reads_materialized_base(spark):
    """After the base exists, the refresh plan must READ the
    materialized view table (a FileScan on the fingerprinted table),
    not re-aggregate the old corpus from documents."""
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    relational_ext.agg_view_maintain(spark, SF_DIR).collect()  # build base
    df = relational_ext.agg_view_maintain(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    table = fingerprinted_table_name("mrfs_aggmv", SF_DIR, "documents")
    assert table in plan, "refresh does not scan the materialized base"


def test_token_budget_plan_starved_language(spark, monkeypatch):
    """A starved stratum must show a real deficit and >1 oversampling
    epochs: 2 languages, one with 90 tokens, one with 10; 50% budget →
    25 tokens/lang → the small one needs ceil(25/10) = 3 epochs and a
    15-token deficit."""
    from map_reduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 90), "en", "s", 1),
         (2, " ".join(["w"] * 10), "zh", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.createOrReplaceTempView("budget_docs")
    monkeypatch.setattr(t, "load_table", lambda spark, sf, tbl: spark.table("budget_docs"))
    rows = {r["lang"]: r for r in t.token_budget_plan(spark, SF_DIR).collect()}
    assert rows["zh"]["token_deficit"] == 15.0
    assert rows["zh"]["epochs_needed"] == 3
    assert rows["zh"]["sample_rate"] == 1.0
    assert rows["en"]["token_deficit"] == 0.0
    assert rows["en"]["epochs_needed"] == 1


# --------------------------------------------------------------------------
# property tests (hypothesis): interval union + Morton key
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_intervals = st.lists(
    st.tuples(
        st.integers(1, 3),  # user
        st.integers(0, 500),  # start
        st.integers(1, 80),  # duration
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(iv=_intervals)
def test_interval_union_properties(spark, iv):
    """Against a pure-Python interval-union model: per user, the
    engine's islands must be exactly the maximal merged intervals
    (touching merges), every event in exactly one island, and islands
    strictly separated by gaps."""
    rows = [
        (u, i, s, s + d) for i, (u, s, d) in enumerate(iv)
    ]
    got = _coalesce_islands(spark, rows)
    # python model
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, _, s, e in rows:
        by_user[u].append((s, e))
    want = {}
    for u, ivs in by_user.items():
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        want[u] = [(m[0], m[1], m[2]) for m in merged]
    got_by_user = defaultdict(list)
    for r in got:
        got_by_user[r["user_id"]].append(
            (r["island_start"], r["island_end"], r["n_events"])
        )
    assert dict(got_by_user) == want
    for islands in got_by_user.values():
        for (s1, e1, _), (s2, _, _) in zip(islands, islands[1:]):
            assert s2 > e1  # strict gap between islands


@settings(max_examples=50, deadline=None)
@given(
    a=st.integers(0, (1 << 10) - 1),
    b=st.integers(0, (1 << 10) - 1),
    a2=st.integers(0, (1 << 10) - 1),
    b2=st.integers(0, (1 << 10) - 1),
)
def test_morton_bijective_and_quadrant_monotone(a, b, a2, b2):
    """The SQL Morton expression must agree with the Python reference
    (bijectivity follows), and dominance must be order-preserving:
    a ≤ a2 ∧ b ≤ b2 ⇒ z ≤ z2 — the property 2-D min/max pruning
    relies on."""

    def pyz(x, y):
        out = 0
        for i in range(10):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    import duckdb

    from map_reduce_framework_spark.operators.relational_ext import (
        _morton20_sql,
    )

    z, z2 = duckdb.sql(
        f"SELECT {_morton20_sql(str(a), str(b))},"
        f" {_morton20_sql(str(a2), str(b2))}"
    ).fetchone()
    assert z == pyz(a, b) and z2 == pyz(a2, b2)
    if a <= a2 and b <= b2:
        assert z <= z2


def test_golden_record_survivorship_rules(spark):
    """Per-cluster rules verified against raw members recomputed
    independently: canonical = min id, best_text = longest text with
    lowest-id tie-break, provenance = sorted distinct sets, and
    singletons excluded."""
    from map_reduce_framework_spark.operators import graph as g

    out = {r["cluster_id"]: r for r in g.golden_record_assembly(spark, SF_DIR).collect()}
    kl = {r["doc_id"]: r["cluster_id"] for r in g.dedup_pipeline_keeplist(spark, SF_DIR).collect()}
    docs = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source", "lang", "n_chars")
        .collect()
    }
    from collections import defaultdict

    members = defaultdict(list)
    for d, c in kl.items():
        members[c].append(d)
    multi = {c: ms for c, ms in members.items() if len(ms) >= 2}
    assert set(out) == set(multi) and len(multi) > 0
    for c, ms in multi.items():
        r = out[c]
        assert r["canonical_id"] == min(ms)
        assert r["n_members"] == len(ms)
        best = max(ms, key=lambda d: (docs[d]["n_chars"], -d))
        assert r["best_text_id"] == best
        assert r["total_chars"] == sum(docs[d]["n_chars"] for d in ms)
        assert r["sources"] == ",".join(sorted({docs[d]["source"] for d in ms}))
        assert r["langs"] == ",".join(sorted({docs[d]["lang"] for d in ms}))


@settings(max_examples=100, deadline=None)
@given(
    xs=st.lists(
        st.floats(0.01, 1000.0, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    ),
    seg_len=st.integers(1, 20),
)
def test_ewma_affine_decomposition_property(xs, seg_len):
    """The segmented operator's algebra, property-tested in pure
    Python: for ANY series and ANY segment length, composing the
    per-segment affine (A, B) summaries — zero/one-seeded folds, first
    segment seeded with x1 — agrees with the whole-history fold to
    regrouping error (~1e-12 relative; the op reorders float adds, so
    bitwise equality is NOT claimed — that stronger property holds for
    the stream twin's seeded-fold form, pinned separately)."""
    from map_reduce_framework_spark.operators.relational_ext import EWMA_ALPHA

    a, b = EWMA_ALPHA, 1 - EWMA_ALPHA
    flat = xs[0]
    for x in xs[1:]:
        flat = a * x + b * flat

    v = None
    for i in range(0, len(xs), seg_len):
        seg = xs[i : i + seg_len]
        if i == 0:
            v0 = seg[0]
            for x in seg[1:]:
                v0 = a * x + b * v0
            v = v0
            continue
        A, B = 0.0, 1.0
        for x in seg:
            A = a * x + b * A
            B = B * b
        v = A + B * v
    assert v == pytest.approx(flat, rel=1e-9, abs=1e-9)
