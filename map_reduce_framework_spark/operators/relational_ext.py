"""Extended relational surface: TPC-H-style decision-support queries plus
Spark-native operator families the core module doesn't cover — pivot/
unpivot, exact percentiles, approximate distinct (HLL), deterministic
hash sampling, as-of join, sorted string aggregation, scalar subqueries.

Same contract as ``relational.py``: every function takes ``(spark,
sf_dir)`` and returns a DataFrame; ``QUERIES`` / ``ORACLES`` feed
``plans.registry``.  Column aliases match the oracle SQL exactly (the
driver hashes columns by name).

None of these exist in the reference (SURVEY §2.4 marks joins, windows,
set ops, sampling, approx aggregation all absent) — they are the widened
Spark-native surface; the queries mirror the published TPC-H spec shapes
(Q4/Q14/Q17/Q18/Q19) adapted to the synthetic star schema's columns.

Scale notes:
- Q4's EXISTS is a left-semi join — Spark never materializes the
  (order × lineitem) product and AQE picks broadcast/shuffle by size.
- Q17/Q18's per-key aggregate-then-join keeps partial aggregation
  map-side; the per-part averages table is tiny and broadcasts.
- Q19's OR-of-ANDs predicate stays a Column expression, so the brand/
  size conjuncts push into the part scan (PushedFilters) and the join
  is an equi-join with the residual OR as post-filter.
- ``hash_sample`` is shuffle-free, reproducible sampling: a pure
  row-local predicate on an md5-derived key — at 100 TB the sample is
  decided inside the scan, no exchange, identical on any cluster.
- ``asof_join`` uses the union-window formulation (one sort-shuffle by
  user), NOT a range join — the standard scalable as-of pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import rnd, rnd_sql
from ..sources import load_table
from .dedup import hash60

ORDER_PRIORITIES = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)

#: Q18 large-volume threshold on sum(l_quantity) per order.
Q18_MIN_QTY = 150

#: tpch_q22: a customer is "lapsed" with no order on/after this date
#: (the synthetic generator gives every customer orders, so the official
#: Q22 "never ordered" anti join would be vacuously empty at every SF)
Q22_LAPSE_CUTOFF = "2000-01-01"

#: hash_sample keeps keys with md5-60bit % 1000 < 50 (a 5% sample).
SAMPLE_PERMILLE = 50


# --------------------------------------------------------------------------
# TPC-H-style decision support
# --------------------------------------------------------------------------


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: orders in 1996-H1 with at least one late-shipped line
    (l_shipdate > o_orderdate), counted per priority.

    EXISTS ≡ left-semi join with the inequality as join residual.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: % of 1997 revenue from PROMO-type parts (conditional agg over
    a broadcast part join)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    return joined.agg(
        rnd(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: yearly revenue loss if small-quantity Brand#1 orders (qty <
    20% of that part's average) were dropped.

    The correlated scalar subquery becomes aggregate-then-join: per-part
    averages are a tiny table joined back (broadcast at any realistic
    part-dimension size relative to lineitem).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(avg_qty.withColumnRenamed("l_partkey", "ap_partkey")),
            F.col("ap_partkey") == F.col("l_partkey"),
        )
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(rnd(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: top-20 customers by order value among orders whose total
    quantity exceeds the threshold (IN-subquery ≡ aggregate + join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > Q18_MIN_QTY)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            rnd(F.col("sum_qty"), 4).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: revenue from three brand/size/quantity OR-brackets — the
    classic disjunctive-pushdown query."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.where(bracket).agg(rnd(F.sum(rev), 4).alias("revenue"))


# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returned items in 1997-H1,
    with their nation (3-way join, dimension sides broadcast)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(rnd(F.sum(rev), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join through the salting helper: lineitem (hot fact
    keys) ⋈ part with the key space split across 8 salts, then brand
    rollup.  Salting is internal — the aggregated result is
    salt-independent, so the oracle is the plain join (which is exactly
    the point: same answer, shuffle spread over n_salts× more keys)."""
    from ..functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = salted_join(li, part, li.l_partkey == part.p_partkey, n_salts=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
        .orderBy("p_brand")
    )


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: NULLIF-produced nulls, null-safe counting,
    COALESCE defaults, and NULLS FIRST ordering in one query (the corpus
    has no physical nulls, so they are manufactured deterministically)."""
    orders = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return (
        orders.select(status_or_null.alias("status_np"), "o_totalprice")
        .groupBy("status_np")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # count(col) skips nulls — the SQL-standard asymmetry
            F.count("status_np").alias("n_nonnull"),
            rnd(F.sum("o_totalprice"), 2).alias("total"),
        )
        .withColumn("status_filled", F.coalesce("status_np", F.lit("<none>")))
        .orderBy(F.col("status_np").asc_nulls_first())
    )


def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour event count per type via a RANGE window frame over
    event-time (epoch seconds, so the frame bound is engine-portable) —
    the sliding-aggregate-per-row pattern tumbling windows can't express.

    Bucket-sliced (round-6 scale rewrite): a window partitioned by the
    low-cardinality ``event_type`` alone serializes each type's ENTIRE
    history into one task at 100 TB.  Instead each row enters its own
    frame-width time bucket as a *resident* and the next bucket as a
    *ghost*; the identical RANGE frame then runs partitioned by
    ``(event_type, bucket)``.  Exact by construction — every row of a
    resident's trailing frame ``[t-3600, t]`` lives in bucket ``b`` (the
    residents) or ``b-1`` (the ghosts), each exactly once — and any task
    now holds at most two buckets of one type (bounded by arrival rate,
    not history length).  Ghosts feed frames but emit no output rows.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    width = 3600
    base = ev.select(
        "event_id", "event_type", F.col("ts").cast("long").alias("epoch_s")
    )
    bkt = F.floor(F.col("epoch_s") / width)
    u = base.withColumn("bkt", bkt).withColumn(
        "is_res", F.lit(True)
    ).unionByName(
        base.withColumn("bkt", bkt + 1).withColumn("is_res", F.lit(False))
    )
    w = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("epoch_s")
        .rangeBetween(-width, 0)
    )
    return (
        u.select(
            "event_id",
            "event_type",
            "epoch_s",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
            "is_res",
        )
        .where("is_res")
        .drop("is_res")
        .orderBy("event_id")
    )


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + lookup + cardinality over document metadata.

    Map columns don't round-trip comparably through pandas (Spark yields
    dicts, DuckDB key/value struct-of-lists), so the map itself is output
    as canonical JSON — byte-identical in both engines — alongside scalar
    ``element_at`` lookups and cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    meta = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return docs.select(
        "doc_id",
        F.to_json(meta).alias("meta_json"),
        F.element_at(meta, F.lit("lang")).alias("lang_val"),
        F.size(meta).alias("n_keys"),
    ).orderBy("doc_id")


def lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF-style lateral expansion: each document row fans out
    to (doc_id, pos, tok) rows with token ordinals (posexplode ≡ LATERAL
    VIEW ≡ SQL-standard lateral unnest with ordinality)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
        .orderBy("doc_id", "pos")
    )


def pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order value per status × priority, priorities as columns.

    The pivot value list is explicit — at scale an implicit pivot first
    runs a distinct over the pivot column; pinning the values keeps the
    plan a single pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(ORDER_PRIORITIES))
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "o_orderstatus",
        *[rnd(F.col(f"`{p}`"), 2).alias(p) for p in ORDER_PRIORITIES],
    ).orderBy("o_orderstatus")


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem measures long-form: (order, line, measure, val) — the
    inverse of pivot, via the built-in ``unpivot`` (codegen'd, no UDF)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .withColumn("val", rnd(F.col("val"), 4))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


# --------------------------------------------------------------------------
# Percentiles, approximate distinct, sampling
# --------------------------------------------------------------------------


def percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extended price per return flag
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``)."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = {
        "p25": 0.25,
        "p50": 0.50,
        "p75": 0.75,
        "p90": 0.90,
    }
    return (
        li.groupBy("l_returnflag")
        .agg(
            *[
                rnd(F.expr(f"percentile(l_extendedprice, {p})"), 4).alias(name)
                for name, p in pct.items()
            ]
        )
        .orderBy("l_returnflag")
    )


def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type.

    No oracle: DuckDB's approx_count_distinct is a different sketch, so
    the driver records a rows-only check; ``tests/test_relational_ext.py``
    asserts the estimate lands within 5% of the exact count.  At 100 TB
    this is THE distinct-count operator — fixed memory per group versus
    an exact distinct's full shuffle of the key universe.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def approx_percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles of l_extendedprice per return flag
    (``percentile_approx``).  No oracle: the sketch differs from
    DuckDB's; the driver records a rows-only check, and
    ``tests/test_relational_ext.py`` asserts each estimate lands within
    2% of the exact quantile.  At 100 TB this is the quantile operator —
    fixed-size mergeable sketches per group versus an exact percentile's
    per-group sort of the full value set (the exact twin,
    ``percentile_summary``, stays for bounded groups and oracles)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("p50"),
            F.percentile_approx("l_extendedprice", 0.95, 10_000).alias("p95"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample of lineitem, aggregated per return flag.

    The sampling predicate is a row-local md5-derived hash — reproducible
    across engines, clusters, and runs (unlike TABLESAMPLE), and applied
    during the scan with no shuffle.  This is how large-scale pipelines
    carve stable dev/eval slices out of a 100 TB corpus.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return (
        li.where(hash60(key) % 1000 < SAMPLE_PERMILLE)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sample_revenue"
            ),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# As-of join, string agg, scalar subquery
# --------------------------------------------------------------------------


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the same user's most
    recent earlier click.

    Implemented as union-window (filter both streams, one window per user
    ordered by epoch-micros with a strict RANGE frame ending at -1µs,
    ``max(struct(ts, event_id))`` over that frame) — a single sort-shuffle
    on the user key.  The naive alternative is an inequality range join
    (quadratic per user) — this formulation is the scalable as-of used by
    stream processors.

    Strictness is enforced structurally, not assumed: the RANGE frame
    ``(unboundedPreceding, -1]`` over ``unix_micros(ts)`` admits only rows
    with strictly earlier ts (a same-timestamp click is excluded, exactly
    like the oracle's ``c.ts < p.ts``), and the struct max tie-breaks equal
    click timestamps by largest event_id, matching the oracle's
    ``ORDER BY c.ts DESC, c.event_id DESC LIMIT 1``.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prev_click = F.max(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("event_id")),
        )
    ).over(w)
    return (
        base.withColumn("prev", prev_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("prev.event_id").alias("prev_click_id"),
            F.col("prev.ts").alias("prev_click_ts"),
        )
        .orderBy("event_id")
    )


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10-minute width, 5-minute slide) per
    event type — each event lands in exactly width/slide = 2 windows.

    Batch form of the Structured Streaming sliding aggregation (the
    streaming twin is ``streaming.events_stream`` with the same window
    spec); Spark's ``window()`` is epoch-aligned, as is the oracle's
    ``time_bucket`` (DuckDB's 2000-01-01 origin is itself 5-minute
    epoch-aligned, so buckets coincide).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every (purchase, click) pair where the same user's
    click happened within the 6 hours before the purchase.

    Batch twin of the stream-stream interval join in
    ``streaming/interval_join.py`` (same predicate, watermarked streaming
    execution must produce identical pairs — tested).  The join has an
    equi key (user_id) plus a time-range residual, so Spark shuffles by
    user and scans each user's events once — not a cross-range explosion.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
            & (F.col("c_ts") < F.col("p_ts")),
        )
        .select("purchase_id", "click_id", "user_id", "p_ts", "c_ts")
        .orderBy("purchase_id", "click_id")
    )


def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly event counts per type: the time-series
    densification pattern (dimension spine × observed aggregates).

    The spine is ``sequence(min_hour, max_hour)`` exploded against the
    distinct types — at scale the spine is tiny (hours × types) and
    broadcast against the aggregated facts, so densification costs one
    small outer join, never a scan-side blowup.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    return (
        F.broadcast(spine)
        .join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("hour", "event_type")
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity day (cohort),
    counted per day-offset of later activity — the standard product-
    analytics rollup (two aggregations + one broadcast-able join on the
    per-user cohort table)."""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    return (
        active.join(F.broadcast(cohorts), "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped: distribution of order counts per customer (including
    zero-order customers via the left join) — two aggregations, the
    classic double-groupBy.  (The official Q13's o_comment NOT LIKE
    filter is dropped: the synthetic orders table has no comment
    column.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped: customers with above-average positive balance and no
    order since ``Q22_LAPSE_CUTOFF``, rolled up per nation (anti join
    against date-filtered orders + an uncorrelated scalar threshold).
    Two deviations from the official Q22, both forced by the synthetic
    schema: the phone country-code substring becomes the nation key (no
    phone column), and "never ordered" becomes "lapsed since cutoff"
    (the generator gives every customer at least one order, so the pure
    anti join is vacuously empty — see FIXTURES.md).  The anti-join
    plan shape is identical; the date filter pushes down to the orders
    scan before the anti join, so at 100 TB the right side shrinks to
    the recent slice."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("threshold"))
    )
    recent = orders.where(F.col("o_orderdate") >= F.lit(Q22_LAPSE_CUTOFF))
    eligible = (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("threshold"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        eligible.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def events_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment rollup: every event joined to its user's
    profile (first-seen day, historical event count — a batch-derived
    static dimension), rolled up per (event_type, first-seen day).

    Batch twin of ``streaming.static_join`` (the stream-static broadcast
    join demo, which must produce exactly these rows).  The profile is a
    per-user aggregate — at 100 TB it is the classic broadcast-able
    dimension next to the event fact stream."""
    events = load_table(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.count(F.lit(1)).alias("n_hist"),
    )
    return (
        events.join(F.broadcast(profile), "user_id")
        .groupBy("event_type", "first_day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type", "first_day")
    )


#: band_join_pricing: number of equal-width price bands
N_PRICE_BANDS = 10
#: band width (covers o_totalprice up to 600k; the top band is open)
PRICE_BAND_WIDTH = 60_000


def band_join_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: orders matched to a broadcast band dimension
    on ``lo <= price < hi`` — the generic range-classification join.

    With the band table broadcast, the non-equi predicate runs as a
    BroadcastNestedLoopJoin — the right plan when one side is a handful
    of rows: the fact side never shuffles and the predicate is evaluated
    map-side.  (When both sides are large, a range join belongs on a
    bucketized equi-key — exactly what :func:`histogram_totalprice` does
    with floor(x/width); this query is the dimension-driven variant with
    arbitrary, possibly unequal band edges.)"""
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.range(N_PRICE_BANDS).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * PRICE_BAND_WIDTH).cast("double").alias("lo"),
        F.when(
            F.col("id") < N_PRICE_BANDS - 1,
            ((F.col("id") + 1) * PRICE_BAND_WIDTH).cast("double"),
        ).alias("hi"),  # open-ended top band: hi IS NULL
    )
    joined = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("hi").isNull() | (F.col("o_totalprice") < F.col("hi"))),
    )
    return (
        joined.groupBy("band_id", "lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("band_id")
    )


#: window_distribution: balance-bucket width for the distributed rank
#: decomposition.  c_acctbal is bounded money (−1k..10k), so $100
#: buckets give ~110 slices per nation; finer width buys parallelism at
#: the price of a larger (still tiny) bucket-offset table.
DIST_BAL_BUCKET = 100


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank / cume_dist /
    ntile(4) of each customer's balance within its nation.  The order key
    includes c_custkey so ranks are total (no peer groups) and the
    fractional outputs are exact integer ratios, identical across
    engines.

    Bucket-sliced ranks (round-6 scale rewrite): ``PARTITION BY
    c_nationkey`` alone is 25 nations ⇒ 25 tasks sorting the whole
    customer table at 100 TB.  Rank functions cannot window-duplicate
    (a rank needs the group's total order), but with a TIE-FREE order
    key they decompose: global rank = (count of rows in lower balance
    buckets — an exclusive prefix over the tiny per-(nation, bucket)
    count table) + row_number within the bucket, and all three outputs
    are closed forms of (rank, n): percent_rank = (rank−1)/(n−1),
    cume_dist = rank/n, and ntile(4)'s first n mod 4 tiles hold
    ⌈n/4⌉ rows (Spark/DuckDB/standard semantics).  floor(acctbal /
    width) is monotone, so bucket order extends the value order.
    """
    cust = load_table(spark, sf_dir, "customer")
    b = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / DIST_BAL_BUCKET).alias("bkt"),
    )
    w_local = Window.partitionBy("c_nationkey", "bkt").orderBy(
        "c_acctbal", "c_custkey"
    )
    w_pfx = (
        Window.partitionBy("c_nationkey")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = b.groupBy("c_nationkey", "bkt").agg(F.count(F.lit(1)).alias("bn"))
    offsets = counts.select(
        "c_nationkey",
        "bkt",
        F.coalesce(F.sum("bn").over(w_pfx), F.lit(0)).alias("off"),
    )
    totals = counts.groupBy("c_nationkey").agg(F.sum("bn").alias("n"))
    ranked = (
        b.withColumn("lr", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["c_nationkey", "bkt"])
        .join(F.broadcast(totals), "c_nationkey")
        .withColumn("rank", F.col("off") + F.col("lr"))
    )
    n, rank = F.col("n"), F.col("rank")
    pct = F.when(n > 1, (rank - 1) / (n - 1)).otherwise(F.lit(0.0))
    cume = rank / n
    q, r = F.floor(n / 4), n % 4
    tile = F.when(
        rank <= r * (q + 1), F.ceil(rank / (q + 1))
    ).otherwise(r + F.ceil((rank - r * (q + 1)) / q))
    return (
        ranked.select(
            "c_custkey",
            "c_nationkey",
            rnd(pct, 4).alias("pct_rank"),
            rnd(cume, 4).alias("cume"),
            tile.cast("long").alias("quartile"),
        )
        .orderBy("c_custkey")
    )


#: histogram_totalprice: fixed-width bin size over o_totalprice
HIST_BIN_WIDTH = 25_000


def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: the one-pass binned
    aggregate (bin = floor(x / width)) — partial agg per bin, no sort of
    the raw values, bin count independent of row count."""
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("bigint")
    return (
        orders.select(bin_col.alias("bin"), "o_totalprice")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.min("o_totalprice"), 2).alias("min_price"),
            rnd(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("bin")
    )


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics: multiplicity = min of the two
    sides) of customer keys from two order predicates."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return hi.intersectAll(urgent).orderBy("o_custkey")


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference: multiplicity = left − right,
    floored at 0) of the same two customer-key multisets."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return hi.exceptAll(urgent).orderBy("o_custkey")


#: Q7/Q8 parameters (synthetic nation/region/type vocabulary)
#: chosen to be non-vacuous at every test SF (sf0.001 has only ~10
#: suppliers, so most nation pairs ship nothing there)
Q7_NATION_A = "NATION_18"
Q7_NATION_B = "NATION_19"
Q8_REGION = "EUROPE"
Q8_NATION = "NATION_1"
Q8_PART_TYPE = "PROMO"
def _rev_col() -> "F.Column":
    """Spark twin of the ``_REV`` oracle expression."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


#: Q21: a line is "late" when shipped more than this many days after the
#: order date (the official commit/receipt-date pair is absent from the
#: synthetic lineitem, so lateness is re-anchored on the order date —
#: the double-correlated EXISTS / NOT EXISTS structure is unchanged)
Q21_LATE_DAYS = 90


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: revenue shipped between two nations, per direction per year —
    the five-way fact/dimension join with a symmetric nation-pair
    predicate.  Nations broadcast; the lineitem⋈orders⋈customer spine
    shuffles on its join keys."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ))
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(rnd(F.sum(_rev_col()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: one nation's share of a region's order volume for one part
    type, per order year — the widest classic join (7 tables) with a
    conditional-aggregate ratio on top.  part filters before the join
    (pushdown), every dimension broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == Q8_PART_TYPE
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == Q8_REGION
    )
    n1 = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    n2 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    vol = _rev_col()
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            rnd(
                F.sum(F.when(F.col("nation") == Q8_NATION, vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: suppliers who were the ONLY late shipper on a finished
    multi-supplier order — the classic double-correlated EXISTS /
    NOT EXISTS, composed as a left-semi then a left-anti join on the
    order key (each with the supplier-inequality predicate inside the
    join).  Lateness is re-anchored on ``Q21_LATE_DAYS`` after the order
    date (see the constant).  All three legs shuffle on l_orderkey, so
    AQE can coalesce them; supplier broadcasts for the final name join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS"
    )
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    l1 = lo.where((F.col("o_orderstatus") == "F") & late).select(
        "l_orderkey", "l_suppkey"
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l1 = l1.join(
        others,
        (F.col("l_orderkey") == F.col("ok2"))
        & (F.col("l_suppkey") != F.col("sk2")),
        "left_semi",
    )
    late_others = lo.where(late).select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    l1 = l1.join(
        late_others,
        (F.col("l_orderkey") == F.col("ok3"))
        & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    return (
        l1.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users counted at a step
    only if their FIRST occurrence of each stage happens strictly after
    the previous stage's first occurrence.

    One conditional-min aggregate per user (single shuffle) followed by
    a scalar rollup + ``stack`` unpivot — no joins, no windows; the
    per-user firsts table is the only intermediate and it is one row per
    user regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        first_of("view").alias("v"),
        first_of("click").alias("c"),
        first_of("purchase").alias("p"),
    )
    s1 = F.col("v").isNotNull()
    s2 = s1 & (F.col("c") > F.col("v"))
    s3 = s2 & (F.col("p") > F.col("c"))
    totals = per_user.agg(
        F.sum(s1.cast("long")).alias("n1"),
        F.sum(s2.cast("long")).alias("n2"),
        F.sum(s3.cast("long")).alias("n3"),
    )
    return totals.selectExpr(
        "stack(3, 'step1_view', n1, 'step2_click', n2,"
        " 'step3_purchase', n3) AS (step, n_users)"
    ).orderBy("step")


def events_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hourly tumbling window — the unique-visitors
    rollup.  Exact distinct inside an event-time window (two-phase
    distinct aggregate: partial dedup of (window, user) then count); the
    sketch alternative for unbounded cardinalities is
    :func:`approx_distinct_hll`."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("win.start").alias("hour"), "n_users", "n_events")
        .orderBy("hour")
    )


def multi_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates with different keys in one pass —
    planned via Spark's Expand operator (each input row fans out once
    per distinct clause, then a single aggregation tree handles all of
    them).  One query → one shuffle pipeline, not one job per distinct
    column, which is the property that matters at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
            F.count_distinct(F.year("o_orderdate")).alias("n_years"),
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


def tpch_q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped: per delivery-lateness bucket, how many lines belong to
    high- vs low-priority orders (the official Q12's conditional-count
    CASE aggregation; the grouping key is the lateness bucket because
    the synthetic lineitem has no l_shipmode, and lateness reuses the
    Q21 anchor — shipped more than ``Q21_LATE_DAYS`` after the order
    date)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("late_bucket", F.when(late, "late").otherwise("on-time"))
        .groupBy("late_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("late_bucket")
    )


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: the supplier(s) with maximum revenue in a half-year window —
    an aggregate-of-aggregate with a scalar-max filter (the official
    CREATE VIEW becomes a reused DataFrame).  The argmax compares
    2-dp-rounded totals so the equality is float-drift-safe across
    engines while ties remain possible, as in the official query."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        rnd(F.sum(_rev_col()), 2).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


#: table_profile: numeric lineitem columns to profile
PROFILE_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: snapshot_diff: simulated next-snapshot knobs (hash-keyed, deterministic)
SNAPSHOT_DELETE_MOD = 10  # keys with h%10 == 0 deleted in snapshot B
SNAPSHOT_UPDATE_MOD = 7  # keys with h%7 == 1 get a 10% price bump


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of lineitem's numeric measures: one row per
    column with null count, exact distinct count, min and max.

    All columns profile in ONE aggregate pass (Catalyst plans the
    multi-distinct via EXPAND — one scan, not one scan per column),
    then the single stats row unpivots into per-column rows.  This is
    the standard pre-ingestion profiling step of a data pipeline; at
    100 TB the same plan holds, with exact distinct swappable for
    approx_count_distinct per SCALING.md.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLUMNS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    stats = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLUMNS
    )
    return stats.selectExpr(
        f"stack({len(PROFILE_COLUMNS)}, {stack}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)"
    ).orderBy("col_name")


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / MERGE-pattern snapshot comparison: classify every order key
    as unchanged / updated / deleted between snapshot A (orders as-is)
    and a deterministically simulated snapshot B (hash-keyed ~10%
    deletes, ~14% 10%-price-bump updates).

    The classification is ONE full outer join on the key — the scalable
    shape of MERGE INTO / dataset-version diffing (both sides shuffle
    by key once; at 100 TB this is the same co-partitioned join every
    table-format merge executes underneath).  Output is the per-type
    rollup (count + total price delta).
    """
    from .dedup import hash60

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    h = hash60(F.col("o_orderkey").cast("string"))
    b = (
        load_table(spark, sf_dir, "orders")
        .where(h % SNAPSHOT_DELETE_MOD != 0)
        .select(
            "o_orderkey",
            F.when(
                h % SNAPSHOT_UPDATE_MOD == 1, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price_b"),
        )
    )
    joined = a.join(b, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("price_b").isNull(), "deleted")
        .when(F.col("price_a").isNull(), "inserted")
        .when(F.col("price_a") != F.col("price_b"), "updated")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change_type"),
            (F.coalesce("price_b", F.lit(0.0)) - F.coalesce("price_a", F.lit(0.0))).alias("delta"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            rnd(F.sum("delta"), 2).alias("price_delta"),
        )
        .orderBy("change_type")
    )


#: scd2_apply: effective date of the simulated change batch and the
#: sentinel dates of the versioned dimension
SCD2_EFFECTIVE = "1998-01-01"
SCD2_OPEN_END = "9999-12-31"
SCD2_INITIAL_FROM = "1990-01-01"


def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a change batch to a
    versioned dimension, closing superseded versions and opening new
    ones — the temporal counterpart of :func:`snapshot_diff`'s MERGE
    classification, over the same deterministic simulated batch
    (hash-keyed ~10% deletes, ~14% price updates; the batch introduces
    no new keys, so no insert branch arises).

    One full-outer join on the key produces a per-key ARRAY of 1-2
    version structs which ``inline`` explodes — the whole history
    rewrite is a single co-partitioned join plus a narrow explode, the
    same shape every table-format MERGE executes underneath, with no
    window function and no second shuffle.
    """
    from .dedup import hash60

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    h = hash60(F.col("o_orderkey").cast("string"))
    b = (
        load_table(spark, sf_dir, "orders")
        .where(h % SNAPSHOT_DELETE_MOD != 0)
        .select(
            "o_orderkey",
            F.when(
                h % SNAPSHOT_UPDATE_MOD == 1, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price_b"),
        )
    )
    joined = a.join(b, "o_orderkey", "full_outer")

    def ver(price, vfrom, vto, current):
        return F.struct(
            rnd(price, 2).alias("price"),
            F.lit(vfrom).alias("valid_from"),
            F.lit(vto).alias("valid_to"),
            F.lit(current).alias("is_current"),
        )

    versions = (
        F.when(
            F.col("price_b").isNull(),  # deleted: close the open version
            F.array(ver(F.col("price_a"), SCD2_INITIAL_FROM, SCD2_EFFECTIVE, False)),
        )
        .when(
            F.col("price_a") != F.col("price_b"),  # updated: close + open
            F.array(
                ver(F.col("price_a"), SCD2_INITIAL_FROM, SCD2_EFFECTIVE, False),
                ver(F.col("price_b"), SCD2_EFFECTIVE, SCD2_OPEN_END, True),
            ),
        )
        .otherwise(
            F.array(ver(F.col("price_a"), SCD2_INITIAL_FROM, SCD2_OPEN_END, True))
        )
    )
    return (
        joined.select("o_orderkey", F.inline(versions))
        .orderBy("o_orderkey", "valid_from")
    )


#: rolling_zscore: anomaly threshold on the per-type rolling z-score
ZSCORE_THRESHOLD = 2.5
ZSCORE_WINDOW_HOURS = 6


def rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream anomaly flags: for each event, the z-score of its
    value against the trailing ``ZSCORE_WINDOW_HOURS``-hour mean/stddev
    of its event_type; emit only |z| ≥ threshold — the monitoring-query
    shape (rolling baselines + outlier filter) over event time.

    Bucket-sliced windows (round-6 scale rewrite): partitioning by
    ``event_type`` alone serializes each type's entire history into ONE
    task at 100 TB (a handful of types ⇒ a handful of tasks).  Each row
    instead enters its frame-width time bucket as a *resident* and the
    next bucket as a *ghost*; the identical RANGE frame (over the
    epoch-seconds order key, exclusive of the current second) runs
    partitioned by ``(event_type, bucket)``.  Exact by construction:
    every row of a trailing frame ``[t-W, t-1]`` lies in the resident's
    bucket or the one before it, present in the partition exactly once —
    and a task now holds at most two buckets of one type (bounded by
    arrival rate, not history length).  Ghosts feed frames, emit nothing.

    The rolling sums run over EXACT INTEGER CENTS (`round(value*100)` —
    the data is 2-dp money), not doubles: a float window-sum's
    association order differs between engines (Spark per-frame rescan vs
    DuckDB segment tree), and the 2-dp inputs make half-ulp
    rounding-boundary hits common rather than rare.  Integer sums are
    order-independent, and mean/variance derive from them in a fixed
    double expression, so the score is bit-reproducible.  (mu = s/100n;
    var is the computational form ((ssq - s²/n)/(n-1))/10⁴ over cents,
    with s cast to double BEFORE squaring: a BIGINT s² would wrap
    silently under Spark's non-ANSI arithmetic where DuckDB errors —
    s ≳ 3e9 cents in one frame is enough — while the double product is
    consumed in double arithmetic anyway.)
    """
    events = load_table(spark, sf_dir, "events")
    width = ZSCORE_WINDOW_HOURS * 3600
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.select(
        "event_id",
        "event_type",
        F.unix_seconds(F.col("ts")).alias("t"),
        cents.alias("c"),
    )
    bkt = F.floor(F.col("t") / width)
    u = base.withColumn("bkt", bkt).withColumn(
        "is_res", F.lit(True)
    ).unionByName(
        base.withColumn("bkt", bkt + 1).withColumn("is_res", F.lit(False))
    )
    w = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("t")
        .rangeBetween(-width, -1)
    )
    scored = (
        u.select(
            "event_id",
            "event_type",
            "c",
            F.count("c").over(w).alias("n"),
            F.sum("c").over(w).alias("s"),
            F.sum(F.col("c") * F.col("c")).over(w).alias("ssq"),
            "is_res",
        )
        .where("is_res")
        .drop("is_res")
    )
    n, s, ssq = F.col("n"), F.col("s"), F.col("ssq")
    mu = s / (100.0 * n)
    var = (ssq - (s.cast("double") * s) / n) / (n - 1) / 10000.0
    sd = F.sqrt(var)
    z = (F.col("c") / 100.0 - mu) / sd
    return (
        scored.where((n >= 2) & (var > 0))
        .select(
            "event_id",
            "event_type",
            rnd(mu, 4).alias("mu"),
            rnd(sd, 4).alias("sd"),
            rnd(z, 4).alias("z"),
        )
        .where(F.abs(F.col("z")) >= ZSCORE_THRESHOLD)
        .orderBy("event_id")
    )


#: session_window_agg inactivity gap
SESSION_GAP_MINUTES = 30


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session windows (`F.session_window`) per user:
    merged-window start/end + event count + value sum.

    Complements `relational.sessionize` (the manual lag/gap/cumsum
    formulation): same islands, but the window is a first-class column
    and the identical groupBy works under Structured Streaming with a
    watermark (`streaming/session_stream.py` is the twin, tested equal).
    Boundary semantics: a gap of EXACTLY the threshold starts a new
    session (merge requires next_start < current_end) — the oracle's
    island break mirrors with `>=`.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region sorted CSV of nation names (order-deterministic listagg:
    collect → sort → join, matching string_agg ... ORDER BY)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above the global average, per status (uncorrelated
    scalar subquery ≡ broadcast single-row cross join)."""
    orders = load_table(spark, sf_dir, "orders")
    avg_df = orders.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            rnd(F.avg("o_totalprice"), 4).alias("avg_above"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Oracles
# --------------------------------------------------------------------------

_REV = "l_extendedprice * (1 - l_discount)"
_SAMPLE_HASH = (
    "CAST(concat('0x', substr(md5(concat_ws('-', l_orderkey, l_linenumber)),"
    " 1, 15)) AS BIGINT)"
)

_PIVOT_COLS = ", ".join(
    rnd_sql(f"sum(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice END)", 2)
    + f' AS "{p}"'
    for p in ORDER_PRIORITIES
)

_UNPIVOT_ARMS = " UNION ALL ".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, "
    + rnd_sql(f"CAST({m} AS DOUBLE)", 4)
    + " AS val FROM lineitem"
    for m in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)

_PCT_COLS = ", ".join(
    rnd_sql(f"quantile_cont(l_extendedprice, {p})", 4) + f" AS {name}"
    for name, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p90", 0.90))
)

ORACLES = {
    "tpch_q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "tpch_q14_promo_effect": f"""
        SELECT {rnd_sql(f"100.0 * sum(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0.0 END) / sum({_REV})", 4)}
                   AS promo_revenue_pct
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    "tpch_q17_small_quantity": f"""
        SELECT {rnd_sql("sum(l_extendedprice) / 7.0", 4)} AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                                    WHERE l2.l_partkey = l.l_partkey)
    """,
    "tpch_q18_large_volume": f"""
        SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
               {rnd_sql("sum_qty", 4)} AS sum_qty
        FROM orders
        JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > {Q18_MIN_QTY}) big
          ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    "tpch_q19_discounted_revenue": f"""
        SELECT {rnd_sql(f"sum({_REV})", 4)} AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
               AND l_quantity BETWEEN 20 AND 40)
    """,
    "tpch_q10_returned_items": f"""
        SELECT c_custkey, c_name, n_name, c_acctbal,
               {rnd_sql(f"sum({_REV})", 4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-07-01'
        GROUP BY c_custkey, c_name, n_name, c_acctbal
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "join_skew_salted": f"""
        SELECT p_brand, count(*) AS n_lines,
               {rnd_sql(f"sum({_REV})", 2)} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """,
    "null_semantics": f"""
        SELECT nullif(o_orderstatus, 'P') AS status_np,
               count(*) AS n_rows,
               count(nullif(o_orderstatus, 'P')) AS n_nonnull,
               {rnd_sql("sum(o_totalprice)", 2)} AS total,
               coalesce(nullif(o_orderstatus, 'P'), '<none>') AS status_filled
        FROM orders
        GROUP BY nullif(o_orderstatus, 'P')
        ORDER BY status_np NULLS FIRST
    """,
    "window_range_interval": """
        SELECT event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               count(*) OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ) AS n_last_hour
        FROM events WHERE event_id < 2000
        ORDER BY event_id
    """,
    "map_functions": """
        SELECT doc_id,
               to_json(MAP {'lang': lang, 'source': source}) AS meta_json,
               (MAP {'lang': lang, 'source': source}['lang'])[1] AS lang_val,
               CAST(cardinality(MAP {'lang': lang, 'source': source})
                    AS INTEGER) AS n_keys
        FROM documents ORDER BY doc_id
    """,
    "lateral_posexplode": """
        SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, ' '),
                          (s, i) -> {'pos': i - 1, 'tok': s})) AS u
            FROM documents WHERE doc_id < 50) q
        WHERE u['tok'] <> '' ORDER BY doc_id, pos
    """,
    "pivot_priority": f"""
        SELECT o_orderstatus, {_PIVOT_COLS}
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "unpivot_measures": f"""
        SELECT * FROM ({_UNPIVOT_ARMS})
        ORDER BY l_orderkey, l_linenumber, measure
    """,
    "percentile_summary": f"""
        SELECT l_returnflag, {_PCT_COLS}
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "hash_sample": f"""
        SELECT l_returnflag, count(*) AS n_rows,
               {rnd_sql(f"sum({_REV})", 2)} AS sample_revenue
        FROM lineitem
        WHERE {_SAMPLE_HASH} % 1000 < {SAMPLE_PERMILLE}
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "asof_join": """
        SELECT p.event_id, p.user_id, p.ts,
               c.event_id AS prev_click_id, c.ts AS prev_click_ts
        FROM events p
        LEFT JOIN LATERAL (
            SELECT event_id, ts FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts < p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) c ON TRUE
        WHERE p.event_type = 'purchase'
        ORDER BY p.event_id
    """,
    "events_sliding_window": f"""
        WITH w AS (
            SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start,
                   event_type, value FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes' AS win_start,
                   event_type, value FROM events)
        SELECT win_start, event_type, count(*) AS n_events,
               {rnd_sql("sum(value)", 2)} AS sum_value
        FROM w GROUP BY win_start, event_type
        ORDER BY win_start, event_type
    """,
    "events_interval_join": """
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id, p.ts AS p_ts, c.ts AS c_ts
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL '6 hours' AND c.ts < p.ts
        ORDER BY purchase_id, click_id
    """,
    "gap_fill_hourly": """
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi FROM events),
        spine AS (
            SELECT h.h AS hour, t.event_type
            FROM (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
                  FROM bounds) h
            CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        hourly AS (
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2)
        SELECT s.hour, s.event_type,
               coalesce(hourly.n_events, 0) AS n_events
        FROM spine s LEFT JOIN hourly
          ON s.hour = hourly.hour AND s.event_type = hourly.event_type
        ORDER BY s.hour, s.event_type
    """,
    "cohort_retention": """
        WITH cohorts AS (
            SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
            FROM events GROUP BY user_id),
        active AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
        SELECT c.cohort_day,
               datediff('day', c.cohort_day, a.day) AS day_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohorts c USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_day, day_offset
    """,
    "string_agg_sorted": """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "scalar_subquery_above_avg": f"""
        SELECT o_orderstatus, count(*) AS n_above,
               {rnd_sql("avg(o_totalprice)", 4)} AS avg_above
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "table_profile": "\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS col_name,
               count(*) FILTER ({c} IS NULL) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS DOUBLE) AS min_val,
               CAST(max({c}) AS DOUBLE) AS max_val
        FROM lineitem"""
        for c in PROFILE_COLUMNS
    )
    + "\n        ORDER BY col_name",
    "session_window_agg": f"""
        WITH o AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             >= INTERVAL '{SESSION_GAP_MINUTES} minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM events),
        s AS (SELECT user_id, ts, value,
                     SUM(brk) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL '{SESSION_GAP_MINUTES} minutes'
                   AS session_end,
               count(*) AS n_events,
               {rnd_sql("sum(value)", 2)} AS sum_value
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    "events_user_enrichment": """
        WITH prof AS (SELECT user_id, date_trunc('day', min(ts)) AS first_day
                      FROM events GROUP BY user_id)
        SELECT e.event_type, p.first_day, count(*) AS n_events
        FROM events e JOIN prof p USING (user_id)
        GROUP BY 1, 2 ORDER BY event_type, first_day
    """,
    "tpch_q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               {rnd_sql(f"sum({_REV})", 2)} AS revenue
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
            OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
    """,
    "tpch_q8_market_share": f"""
        WITH base AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {_REV} AS volume, n2.n_name AS nation
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_PART_TYPE}'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT o_year,
               {rnd_sql(
                   f"sum(CASE WHEN nation = '{Q8_NATION}' THEN volume"
                   " ELSE 0.0 END) / sum(volume)", 4)} AS mkt_share
        FROM base GROUP BY o_year ORDER BY o_year
    """,
    "tpch_q21_waiting_suppliers": f"""
        SELECT s_name, count(*) AS numwait
        FROM supplier, lineitem l1, orders o
        WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
          AND o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate
                                + INTERVAL {Q21_LATE_DAYS} DAY)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
    "funnel_analysis": """
        WITH f AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS v,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS c,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
            FROM events GROUP BY user_id),
        s AS (
            SELECT
                CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                CAST(sum(CASE WHEN v IS NOT NULL AND c > v
                              THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(sum(CASE WHEN v IS NOT NULL AND c > v AND p > c
                              THEN 1 ELSE 0 END) AS BIGINT) AS n3
            FROM f)
        SELECT 'step1_view' AS step, n1 AS n_users FROM s
        UNION ALL SELECT 'step2_click', n2 FROM s
        UNION ALL SELECT 'step3_purchase', n3 FROM s
        ORDER BY step
    """,
    "events_window_distinct": """
        SELECT date_trunc('hour', ts) AS hour,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY 1 ORDER BY hour
    """,
    "multi_distinct_agg": f"""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT year(o_orderdate)) AS n_years,
               count(*) AS n_orders,
               {rnd_sql("sum(o_totalprice)", 2)} AS total
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "tpch_q12_priority_lateness": f"""
        SELECT CASE WHEN l_shipdate > o_orderdate
                         + INTERVAL {Q21_LATE_DAYS} DAY
                    THEN 'late' ELSE 'on-time' END AS late_bucket,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY late_bucket
    """,
    "tpch_q15_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey, {rnd_sql(f"sum({_REV})", 2)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "band_join_pricing": f"""
        WITH bands AS (
            SELECT CAST(i AS INTEGER) AS band_id,
                   CAST(i * {PRICE_BAND_WIDTH} AS DOUBLE) AS lo,
                   CASE WHEN i < {N_PRICE_BANDS - 1}
                        THEN CAST((i + 1) * {PRICE_BAND_WIDTH} AS DOUBLE)
                   END AS hi
            FROM range({N_PRICE_BANDS}) t(i))
        SELECT band_id, lo, count(*) AS n_orders,
               {rnd_sql("avg(o_totalprice)", 2)} AS avg_price
        FROM orders JOIN bands
          ON o_totalprice >= lo
         AND (hi IS NULL OR o_totalprice < hi)
        GROUP BY band_id, lo ORDER BY band_id
    """,
    "window_distribution": f"""
        SELECT c_custkey, c_nationkey,
               {rnd_sql("percent_rank() OVER w", 4)} AS pct_rank,
               {rnd_sql("cume_dist() OVER w", 4)} AS cume,
               ntile(4) OVER w AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey
    """,
    "histogram_totalprice": f"""
        SELECT CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
               count(*) AS n_orders,
               {rnd_sql("min(o_totalprice)", 2)} AS min_price,
               {rnd_sql("max(o_totalprice)", 2)} AS max_price
        FROM orders GROUP BY 1 ORDER BY bin
    """,
    "set_intersect_all": """
        SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ORDER BY o_custkey
    """,
    "set_except_all": """
        SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ORDER BY o_custkey
    """,
    "tpch_q13_customer_distribution": """
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q22_global_sales_opportunity": f"""
        SELECT n_name, count(*) AS numcust,
               {rnd_sql("sum(c_acctbal)", 2)} AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '{Q22_LAPSE_CUTOFF}')
        GROUP BY n_name ORDER BY n_name
    """,
    "snapshot_diff": f"""
        WITH a AS (SELECT o_orderkey, o_totalprice AS price_a FROM orders),
        hb AS (SELECT o_orderkey, o_totalprice,
                      CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM orders),
        b AS (SELECT o_orderkey,
                     CASE WHEN h % {SNAPSHOT_UPDATE_MOD} = 1
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END AS price_b
              FROM hb WHERE h % {SNAPSHOT_DELETE_MOD} <> 0),
        j AS (SELECT CASE WHEN price_b IS NULL THEN 'deleted'
                          WHEN price_a IS NULL THEN 'inserted'
                          WHEN price_a <> price_b THEN 'updated'
                          ELSE 'unchanged' END AS change_type,
                     coalesce(price_b, 0) - coalesce(price_a, 0) AS delta
              FROM a FULL OUTER JOIN b USING (o_orderkey))
        SELECT change_type, count(*) AS n_keys,
               {rnd_sql("sum(delta)", 2)} AS price_delta
        FROM j GROUP BY change_type ORDER BY change_type
    """,
    "scd2_apply": f"""
        WITH a AS (SELECT o_orderkey, o_totalprice AS price_a FROM orders),
        hb AS (SELECT o_orderkey, o_totalprice,
                      CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM orders),
        b AS (SELECT o_orderkey,
                     CASE WHEN h % {SNAPSHOT_UPDATE_MOD} = 1
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END AS price_b
              FROM hb WHERE h % {SNAPSHOT_DELETE_MOD} <> 0),
        j AS (SELECT * FROM a FULL OUTER JOIN b USING (o_orderkey))
        SELECT o_orderkey, {rnd_sql("price_a", 2)} AS price,
               '{SCD2_INITIAL_FROM}' AS valid_from,
               '{SCD2_EFFECTIVE}' AS valid_to, FALSE AS is_current
        FROM j WHERE price_b IS NULL
        UNION ALL
        SELECT o_orderkey, {rnd_sql("price_a", 2)},
               '{SCD2_INITIAL_FROM}', '{SCD2_EFFECTIVE}', FALSE
        FROM j WHERE price_b IS NOT NULL AND price_a <> price_b
        UNION ALL
        SELECT o_orderkey, {rnd_sql("price_b", 2)},
               '{SCD2_EFFECTIVE}', '{SCD2_OPEN_END}', TRUE
        FROM j WHERE price_b IS NOT NULL AND price_a <> price_b
        UNION ALL
        SELECT o_orderkey, {rnd_sql("price_a", 2)},
               '{SCD2_INITIAL_FROM}', '{SCD2_OPEN_END}', TRUE
        FROM j WHERE price_b IS NOT NULL AND price_a = price_b
        ORDER BY o_orderkey, valid_from
    """,
    "rolling_zscore": f"""
        WITH cents AS (
            SELECT event_id, event_type, ts,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events),
        agg AS (
            SELECT event_id, event_type, c,
                   count(c) OVER w AS n,
                   sum(c) OVER w AS s,
                   sum(c * c) OVER w AS ssq
            FROM cents
            WINDOW w AS (PARTITION BY event_type
                         -- floor, not CAST: epoch() is fractional and
                         -- CAST rounds, Spark's unix_seconds floors
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN {ZSCORE_WINDOW_HOURS * 3600} PRECEDING
                               AND 1 PRECEDING)),
        scored AS (
            SELECT event_id, event_type, c, n,
                   s / (100.0 * n) AS mu,
                   (ssq - (s * s) / n) / (n - 1) / 10000.0 AS var,
                   sqrt((ssq - (s * s) / n) / (n - 1) / 10000.0) AS sd
            FROM agg)
        SELECT event_id, event_type,
               {rnd_sql("mu", 4)} AS mu, {rnd_sql("sd", 4)} AS sd,
               {rnd_sql("(c / 100.0 - mu) / sd", 4)} AS z
        FROM scored
        WHERE n >= 2 AND var > 0
          AND abs({rnd_sql("(c / 100.0 - mu) / sd", 4)}) >= {ZSCORE_THRESHOLD}
        ORDER BY event_id
    """,
}

QUERIES = {
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q14_promo_effect": tpch_q14_promo_effect,
    "tpch_q17_small_quantity": tpch_q17_small_quantity,
    "tpch_q18_large_volume": tpch_q18_large_volume,
    "tpch_q19_discounted_revenue": tpch_q19_discounted_revenue,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q13_customer_distribution": tpch_q13_customer_distribution,
    "tpch_q22_global_sales_opportunity": tpch_q22_global_sales_opportunity,
    "tpch_q7_volume_shipping": tpch_q7_volume_shipping,
    "tpch_q8_market_share": tpch_q8_market_share,
    "tpch_q21_waiting_suppliers": tpch_q21_waiting_suppliers,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q12_priority_lateness": tpch_q12_priority_lateness,
    "multi_distinct_agg": multi_distinct_agg,
    "events_window_distinct": events_window_distinct,
    "funnel_analysis": funnel_analysis,
    "events_user_enrichment": events_user_enrichment,
    "band_join_pricing": band_join_pricing,
    "window_distribution": window_distribution,
    "histogram_totalprice": histogram_totalprice,
    "set_intersect_all": set_intersect_all,
    "set_except_all": set_except_all,
    "join_skew_salted": join_skew_salted,
    "map_functions": map_functions,
    "null_semantics": null_semantics,
    "window_range_interval": window_range_interval,
    "lateral_posexplode": lateral_posexplode,
    "pivot_priority": pivot_priority,
    "unpivot_measures": unpivot_measures,
    "percentile_summary": percentile_summary,
    "approx_distinct_hll": approx_distinct_hll,
    "approx_percentile_summary": approx_percentile_summary,
    "hash_sample": hash_sample,
    "asof_join": asof_join,
    "events_sliding_window": events_sliding_window,
    "events_interval_join": events_interval_join,
    "gap_fill_hourly": gap_fill_hourly,
    "cohort_retention": cohort_retention,
    "string_agg_sorted": string_agg_sorted,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
    "table_profile": table_profile,
    "snapshot_diff": snapshot_diff,
    "scd2_apply": scd2_apply,
    "rolling_zscore": rolling_zscore,
    "session_window_agg": session_window_agg,
}


# --------------------------------------------------------------------------
# Interval coalescing and EWMA smoothing (round-9 time-series additions)
# --------------------------------------------------------------------------

#: interval_coalesce: each event opens an activity interval of
#: 60..899 seconds derived EXACTLY from its 2-dp value (integer cents
#: mod 840) — integer arithmetic end-to-end so both engines place every
#: boundary identically.
INTERVAL_BASE_S = 60
INTERVAL_SPAN_S = 840

# ---- engine-version-proof scalar derivations (round-10 hardening) ----
# CORRECTNESS_r09 recorded interval_coalesce as the one hash-mismatch
# row (rows/schema green, values red) that no local re-run — solo,
# in-window, or TZ-shifted — could reproduce, pointing at an
# engine-BUILD delta on the driver host in exactly two surfaces:
#   * seconds: Spark ``unix_seconds(ts)`` (integer truncation) vs
#     DuckDB ``floor(epoch(ts))`` (double µs/1e6 then floor) — the
#     only expression pair in that query not shared with the queries
#     that stayed green in the same driver run (distribution_drift
#     uses the same cents idiom on the same table and was green);
#   * cents: ``round(value*100)`` — unambiguous on this corpus (no
#     .5 ties exist at any shipped SF, verified), but `round` on
#     DOUBLE is the one scalar whose tie/repr semantics has actually
#     differed across engine builds (Java shortest-repr HALF_UP vs
#     C std::round).
# Both are replaced by expressions every IEEE-754 engine computes
# bit-identically from the same parquet bytes:
#   seconds = epoch MICROS (the raw stored int64) integer-div 1e6
#     (Spark ``unix_micros(ts) div 1000000``, DuckDB
#     ``epoch_us(ts) // 1000000``) — pure int64 arithmetic;
#   cents   = ``floor(value*100 + 0.5)`` — one shared double product,
#     one exact addition, one exact floor; no decimal-string
#     reinterpretation anywhere, so no build-dependent tie behavior.


def _epoch_s() -> Column:
    """Event-time ``ts`` seconds as pure int64: raw parquet
    epoch-micros integer-divided by 1e6 (ties to DuckDB
    ``epoch_us(ts)//1000000``)."""
    return F.expr("unix_micros(ts) div 1000000")


_EPOCH_S_SQL = "epoch_us(ts) // 1000000"


def _cents(value: Column) -> Column:
    """2-dp value as integer cents via ``floor(x*100 + 0.5)`` — the
    IEEE-deterministic twin of DuckDB ``CAST(floor(value*100 + 0.5) AS
    BIGINT)`` (see hardening note above)."""
    return F.floor(value * 100 + F.lit(0.5)).cast("long")


_CENTS_SQL = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval union (gaps-and-islands over VARIABLE-length
    intervals): each event opens ``[t, t + dur]``; overlapping or
    touching intervals merge; emit one row per merged island with its
    span and event count — the time-coverage primitive behind billing,
    uptime, and span-dedup queries.

    Unlike :func:`~.relational.sessionize` (fixed inactivity gap, break
    decided by ``lag``), variable-length intervals need the RUNNING MAX
    of interval ends: an island breaks only when a start clears every
    earlier end (``start > max(end) OVER (rows < current)``), and the
    island id is the running sum of breaks.  Within an island coverage
    is contiguous by construction, so span = max(end) − min(start).

    Scale: one sort-shuffle on ``user_id`` (same posture as sessionize /
    as-of: per-user history serializes into a task, user cardinality is
    the parallelism axis and per-user event counts are bounded by
    retention windows).  All arithmetic is integer seconds/cents —
    engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    iv = ev.select(
        "user_id",
        "event_id",
        _epoch_s().alias("s"),
        (
            _epoch_s()
            + F.lit(INTERVAL_BASE_S)
            + cents % INTERVAL_SPAN_S
        ).alias("e"),
    )
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    pme = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(pme.isNull() | (F.col("s") > pme), 1).otherwise(0)
    flagged = iv.withColumn("brk", brk)
    island = F.sum("brk").over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(
            F.min("s").alias("island_start"),
            F.max("e").alias("island_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("e") - F.min("s")).alias("covered_s"),
        )
        .orderBy("user_id", "island")
    )


#: ewma_smooth decay: s₁ = x₁; sᵢ = α·xᵢ + (1−α)·sᵢ₋₁.  0.3 parses to
#: the same IEEE double in both engines; every fold step is the same
#: (mul, mul, add) sequence, so the final double is bit-identical and
#: the 4-dp rounding is boundary-safe.
EWMA_ALPHA = 0.3


def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the classic ORDER-DEPENDENT recursion (s = α·x + (1−α)·s) that no
    built-in aggregate expresses: computed as a left fold over the
    user's time-ordered value list, seeded with the first element
    (Spark ``aggregate(slice(xs, 2, …), xs[1], …)`` ≡ DuckDB
    ``list_reduce``, the verified left-to-right pair).

    Scale: one groupBy(user_id) shuffle; the collected list is bounded
    by per-user event count (retention-bounded in practice — 86 max on
    this corpus).  For truly unbounded histories EWMA decomposes
    segmentally — built as :func:`ewma_smooth_segmented` (round 10):
    bounded map-side segment folds to affine ``(A, B)`` summaries, then
    an associatively-composable merge.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    rows = ev.select(
        "user_id",
        F.struct(
            _epoch_s().alias("t"),
            F.col("event_id").alias("i"),
            (cents / F.lit(100.0)).alias("x"),
        ).alias("r"),
    )
    per_user = rows.groupBy("user_id").agg(
        F.array_sort(F.collect_list("r")).alias("arr")
    )
    xs = F.expr("transform(arr, r -> r.x)")
    a = EWMA_ALPHA
    # NOTE: element_at is 1-based; bare `xs[1]` in Spark SQL is the
    # 0-BASED subscript (it would seed the fold with x₂ — an error that
    # decays as (1−α)^(n−1) and hides below 4 dp on long series; the
    # closed-form pytest pins the correct seed on a 3-element series).
    ewma = F.expr(
        f"aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
        f" (acc, x) -> {a}D * x + {1 - a}D * acc)"
    )
    return (
        per_user.withColumn("xs", xs)
        .select(
            "user_id",
            F.size("xs").cast("long").alias("n_events"),
            F.expr("element_at(xs, -1)").alias("last_value"),
            rnd(ewma, 4).alias("ewma"),
        )
        .orderBy("user_id")
    )


ORACLES["interval_coalesce"] = f"""
    WITH iv AS (
        SELECT user_id, event_id,
               {_EPOCH_S_SQL} AS s,
               {_EPOCH_S_SQL} + {INTERVAL_BASE_S}
                   + {_CENTS_SQL} % {INTERVAL_SPAN_S}
                   AS e
        FROM events),
    m AS (
        SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS pme
        FROM iv),
    fl AS (
        SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
        FROM m),
    isl AS (
        -- DuckDB sum(int) OVER is HUGEINT (int128) — the round-10
        -- driver red's root cause: Arrow exports it as decimal128 while
        -- Spark emits int64, so a typed value-hash diverges even though
        -- every value is equal.  CAST pins the oracle to BIGINT.
        SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                                      ORDER BY s, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS island
        FROM fl)
    SELECT user_id, island,
           min(s) AS island_start, max(e) AS island_end,
           count(*) AS n_events,
           max(e) - min(s) AS covered_s
    FROM isl GROUP BY user_id, island
    ORDER BY user_id, island
"""

ORACLES["ewma_smooth"] = f"""
    WITH x AS (
        SELECT user_id,
               {_EPOCH_S_SQL} AS t, event_id,
               {_CENTS_SQL} / 100.0::DOUBLE AS x
        FROM events),
    l AS (
        SELECT user_id,
               list(x ORDER BY t, event_id) AS xs
        FROM x GROUP BY user_id)
    SELECT user_id,
           len(xs) AS n_events,
           xs[-1] AS last_value,
           {rnd_sql(
               f"list_reduce(xs, (acc, x) -> {EWMA_ALPHA}::DOUBLE * x"
               f" + {1 - EWMA_ALPHA}::DOUBLE * acc)", 4)} AS ewma
    FROM l ORDER BY user_id
"""

QUERIES["interval_coalesce"] = interval_coalesce
QUERIES["ewma_smooth"] = ewma_smooth


# --------------------------------------------------------------------------
# Segmented EWMA — the unbounded-history decomposition (round-10
# refinement the round-9 verdict listed as the stretch item)
# --------------------------------------------------------------------------

#: segment length for the map-side partial folds.  16 is deliberately
#: SMALL relative to this corpus's 86-event max history so the
#: multi-segment merge path is exercised for real (most users span 2-6
#: segments at sf0.01); production tuning would size it to the Arrow
#: batch (thousands) — the algebra is length-independent.
EWMA_SEG_LEN = 16

#: tree-merge fan-in: each merge level composes ≤ this many ordered
#: affine (A, B) segment summaries per task; capacity multiplies by 16
#: per level, so level count is log₁₆ of the per-user segment count
#: (sized small like EWMA_SEG_LEN so the sf0.01 corpus exercises a real
#: multi-level tree when tests force it; production would use ~1024)
EWMA_MERGE_FANIN = 16


def _ewma_merge_level(cur: DataFrame) -> DataFrame:
    """One tree-merge level: group ``seg div FANIN`` per user and
    compose the chunk's ordered affine maps — seed ``(A,B) = (0,1)``,
    step ``(g.A + g.B·A, g.B·B)`` (associative; single-element chunks
    are FP-exact identities).  Input and output schema:
    ``(user_id, seg, A, B, n, lastx)``."""
    chunked = cur.groupBy(
        "user_id",
        F.expr(f"seg div {EWMA_MERGE_FANIN}").alias("seg"),
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("seg", "A", "B", "n", "lastx"))
        ).alias("ms")
    )
    composed = F.expr(
        "aggregate(ms, struct(CAST(0.0 AS DOUBLE) AS A,"
        " CAST(1.0 AS DOUBLE) AS B),"
        " (acc, g) -> struct(g.A + g.B * acc.A AS A, g.B * acc.B AS B))"
    )
    return chunked.select(
        "user_id",
        "seg",
        composed["A"].alias("A"),
        composed["B"].alias("B"),
        F.expr(
            "aggregate(ms, CAST(0 AS BIGINT), (acc, g) -> acc + g.n)"
        ).alias("n"),
        F.expr("element_at(ms, -1).lastx").alias("lastx"),
    )


def ewma_smooth_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA via the SEGMENTAL decomposition — the shape that
    survives unbounded histories where :func:`ewma_smooth`'s
    whole-history ``collect_list`` cannot.

    Algebra: one EWMA step is affine in the carried state
    (``s' = α·x + (1−α)·s``), so a SEGMENT of steps composes to
    ``s_out = A + B·s_in`` with ``B = (1−α)^len`` and ``A`` the
    zero-seeded fold of the segment's x's — and affine maps compose
    ASSOCIATIVELY, which is exactly the mergeable-summary property
    (same reason Misra-Gries/heavy-hitters summaries merge): segments
    fold map-side with bounded memory (≤ :data:`EWMA_SEG_LEN` values
    per task), and per-user state at merge time is one ``(A, B)`` pair
    per segment.  The merge itself is a TREE (round 11): compose
    ``(A, B)`` in :data:`EWMA_MERGE_FANIN`-sized ordered chunks per
    level, repeating until one map per user remains — so no task ever
    holds more than the fan-in, at ANY history length.

    Exactness: segment-local folds and the cross-segment merge are the
    SAME floating-point op sequences in Spark and in the DuckDB oracle
    (which replays the segmentation, not the flat fold): zero/one
    seeds make the first lambda step exact, so both engines produce
    bit-identical doubles.  The affine REGROUPING does reorder ops vs
    the flat fold, so segmented-vs-flat agreement is ~1e-12 relative,
    not bitwise — pinned by a pytest tolerance check, while each
    operator's oracle is exact.

    Scale: two shuffles (row_number window on user_id, then the
    groupBy merges — the second and third reuse the first's hash
    partitioning on user_id).  Nothing holds more than one segment's
    values — and, since round 11, no more than :data:`EWMA_MERGE_FANIN`
    segment summaries per task either: the cross-segment merge is a
    TREE — each level groups ``seg div FANIN`` and composes its ≤FANIN
    ordered affine pairs (seed ``(A,B)=(0,1)``; step ``(g.A + g.B·A,
    g.B·B)``), and levels repeat until one row per user remains.  The
    level count is derived from ONE driver-side scalar (max segments
    per user, a topology-bounded reduction), so per-task state is
    bounded at ANY history length — 10^k events/user costs
    ``ceil(log₁₆(10^k/16))`` levels, each a user_id-partitioned
    groupBy.

    Tree-vs-flat exactness: segment 0 is encoded as the CONSTANT map
    ``(A=v, B=0)``, so any compose chain that starts at segment 0
    reproduces the flat fold's op sequence EXACTLY (``B`` stays 0.0 and
    ``A`` accumulates ``g.A + g.B·acc`` — the same (mul, add) per
    step), and a single-element compose level is an FP-exact identity
    (``A + B·0 = A``, ``B·1 = B``).  Hence: (a) extra levels never
    change bits — the fixed-level oracle below replays a dynamic-level
    engine safely; (b) for users whose segments fit one chunk the tree
    is bit-equal to the flat merge; (c) only genuinely multi-chunk
    users see the affine REGROUPING's ~1e-12 reassociation vs the flat
    fold (pinned by the tolerance pytest).
    """
    ev = load_table(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    rows = ev.select(
        "user_id",
        F.struct(
            _epoch_s().alias("t"),
            F.col("event_id").alias("i"),
            (cents / F.lit(100.0)).alias("x"),
        ).alias("r"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("r.t"), F.col("r.i"))
    seg_rows = rows.withColumn(
        "seg",
        F.floor((F.row_number().over(w) - 1) / EWMA_SEG_LEN).cast("long"),
    )
    per_seg = seg_rows.groupBy("user_id", "seg").agg(
        F.array_sort(F.collect_list("r")).alias("arr")
    )
    a = EWMA_ALPHA
    xs = "transform(arr, r -> r.x)"
    lam = f"(acc, x) -> {a}D * x + {1 - a}D * acc"
    seg_sum = per_seg.select(
        "user_id",
        "seg",
        # segment 0 is the CONSTANT affine map (A=v, B=0): its output
        # is the x₁-seeded flat fold of its values regardless of input
        # state — the seeding rule rides the algebra instead of a
        # special-cased merge seed (and makes tree levels exact, see
        # docstring)
        F.expr(
            f"CASE WHEN seg = 0 THEN"
            f" aggregate(slice({xs}, 2, size(arr) - 1),"
            f" element_at({xs}, 1), {lam})"
            f" ELSE aggregate({xs}, CAST(0.0 AS DOUBLE), {lam}) END"
        ).alias("A"),
        F.expr(
            f"CASE WHEN seg = 0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE aggregate({xs}, CAST(1.0 AS DOUBLE),"
            f" (acc, x) -> acc * {1 - a}D) END"
        ).alias("B"),
        F.size("arr").cast("long").alias("n"),
        F.expr(f"element_at({xs}, -1)").alias("lastx"),
    )
    # tree merge: ONE scalar action sizes the level count, then the
    # whole multi-level plan is declared (each level reuses the
    # user_id hash partitioning)
    import math

    max_segs = (
        seg_sum.groupBy("user_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
        or 1
    )
    levels = max(1, math.ceil(math.log(max(max_segs, 2)) / math.log(EWMA_MERGE_FANIN)))
    cur = seg_sum
    for _ in range(levels):
        cur = _ewma_merge_level(cur)
    return cur.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("lastx").alias("last_value"),
        rnd(F.col("A"), 4).alias("ewma"),
    ).orderBy("user_id")


#: one tree-merge level of the segmented-EWMA oracle — the exact SQL
#: twin of :func:`_ewma_merge_level` (ordered struct list, (0,1)-seeded
#: affine compose, max-seg lastx, summed n)
_EWMA_MERGE_SQL = """
        SELECT user_id, seg // {fanin} AS seg,
               list_reduce(
                   list_prepend(struct_pack(A := 0.0::DOUBLE,
                                            B := 1.0::DOUBLE),
                       list(struct_pack(A := A, B := B) ORDER BY seg)),
                   (acc, sm) -> struct_pack(A := sm.A + sm.B * acc.A,
                                            B := sm.B * acc.B)).A AS A,
               list_reduce(
                   list_prepend(struct_pack(A := 0.0::DOUBLE,
                                            B := 1.0::DOUBLE),
                       list(struct_pack(A := A, B := B) ORDER BY seg)),
                   (acc, sm) -> struct_pack(A := sm.A + sm.B * acc.A,
                                            B := sm.B * acc.B)).B AS B,
               CAST(sum(n) AS BIGINT) AS n,
               max_by(lastx, seg) AS lastx
        FROM {src} GROUP BY user_id, seg // {fanin}
"""

# TWO fixed merge levels replay the engine's DYNAMIC level count
# exactly: a single-element compose is an FP-exact identity
# (A + B·0 = A, B·1 = B), so any level beyond the ones the engine ran
# changes no bits; two levels cover 16² segments = 4096 events/user,
# far past every test SF's retention bound.
ORACLES["ewma_smooth_segmented"] = f"""
    WITH x AS (
        SELECT user_id,
               {_EPOCH_S_SQL} AS t, event_id,
               {_CENTS_SQL} / 100.0::DOUBLE AS x
        FROM events),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY t, event_id) - 1 AS rn
        FROM x),
    s AS (
        SELECT user_id, rn // {EWMA_SEG_LEN} AS seg,
               list(x ORDER BY t, event_id) AS xs
        FROM r GROUP BY user_id, rn // {EWMA_SEG_LEN}),
    g AS (
        SELECT user_id, seg,
               CASE WHEN seg = 0 THEN
                   list_reduce(xs, (acc, x) -> {EWMA_ALPHA}::DOUBLE * x
                       + {1 - EWMA_ALPHA}::DOUBLE * acc)
               ELSE
                   list_reduce(list_prepend(0.0::DOUBLE, xs),
                       (acc, x) -> {EWMA_ALPHA}::DOUBLE * x
                           + {1 - EWMA_ALPHA}::DOUBLE * acc)
               END AS A,
               CASE WHEN seg = 0 THEN 0.0::DOUBLE
               ELSE
                   list_reduce(list_prepend(1.0::DOUBLE, xs),
                       (acc, x) -> acc * {1 - EWMA_ALPHA}::DOUBLE)
               END AS B,
               len(xs) AS n, xs[-1] AS lastx
        FROM s),
    m1 AS ({_EWMA_MERGE_SQL.format(src="g", fanin=EWMA_MERGE_FANIN)}),
    m2 AS ({_EWMA_MERGE_SQL.format(src="m1", fanin=EWMA_MERGE_FANIN)})
    SELECT user_id, n AS n_events,
           lastx AS last_value,
           {rnd_sql("A", 4)} AS ewma
    FROM m2 ORDER BY user_id
"""

QUERIES["ewma_smooth_segmented"] = ewma_smooth_segmented


# --------------------------------------------------------------------------
# Incremental aggregate-view maintenance (round-9 addition)
# --------------------------------------------------------------------------


def _doc_rollup(docs: DataFrame) -> DataFrame:
    """The maintained view's definition: per (source, lang) doc count,
    char sum, token sum — every measure a mergeable sum/count, which is
    WHY the view is incrementally maintainable (algebraic aggregates in
    the Gray et al. cube taxonomy; a median or distinct-count view
    would need a sketch or a recompute)."""
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("sum_tokens"),
    )


def agg_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance — the aggregate axis of
    the maintenance matrix (gram/band/IVF indexes maintain postings;
    this maintains a rollup): refresh a per-(source, lang) corpus
    statistics view under a batch append by MERGING batch partial
    aggregates into the materialized base, never rescanning the corpus.

    The base view (old-corpus rollup, group-cardinality-sized — a few
    dozen rows at ANY corpus size) is materialized once per corpus
    (content-fingerprinted table name, same idiom as the index bases);
    maintenance cost = one partial-agg pass over the BATCH plus a
    full-outer merge of two tiny aggregate tables.  The oracle
    recomputes the refreshed view from the full union — divergence in
    any sum breaks the hash match.  Output carries ``n_docs_added`` so
    the delta itself is visible and checked.

    At 100 TB this is the difference between "update the stats page"
    costing a batch scan vs a corpus scan.  Refresh is rerun-idempotent
    (the merge never writes; the returned view IS base ⊎ batch).
    """
    from .dedup import _incr_is_new
    from ..sources.bucketing import fingerprinted_table_name, write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    table = fingerprinted_table_name("mrfs_aggmv", sf_dir, "documents")
    if not spark.catalog.tableExists(table):
        write_bucketed(
            _doc_rollup(docs.where(~_incr_is_new())), table, "source"
        )
    base = spark.table(table).select(
        "source",
        "lang",
        F.col("n_docs").alias("b_docs"),
        F.col("sum_chars").alias("b_chars"),
        F.col("sum_tokens").alias("b_tokens"),
    )
    batch = _doc_rollup(docs.where(_incr_is_new())).select(
        "source",
        "lang",
        F.col("n_docs").alias("d_docs"),
        F.col("sum_chars").alias("d_chars"),
        F.col("sum_tokens").alias("d_tokens"),
    )
    z = F.lit(0)
    return (
        base.join(batch, ["source", "lang"], "full_outer")
        .select(
            "source",
            "lang",
            (F.coalesce("b_docs", z) + F.coalesce("d_docs", z))
            .cast("long")
            .alias("n_docs"),
            (F.coalesce("b_chars", z) + F.coalesce("d_chars", z))
            .cast("long")
            .alias("sum_chars"),
            (F.coalesce("b_tokens", z) + F.coalesce("d_tokens", z))
            .cast("long")
            .alias("sum_tokens"),
            F.coalesce("d_docs", z).cast("long").alias("n_docs_added"),
        )
        .orderBy("source", "lang")
    )


from .dedup import INCR_BATCH_MOD as _INCR_MOD  # noqa: E402
from .dedup import _hash60_sql as _h60  # noqa: E402

ORACLES["agg_view_maintain"] = f"""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(sum(CASE WHEN {_h60("concat('batch:', doc_id)")}
                              % {_INCR_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_added
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
"""

QUERIES["agg_view_maintain"] = agg_view_maintain


# --------------------------------------------------------------------------
# Z-order layout locality audit (round-9 addition)
# --------------------------------------------------------------------------

#: normalized per-dimension resolution: each key column scales to
#: 2^Z_NORM_BITS cells of its own value range before interleaving —
#: what Delta/Iceberg OPTIMIZE ZORDER does via range-partition ranks
#: (raw-value interleaving breaks when the two domains differ in size,
#: measured here first-hand: 2,000 parts × 100 suppliers left the top
#: Morton bits empty and the file boxes degenerate).
Z_NORM_BITS = 10
#: file-boundary granularity the audit simulates (top 6 Morton bits)
Z_BUCKETS_LOG2 = 6
Z_BUCKETS = 1 << Z_BUCKETS_LOG2


def _morton20(a, b):
    """Interleave two Z_NORM_BITS-wide normalized keys: bit i of ``a``
    → bit 2i, bit i of ``b`` → bit 2i+1.  Disjoint targets, so ``+``
    is exact bit-OR — integer arithmetic both engines share."""
    out = F.lit(0).cast("long")
    for i in range(Z_NORM_BITS):
        out = (
            out
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return out


def _morton20_sql(a: str, b: str) -> str:
    terms = []
    for i in range(Z_NORM_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit: what does a Z-ORDERED file layout buy
    over a linear sort for min/max file skipping?  Simulates
    ``Z_BUCKETS`` file boundaries under both layouts of lineitem on
    (l_partkey, l_suppkey) and reports, per layout, the expected
    fraction of files a single-dimension point predicate CANNOT skip —
    ``hit_frac_<dim>`` = mean(file's dim span) / dim domain — plus the
    worst dimension's fraction, the number that decides whether a
    `WHERE l_suppkey = ?` scan reads 2% of the table or all of it.

    Verdict shape (uniform keys): the linear layout prunes its sort
    key almost perfectly and its non-sort key NOT AT ALL
    (hit_frac_supp = 1.0 — every file spans all suppliers); Z-ordering
    splits the budget, bounding BOTH dimensions at ~2^-(B/2) of their
    ranges — the Delta/Iceberg OPTIMIZE ZORDER rationale, measured on
    real data instead of asserted.

    Mechanics: each dimension normalizes to 2^Z_NORM_BITS cells of its
    own min–max range FIRST (rank-style normalization — raw-value
    interleaving measured degenerate when the domains differ 20×),
    bits interleave, and the file id is the top Morton bits (a fixed
    shift — no data-dependent scaling).  One scan, one broadcast 1-row
    extrema join, two bounded-cardinality groupBys; integer arithmetic
    end-to-end, final fractions fixed-form doubles.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("a"),
        F.col("l_suppkey").cast("long").alias("b"),
    )
    ext = li.agg(
        F.min("a").alias("mina"),
        F.max("a").alias("maxa"),
        F.min("b").alias("minb"),
        F.max("b").alias("maxb"),
    )
    n_cells = 1 << Z_NORM_BITS
    keyed = li.crossJoin(F.broadcast(ext)).select(
        "a",
        "b",
        "mina",
        "maxa",
        "minb",
        "maxb",
        F.expr(
            f"(a - mina) * {n_cells}L div (maxa - mina + 1)"
        ).alias("an"),
        F.expr(
            f"(b - minb) * {n_cells}L div (maxb - minb + 1)"
        ).alias("bn"),
    )
    zshift = 2 * Z_NORM_BITS - Z_BUCKETS_LOG2
    both = keyed.select(
        "a",
        "b",
        "mina",
        "maxa",
        "minb",
        "maxb",
        F.expr(f"an * {Z_BUCKETS}L div {n_cells}").alias("bkt_linear"),
        F.shiftright(_morton20(F.col("an"), F.col("bn")), zshift).alias(
            "bkt_zorder"
        ),
    )

    def verdict(bucket_col: str, layout: str) -> DataFrame:
        per = both.groupBy(bucket_col).agg(
            (F.max("a") - F.min("a") + 1).alias("span_a"),
            (F.max("b") - F.min("b") + 1).alias("span_b"),
            F.max("maxa").alias("maxa"),
            F.max("mina").alias("mina"),
            F.max("maxb").alias("maxb"),
            F.max("minb").alias("minb"),
        )
        fa = F.avg(
            F.col("span_a") / (F.col("maxa") - F.col("mina") + 1)
        )
        fb = F.avg(
            F.col("span_b") / (F.col("maxb") - F.col("minb") + 1)
        )
        return per.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            rnd(fa, 4).alias("hit_frac_part"),
            rnd(fb, 4).alias("hit_frac_supp"),
            rnd(F.greatest(fa, fb), 4).alias("hit_frac_worst_dim"),
        )

    return (
        verdict("bkt_linear", "linear")
        .unionByName(verdict("bkt_zorder", "zorder"))
        .orderBy("layout")
    )


_ZN = 1 << Z_NORM_BITS
_Z_SQL = _morton20_sql("an", "bn")

ORACLES["zorder_locality_audit"] = f"""
    WITH k AS (
        SELECT CAST(l_partkey AS BIGINT) AS a,
               CAST(l_suppkey AS BIGINT) AS b
        FROM lineitem),
    m AS (SELECT min(a) AS mina, max(a) AS maxa,
                 min(b) AS minb, max(b) AS maxb FROM k),
    nrm AS (
        SELECT a, b, mina, maxa, minb, maxb,
               ((a - mina) * {_ZN}) // (maxa - mina + 1) AS an,
               ((b - minb) * {_ZN}) // (maxb - minb + 1) AS bn
        FROM k, m),
    bkt AS (
        SELECT a, b, mina, maxa, minb, maxb,
               (an * {Z_BUCKETS}) // {_ZN} AS bkt_linear,
               ({_Z_SQL} >> {2 * Z_NORM_BITS - Z_BUCKETS_LOG2})
                   AS bkt_zorder
        FROM nrm),
    lin AS (
        SELECT max(a) - min(a) + 1 AS span_a,
               max(b) - min(b) + 1 AS span_b,
               max(maxa) AS maxa, max(mina) AS mina,
               max(maxb) AS maxb, max(minb) AS minb
        FROM bkt GROUP BY bkt_linear),
    zor AS (
        SELECT max(a) - min(a) + 1 AS span_a,
               max(b) - min(b) + 1 AS span_b,
               max(maxa) AS maxa, max(mina) AS mina,
               max(maxb) AS maxb, max(minb) AS minb
        FROM bkt GROUP BY bkt_zorder)
    SELECT 'linear' AS layout, count(*) AS n_files,
           {rnd_sql("avg(span_a / CAST(maxa - mina + 1 AS DOUBLE))", 4)}
               AS hit_frac_part,
           {rnd_sql("avg(span_b / CAST(maxb - minb + 1 AS DOUBLE))", 4)}
               AS hit_frac_supp,
           {rnd_sql(
               "greatest("
               "avg(span_a / CAST(maxa - mina + 1 AS DOUBLE)),"
               "avg(span_b / CAST(maxb - minb + 1 AS DOUBLE)))", 4)}
               AS hit_frac_worst_dim
    FROM lin
    UNION ALL
    SELECT 'zorder', count(*),
           {rnd_sql("avg(span_a / CAST(maxa - mina + 1 AS DOUBLE))", 4)},
           {rnd_sql("avg(span_b / CAST(maxb - minb + 1 AS DOUBLE))", 4)},
           {rnd_sql(
               "greatest("
               "avg(span_a / CAST(maxa - mina + 1 AS DOUBLE)),"
               "avg(span_b / CAST(maxb - minb + 1 AS DOUBLE)))", 4)}
    FROM zor
    ORDER BY layout
"""

QUERIES["zorder_locality_audit"] = zorder_locality_audit
