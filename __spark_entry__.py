"""Driver contract for the spark-graft builder (PySpark target).

Each entry in ``queries()`` is an operator from SURVEY.md §2 (reference:
SameerDataEngineer01/Wistia-Video-Analytics-project) re-expressed with the
engine in ``wistia_video_analytics_project_spark`` and bound to the driver
testdata tables per FIXTURES.md §B. ``oracle_sql()`` carries the ANSI-SQL
equivalent for the DuckDB gate.

Conventions (SURVEY.md §7.3 / FIXTURES.md):
- session timezone UTC (set at query time via ``configure_runtime``)
- every computed column aliased identically in Spark and SQL
- deterministic orderings wherever ``limit``/dedup is involved
- money/double aggregates rounded on both sides
- DuckDB integer sums wrapped in CAST(... AS BIGINT) (DuckDB widens to
  HUGEINT; Spark stays BIGINT)
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wistia_video_analytics_project_spark import cache, schemas
from wistia_video_analytics_project_spark.operators import (
    als,
    keyphrase,
    ngram_lm,
    analytics,
    cleaning,
    conform,
    corpus,
    dedup,
    gold,
    graph,
    langid,
    linalg,
    multimodal,
    quality,
    scale,
    scd,
    similarity,
    sketch,
    temporal,
    text,
    unigram,
)
from wistia_video_analytics_project_spark.session import configure_runtime
from wistia_video_analytics_project_spark.sources import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §3.4 / A-series — aggregate analytics over the event stream
# ---------------------------------------------------------------------------


def q_daily_plays_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: "Daily Plays Trend" (PDF p.34) on the events table —
    filter play-type events, per-date counts + value sum (A1/A2, P6)."""
    events = _t(spark, sf_dir, "events")
    plays = events.filter(F.col("event_type") == "view")
    return analytics.daily_trend(
        plays,
        F.to_date("ts"),
        {
            "plays": F.count(F.lit(1)),
            "total_value": F.round(F.sum("value"), 2),
        },
        date_name="event_date",
    )


def q_fact_engagement_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core fact build (A1-A3, `notebool-03.py:226-234`): multi-key
    groupBy with count / domain-constant rate / null-safe sum / avg."""
    events = _t(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id"), F.to_date("ts").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("play_count"),
            F.round(F.count(F.lit(1)) / 10.0, 2).alias("play_rate"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "total_watch_time_seconds"
            ),
            # avg of 2-decimal inputs lands exactly on .xx5 ties, where
            # double round() differs between engines — snap to DECIMAL(18,6)
            # first so both sides round HALF_UP identically.
            F.round(
                F.avg(F.coalesce(F.col("value"), F.lit(0.0))).cast("decimal(18,6)"), 2
            )
            .cast("double")
            .alias("avg_percent_watched"),
        )
    )


def q_gold_fact_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold DDL boundary (PDF p.26 / `...ETL-Pipeline.json:437-450`):
    the silver fact cast through ``gold.to_gold_fact`` — DECIMAL(5,2)
    rates with a clamp overflow policy, half-up INT watch seconds.

    The checked output re-casts the two DECIMAL(5,2) columns to DOUBLE:
    the driver canonicalizes Decimal values differently per engine
    (r2 hash mismatch with rows+schema matching), and the decimal cast
    is lossless here (inputs pre-rounded to 2dp) so the double view is
    value-identical. ``gold.to_gold_fact`` itself keeps true decimals
    (tested in tests/test_gold.py)."""
    fact = q_fact_engagement_build(spark, sf_dir)
    g = gold.to_gold_fact(fact)
    return g.select(
        "user_id",
        "date",
        "play_count",
        F.col("play_rate").cast("double").alias("play_rate"),
        "total_watch_time",
        F.col("watched_percent").cast("double").alias("watched_percent"),
    )


def q_engagement_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: the reference's DAX measure set (PDF p.33) over the built fact."""
    fact = q_fact_engagement_build(spark, sf_dir)
    return analytics.engagement_kpis(
        fact,
        play_col="play_count",
        pct_col="avg_percent_watched",
        watch_col="total_watch_time_seconds",
        visitor_col="user_id",
    )


def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregate — the batch form of the streaming
    tier's windowed fact build (SURVEY.md §2.9)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_events", "total_value")
    )


def q_rollup_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup superset of the reporting slices (SURVEY.md §2.4 note)."""
    events = _t(spark, sf_dir, "events")
    return analytics.rollup_report(
        events.withColumn("event_date", F.to_date("ts")),
        ["event_type", "event_date"],
        {"n_events": F.count(F.lit(1)), "total_value": F.round(F.sum("value"), 2)},
    )


def q_cube_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube: all grouping-set combinations over (event_type, event_date)
    (§2.4 note — the reporting-layer superset)."""
    events = _t(spark, sf_dir, "events")
    return analytics.cube_report(
        events.withColumn("event_date", F.to_date("ts")),
        ["event_type", "event_date"],
        {"n_events": F.count(F.lit(1))},
    )


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ``from_json`` over the string payload column (§2.8 json)."""
    events = _t(spark, sf_dir, "events")
    parsed = conform.parse_json_column(events, "props", schemas.EVENT_PROPS, out="p")
    return parsed.groupBy(F.col("p.k").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# dim conformance (P1-P5, §2.8 scalar funcs)
# ---------------------------------------------------------------------------


def q_dim_media_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim build shape on `part`: select/rename + when-chain classification
    + URL derivation + distinct (`notebool-03.py:133-145`)."""
    part = _t(spark, sf_dir, "part")
    lowered = F.lower(F.coalesce(F.col("p_type"), F.lit("")))
    channel = (
        F.when(lowered.contains("promo"), F.lit("Promo"))
        .when(lowered.contains("economy"), F.lit("Budget"))
        .when(lowered.contains("large"), F.lit("Premium"))
        .otherwise(F.lit("Standard"))
    )
    return conform.select_rename(
        part,
        {
            "media_id": F.col("p_partkey").cast("string"),
            "title": "p_name",
            "channel": channel,
            "url": conform.media_url(F.col("p_partkey").cast("string")),
        },
    ).distinct()


def q_dim_visitor_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim build shape on `customer`: rename + null-defaulting + distinct
    (`notebool-03.py:170-175`)."""
    customer = _t(spark, sf_dir, "customer")
    return conform.select_rename(
        customer,
        {
            "visitor_id": F.col("c_custkey").cast("string"),
            "name": "c_name",
            "segment": F.coalesce(F.col("c_mktsegment"), F.lit("Unknown")),
        },
    ).distinct()


def q_pk_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 deterministic PK repair: blank/null key -> content-hash surrogate
    (replaces `monotonically_increasing_id`, SURVEY.md §7.3). Nulls are
    synthesized (source='src0') so the repair branch is exercised."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn(
        "source_key",
        F.when(F.col("source") == "src0", F.lit(None).cast("string")).otherwise(
            F.col("source")
        ),
    )
    repaired = conform.repair_key(docs, "source_key", "doc", ["text"])
    return repaired.select("doc_id", "source_key")


# ---------------------------------------------------------------------------
# Quality operators Q1/Q3/Q4/Q5
# ---------------------------------------------------------------------------


def q_null_empty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: single-pass null/blank audit (`notebool-03.py:262-277`)."""
    docs = _t(spark, sf_dir, "documents")
    return quality.null_empty_audit(docs, ["doc_id", "text", "lang"]).withColumnRenamed(
        "column", "col_name"
    )


def q_keep_first_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: deterministic keep-first dedup on (user_id, event_type), first =
    earliest (ts, event_id) (`notebool-03.py:308-317` with the
    orderBy(lit(1)) nondeterminism fixed)."""
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    return quality.dedup_keep_first(
        events, ["user_id", "event_type"], order_by=["ts", "event_id"]
    )


def q_duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: duplicate key groups (`notebool-03.py:311-314`)."""
    li = _t(spark, sf_dir, "lineitem")
    return quality.duplicate_groups(li, ["l_orderkey"])


def q_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: rows + exact distinct keys in one pass (`notebool-03.py:335-346`)."""
    orders = _t(spark, sf_dir, "orders")
    return quality.quality_report(orders, ["o_orderkey", "o_custkey"])


# ---------------------------------------------------------------------------
# Joins J1-J3 + top-k L3 + windows W2-W4
# ---------------------------------------------------------------------------


def q_plays_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + "Plays by Channel": fact ⋈ broadcast dim, grouped measures."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    enriched = analytics.enrich(
        li, part, on=li.l_partkey == part.p_partkey, how="inner"
    )
    return analytics.measure_by(
        enriched,
        ["p_brand"],
        {
            "plays": F.count(F.lit(1)),
            "revenue": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
        },
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: anti-join referential audit — dims with no fact rows."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: semi-join ("orders with engagement") + grouped count."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    with_items = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
    return analytics.measure_by(
        with_items, ["o_orderpriority"], {"order_count": F.count(F.lit(1))}
    )


def q_top10_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: "Top 10 Videos by Plays" — deterministic top-k (tiebreak on key).
    Planned as TakeOrderedAndProject, never a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("plays"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )
    return analytics.top_k(
        per_part, 10, [F.desc("plays"), F.asc("l_partkey")]
    )


def q_rank_in_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: top-3 per group via rank window (unique tiebreaker included)."""
    part = _t(spark, sf_dir, "part")
    return analytics.rank_in_group(
        part.select("p_brand", "p_partkey", "p_retailprice"),
        partition_by=["p_brand"],
        order=[F.desc("p_retailprice"), F.asc("p_partkey")],
        keep=3,
        rank_name="rnk",
    )


def q_trailing_7day_plays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: 7-row trailing window over the (small, pre-aggregated) daily
    trend — "Daily Plays Trend" with a smoothed line."""
    events = _t(spark, sf_dir, "events")
    daily = analytics.daily_trend(
        events.filter(F.col("event_type") == "view"),
        F.to_date("ts"),
        {"plays": F.count(F.lit(1))},
        date_name="event_date",
    )
    return analytics.trailing_window(
        daily, "event_date", "plays", preceding=6, out_name="plays_7d"
    )


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: first-touch detection, aggregated to (date, status) counts."""
    events = _t(spark, sf_dir, "events")
    visits = events.select(
        "user_id", F.to_date("ts").alias("event_date")
    ).distinct()
    labeled = analytics.new_vs_returning(visits, "user_id", "event_date")
    return analytics.measure_by(
        labeled, ["event_date", "visitor_status"], {"visitors": F.count(F.lit(1))}
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped gold queries (bench headliners)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide-aggregate scan (A1-A3 at bench
    scale; one shuffle, map-side partial aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10.
    customer/orders sides filter-push before the join.

    No broadcast hint on the filtered customer side: it grows linearly
    with scale factor (~30M rows at SF200) and would outgrow a
    broadcast, so AQE picks broadcast-vs-shuffled-hash from the runtime
    size (round-2 verdict item 6; tolerant plan test in
    tests/test_plans.py)."""
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    rev = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return analytics.top_k(rev, 10, [F.desc("revenue"), F.asc("o_orderkey")]).select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority", "revenue"
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through supplier→nation→region with
    broadcast dims, grouped revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Temporal operators (as-of join, sessionization) + reporting extras
# ---------------------------------------------------------------------------


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar aggregate — the minimal
    pushdown benchmark (all three predicates reach the scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 3-way join on return-flagged lineitems, revenue
    per customer, deterministic top-20."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    rev = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return analytics.top_k(rev, 20, [F.desc("revenue"), F.asc("c_custkey")])


def q_asof_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): each order picks the customer's
    most recent per-day max order total at-or-before its date. Right side
    pre-aggregated per (key, ts) so tie resolution is deterministic."""
    orders = _t(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    right = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.round(F.max("o_totalprice"), 2).alias("last_price")
    )
    joined = temporal.as_of_join(
        left, right, on=["o_custkey"], left_ts="o_orderdate", right_ts="o_orderdate"
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        "last_price",
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user over the event
    stream (lag + running sum, single shuffle)."""
    events = _t(spark, sf_dir, "events")
    stats = temporal.session_stats(
        events, "user_id", "ts", tiebreakers=["event_id"]
    )
    return stats.select(
        "user_id",
        "session_id",
        "n_events",
        "duration_seconds",
        F.to_date("session_start_ts").alias("session_date"),
    )


def q_dense_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily trend: every calendar date between the first and
    last purchase appears, zero-activity days included (sequence-spine
    left join, O(days) spine rows regardless of fact size)."""
    events = _t(spark, sf_dir, "events")
    daily = analytics.daily_trend(
        events.filter(F.col("event_type") == "purchase"),
        F.to_date("ts"),
        {"purchases": F.count(F.lit(1))},
        date_name="event_date",
    )
    return analytics.fill_date_gaps(daily, "event_date", {"purchases": 0})


def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the event stream: users who viewed, then
    clicked after their first view, then purchased after that.

    Bound to the single-pass fold implementation (one shuffle on the
    entity key, one action) — the sequential join-per-step variant
    (:func:`analytics.funnel`) is semantics-equivalent (pinned in
    tests/test_analytics_ext.py) but runs len(steps) rounds."""
    events = _t(spark, sf_dir, "events")
    return analytics.funnel_single_pass(
        events,
        [("view", "view"), ("click", "click"), ("purchase", "purchase")],
    )


def q_pivot_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per date x type as columns (fixed value list
    keeps the plan static — no extra distinct-scan job at scale)."""
    events = _t(spark, sf_dir, "events")
    return analytics.pivot_report(
        events.withColumn("event_date", F.to_date("ts")),
        "event_date",
        "event_type",
        ["click", "error", "purchase", "signup", "view"],
        F.count(F.lit(1)),
    )


def q_unpivot_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): melt the wide per-type daily report back to long
    (event_date, event_type, n_events) — pivot's inverse, §2.7."""
    wide = q_pivot_type_daily(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    stack_args = ", ".join(f"'{t}', {t}" for t in types)
    return wide.selectExpr(
        "event_date",
        f"stack({len(types)}, {stack_args}) AS (event_type, n_events)",
    )


def q_viewers_vs_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users who both viewed and purchased (INTERSECT)
    and users who viewed but never purchased (EXCEPT)."""
    events = _t(spark, sf_dir, "events")
    viewers = events.filter(F.col("event_type") == "view").select("user_id")
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id")
    both = viewers.intersect(purchasers).withColumn("cohort", F.lit("view_and_purchase"))
    # subtract = set EXCEPT; exceptAll would be multiset difference (a
    # user with more purchases than views would vanish incorrectly)
    only_view = viewers.subtract(purchasers).withColumn("cohort", F.lit("view_only"))
    return both.unionByName(only_view)


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per event type."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


def q_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: stddev / correlation / covariance
    (the reporting layer's dispersion measures)."""
    li = _t(spark, sf_dir, "lineitem")
    # `+ 0.0` normalizes IEEE negative zero; rounded magnitudes are kept
    # well above the engines' accumulation-order noise floor
    return li.groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_quantity"), 4) + 0.0).alias("qty_stddev"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 3) + 0.0).alias(
            "qty_price_corr"
        ),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2) + 0.0).alias(
            "qty_price_covar"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def q_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile distribution of event values: bucket bounds + counts (the
    reporting-layer histogram shape), scale-safe.

    A naive ``ntile(10) OVER (ORDER BY ...)`` on the raw fact forces a
    single-partition global sort of every event. Instead the raw stream
    only ever sees a distributed groupBy(value); the one global-order
    window runs on the PRE-AGGREGATED distinct-value frame (orders of
    magnitude smaller — 2-decimal money values are a bounded domain).
    Ties share a decile by construction; boundaries use pure-integer
    arithmetic (``div``), bit-exact across engines.
    """
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    by_val = (
        events.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = by_val.agg(F.sum("c").alias("total"))
    cum = by_val.withColumn(
        "cum", F.sum("c").over(Window.orderBy("value"))
    ).crossJoin(F.broadcast(total))
    dec = cum.withColumn(
        "decile", (F.expr("(10 * (cum - c)) div total") + F.lit(1)).cast("int")
    )
    return dec.groupBy("decile").agg(
        F.sum("c").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


def q_ks_test_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test comparing order-value
    distributions of BUILDING-segment customers vs the rest — completes
    the nonparametric trio next to Mann-Whitney and chi-square.

    Same scale shape as Mann-Whitney: never a global row sort — the
    fact reduces to per-distinct-value group counts (one shuffle), the
    cumulative window runs over that aggregated frame, and the D
    statistic is assembled in EXACT integers: D = max|F_a - F_b| =
    max|cum_a·n_b - cum_b·n_a| / (n_a·n_b), so the max is over exact
    integer numerators and both engines pick the same supremum point.
    Only the final division and the z normalization touch floats
    (rounded 6/4)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    is_a = F.col("c_mktsegment") == "BUILDING"
    per_val = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("na_v"),
            F.sum(F.when(is_a, 0).otherwise(1)).cast("bigint").alias("nb_v"),
        )
    )
    # distributed prefix ladder (round 10): the per-distinct-value
    # frame is ~|orders| at scale (prices are near-unique), so the
    # cumulative sums ride one shared range bucketing, not a
    # single-task window
    cum = scale.binned_prefix_ops(
        per_val, ["v"], sum_cols={"cum_a": "na_v", "cum_b": "nb_v"}
    ).select("cum_a", "cum_b")
    tot = per_val.agg(
        F.sum("na_v").cast("bigint").alias("n_a"),
        F.sum("nb_v").cast("bigint").alias("n_b"),
    )
    joined = cum.crossJoin(F.broadcast(tot))
    # D numerator in DECIMAL(38,0)/HUGEINT: cum*n is ~1e20 at 1e10
    # orders — int64 wraps (Spark) or errors (DuckDB)
    res = joined.agg(
        F.max(
            F.abs(
                F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
                - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
            )
        )
        .cast("decimal(38,0)")
        .alias("d_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    return res.select(
        "n_a",
        "n_b",
        F.round(F.col("d_num").cast("double") / (na_d * nb_d), 6).alias(
            "ks_d"
        ),
        F.round(
            F.col("d_num").cast("double")
            / F.sqrt(na_d * nb_d * (na_d + nb_d)),
            4,
        ).alias("ks_z"),
    )


def q_theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue over 1995: the
    median of all pairwise slopes, which a single anomalous day cannot
    move (OLS slope reported beside it for contrast — the breakdown
    point is the whole point of the estimator).

    Scale shape: the fact reduces to ONE row per day (exact integer
    cents) before any pairing, so the O(days²) self-join runs over a
    bounded per-day aggregate (365 rows -> 66k pairs), never over raw
    orders — at 100 TB the pair stage is unchanged because the day
    count doesn't grow with fact volume. Slopes divide exact integers
    (cents by day-gaps·100) so both engines interpolate the median over
    identical doubles; outputs round to 6."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cents")
        )
    )
    daily = cache.persist(daily)
    a = daily.select(
        F.col("day").alias("d1"), F.col("cents").alias("c1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("cents").alias("c2")
    )
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.datediff(F.col("d2"), F.col("d1")) * 100).cast("double")
        ).alias("slope")
    )
    start = F.lit("1995-01-01").cast("date")
    ols = daily.select(
        F.datediff(F.col("day"), start).cast("double").alias("x"),
        (F.col("cents").cast("double") / F.lit(100).cast("double")).alias(
            "y"
        ),
    )
    med = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.round(F.expr("percentile(slope, 0.5)"), 6) + F.lit(0.0)
        ).alias("ts_slope"),
    )
    fit = ols.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(F.regr_slope(F.col("y"), F.col("x")), 6) + F.lit(0.0)).alias(
            "ols_slope"
        ),
    )
    return fit.crossJoin(F.broadcast(med)).select(
        "n_days", "n_pairs", "ts_slope", "ols_slope"
    )


def q_spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line price and quantity —
    the monotone-association complement to the Pearson matrix
    (`measure_corr_matrix`). Average ranks handle the heavy quantity
    ties exactly: avg_rank = cum_count_before + (ties+1)/2, assembled
    from exact integers, so both engines feed IDENTICAL rank doubles
    into one pass of corr (rounded 6, +0.0).

    Scale shape: NO raw-row global sort — ranks come from cumulative
    windows over the per-distinct-value AGGREGATES (the
    ks_test_order_values precedent: the unpartitioned window runs over
    a distinct-value frame bounded by cardinality, not fact volume),
    and the rank maps join back to the fact as ordinary parallel
    equi-joins before a single corr aggregate."""
    li = _t(spark, sf_dir, "lineitem")

    def rank_map(col: str, alias: str) -> DataFrame:
        # distributed prefix ladder (round 10): distinct line prices
        # are ~|lineitem| at scale — the midrank cumulative rides the
        # range-bucket ladder, not a single-task window
        per = li.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        return scale.binned_running_sum(
            per, [col], "__c", out_col="__cum_incl"
        ).select(
            F.col(col),
            (
                (F.col("__cum_incl") - F.col("__c")).cast("double")
                + (F.col("__c").cast("double") + 1.0) / 2.0
            ).alias(alias),
        )
    ranked = li.select("l_extendedprice", "l_quantity").join(
        rank_map("l_extendedprice", "rp"), "l_extendedprice"
    ).join(
        F.broadcast(rank_map("l_quantity", "rq")), "l_quantity"
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.corr("rp", "rq"), 6) + F.lit(0.0)).alias("spearman_rho"),
    )


def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily view counts and daily purchase
    counts — concordance over day pairs, tie-corrected. Everything up
    to the final sqrt is EXACT integer arithmetic (concordant /
    discordant / tie pair counts over the O(days²) self-join of a
    per-day aggregate), so the gate compares integers plus one rounded
    float. Same bounded-pair scale argument as Theil-Sen: the pair
    stage never touches raw events."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("purchases"),
    )
    daily = cache.persist(daily)
    a = daily.select(
        F.col("day").alias("d1"),
        F.col("views").alias("x1"),
        F.col("purchases").alias("y1"),
    )
    b = daily.select(
        F.col("day").alias("d2"),
        F.col("views").alias("x2"),
        F.col("purchases").alias("y2"),
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    counts = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(F.when(dx * dy > 0, 1).otherwise(0))
            .cast("long")
            .alias("concordant"),
            F.sum(F.when(dx * dy < 0, 1).otherwise(0))
            .cast("long")
            .alias("discordant"),
            F.sum(
                F.when((dx == 0) & (dy != 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("ties_x"),
            F.sum(
                F.when((dy == 0) & (dx != 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("ties_y"),
            F.sum(
                F.when((dx == 0) & (dy == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("ties_xy"),
        )
    )
    c, d = F.col("concordant"), F.col("discordant")
    tx, ty = F.col("ties_x"), F.col("ties_y")
    denom = F.sqrt(
        (c + d + tx).cast("double") * (c + d + ty).cast("double")
    )
    return counts.select(
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_xy",
        (
            F.round((c - d).cast("double") / denom, 6) + F.lit(0.0)
        ).alias("kendall_tau_b"),
    )


def q_sequential_pattern_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequential-pattern mining (PrefixSpan-style support counting for
    length-3 patterns): for every ordered event-type triple (a, b, c),
    the number and share of users whose history contains a then b then
    c as a subsequence — the generalization of the fixed
    view→click→purchase funnel to ALL 125 type triples at once.

    Subsequence existence uses the greedy-earliest argument (a triple
    embeds iff taking the FIRST a, then the first b after it, then any
    c after that succeeds), which turns an exponential subsequence
    search into three bounded levels of min-aggregation:
    level 1 is one groupBy over the fact, level 2 joins the fact to the
    (user × ~5 types) level-1 frame, level 3 to the (user × ~25 pairs)
    level-2 frame — intermediate sizes are fact × type-count, never
    fact², and type-count is small and fixed at any corpus scale.
    Timestamps compare as integer micros on both engines, so the two
    engines' timestamp-to-double rounding never enters the result."""
    events = _t(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    ev = cache.persist(ev)
    lvl1 = ev.groupBy(
        "user_id", F.col("event_type").alias("a")
    ).agg(F.min("us").alias("ta"))
    lvl2 = (
        ev.alias("e")
        .join(
            lvl1.alias("l1"),
            (F.col("e.user_id") == F.col("l1.user_id"))
            & (F.col("e.us") > F.col("l1.ta")),
        )
        .groupBy(
            F.col("e.user_id").alias("user_id"),
            "a",
            F.col("e.event_type").alias("b"),
        )
        .agg(F.min("e.us").alias("tb"))
    )
    hits = (
        ev.alias("e")
        .join(
            lvl2.alias("l2"),
            (F.col("e.user_id") == F.col("l2.user_id"))
            & (F.col("e.us") > F.col("l2.tb")),
        )
        .groupBy("a", "b", F.col("e.event_type").alias("c"))
        .agg(
            F.countDistinct(F.col("e.user_id"))
            .cast("long")
            .alias("n_users")
        )
    )
    total = ev.agg(
        F.countDistinct("user_id").cast("long").alias("total_users")
    )
    return (
        hits.crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "c",
            "n_users",
            "total_users",
            F.round(
                F.col("n_users").cast("double")
                / F.col("total_users").cast("double"),
                6,
            ).alias("support"),
        )
        .orderBy("a", "b", "c")
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the at-scale replacement for exact
    count-distinct QC (SURVEY.md §4.3). Approximate -> rows-only check;
    tests assert <5% error vs exact."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: elementwise mean over the embedding
    column via posexplode — the vector-aggregation primitive behind IVF
    refinement, emitted in long form (label, dim, value)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg((F.round(F.avg(F.col("v").cast("double")), 6) + 0.0).alias("centroid_v"))
    )


def q_daily_plays_vs_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join alignment of two daily series (days where either
    side has activity appear, missing side zero-filled)."""
    events = _t(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("views"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("purchases"))
    )
    return views.join(purchases, "event_date", "full_outer").select(
        "event_date",
        F.coalesce("views", F.lit(0)).alias("views"),
        F.coalesce("purchases", F.lit(0)).alias("purchases"),
    )


def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the Spark SQL surface: per-(type,
    date), per-type, and grand-total rows with grouping_id to tell the
    levels apart."""
    events = _t(spark, sf_dir, "events")
    events.withColumn("event_date", F.to_date("ts")).createOrReplaceTempView(
        "__gs_events"
    )
    return spark.sql(
        """
        SELECT event_type, event_date, count(*) AS n_events,
               grouping_id(event_type, event_date) AS gid
        FROM __gs_events
        GROUP BY event_type, event_date
          GROUPING SETS ((event_type, event_date), (event_type), ())
        """
    )


def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with exact verification: candidate
    keys come from the sketch (no full-cardinality exact agg), reported
    counts are exact — so the result matches the plain HAVING oracle."""
    events = _t(spark, sf_dir, "events")
    hh = sketch.heavy_hitters(events, "user_id", min_count=70)
    return hh.select("user_id", F.col("exact_count").alias("n_events"))


def q_union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True) over schema-drifting batches
    (v1 without props, v2 with) — §2.7's raw-JSON drift case."""
    events = _t(spark, sf_dir, "events")
    v1 = events.select("event_id", "user_id", "event_type", "value")
    v2 = events.select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_missing_props"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over orders: customers bucketed by
    first-order month, counted per month-offset (extends W4
    new-vs-returning, PDF p.34, to the full retention surface)."""
    orders = _t(spark, sf_dir, "orders")
    return analytics.cohort_retention(orders, "o_custkey", "o_orderdate")


def q_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend with lag-based deltas (W3 family:
    trend windows on the aggregated series, never the raw fact)."""
    orders = _t(spark, sf_dir, "orders")
    return analytics.period_over_period(
        orders, "o_orderdate", F.sum("o_totalprice"), "month", "revenue"
    )


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group via max_by over a (date, key) struct ordering —
    the single-shuffle alternative to the row_number window dedup (W1),
    deterministic because the struct ends in the unique order key."""
    orders = _t(spark, sf_dir, "orders")
    out = analytics.argmax_per_group(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        "o_orderkey",
        out_name="last_orderkey",
    )
    return out.select(
        "o_custkey", "last_orderkey", F.col("max_o_orderdate").alias("last_order_date")
    )


def q_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram of order value (width_bucket):
    distribution reporting without a bounds pre-scan."""
    orders = _t(spark, sf_dir, "orders")
    return analytics.histogram(orders, "o_totalprice", 0.0, 500_000.0, 20)


def q_above_avg_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: customers whose lifetime spend exceeds the
    global average spend. The 1-row global aggregate joins back via
    broadcast — no second shuffle of the per-customer frame."""
    orders = _t(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    avg_row = totals.agg(
        F.round(F.avg("total_spend").cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("__avg_spend")
    )
    return (
        totals.crossJoin(F.broadcast(avg_row))
        .filter(F.col("total_spend") > F.col("__avg_spend"))
        .select("o_custkey", "total_spend")
    )


def q_purchase_view_coincidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval join (binned): per purchase, the count of view
    events across ALL users in the preceding 10 minutes — the join no
    equi-key exists for; the time-bin manufactured key keeps it a plain
    hash join (operators/temporal.binned_range_join)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("ts").alias("vts")
    )
    j = temporal.binned_range_join(purchases, views, "pts", "vts", 600)
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views_10m")
    )


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic on the event stream's user key: the input to
    the salting / AQE-skew-join decision (operators/scale.py)."""
    events = _t(spark, sf_dir, "events")
    return scale.skew_report(events, ["user_id"], top_n=10)


def q_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-20 part pairs co-occurring in the same
    order (self equi-join on the basket key, deterministic top-k)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    baskets = lineitem.select("l_orderkey", "l_partkey")
    pairs = analytics.cooccurrence_pairs(baskets, "l_orderkey", "l_partkey")
    return analytics.top_k(
        pairs,
        20,
        [F.desc("pair_count"), F.asc("item_a"), F.asc("item_b")],
    )


def q_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/string_agg with deterministic ordering: alphabetical
    nation list per region (array_sort(collect_list) — reproducible
    where bare collect_list is partition-order-dependent)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    )
    return analytics.sorted_list_agg(
        joined, ["r_name"], "n_name", sep=",", out_name="nations"
    )


def q_view_purchase_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: per user, how many purchases had at least one
    view in the strictly-preceding hour (equi-key + interval predicate —
    the co-partitioned range-join shape)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts")
    matched = temporal.preceding_window_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        window="1 hour",
    )
    per_purchase = matched.groupBy(
        F.col("__l.user_id").alias("user_id"), F.col("__l.event_id").alias("event_id")
    ).agg(F.count(F.lit(1)).alias("n_prior_views"))
    per_user_matched = per_purchase.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("purchases_with_prior_view"),
        F.sum("n_prior_views").alias("total_prior_views"),
    )
    all_purchases = purchases.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    return all_purchases.join(per_user_matched, "user_id", "left").select(
        "user_id",
        "n_purchases",
        F.coalesce("purchases_with_prior_view", F.lit(0)).alias(
            "purchases_with_prior_view"
        ),
        F.coalesce("total_prior_views", F.lit(0)).alias("total_prior_views"),
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way star join: revenue per nation for one
    region-year, suppliers local to the customer's nation. The three
    small dims (supplier, nation, region) broadcast; lineitem⋈orders and
    the customer join shuffle on their keys — Catalyst + AQE order the
    rest (J1 at its widest)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia = region.filter(F.col("r_name") == "ASIA")
    ord96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    joined = (
        lineitem.join(ord96, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(asia), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


def q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape via a partitioned window: orders priced
    above their own customer's average order value — one shuffle on the
    customer key, no join back."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.round(F.avg("o_totalprice").over(w).cast("decimal(18,6)"), 2)
        .cast("double")
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("order_value"),
            "cust_avg",
        )
    )


def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation with array ops: per user the sorted
    event-type set (collect_set -> array_sort -> concat_ws, the
    deterministic form) plus a set-membership flag."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types"),
        F.countDistinct("event_type").alias("n_types"),
        (F.sum((F.col("event_type") == "purchase").cast("long")) > 0).alias(
            "has_purchase"
        ),
    )


def q_top_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event
    type, ties broken lexicographically — min_by over a (-count, type)
    struct on the pre-aggregated counts (two partial-agg shuffles, no
    window sort over the raw stream)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct((-F.col("cnt")).alias("nc"), F.col("event_type"))
        ).alias("top_type"),
        F.max("cnt").alias("top_count"),
    )


def q_balance_segment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (count_if / FILTER): per market segment,
    how many customers hold a positive balance and the share they make
    up — the single-pass alternative to filter-then-join."""
    customer = _t(spark, sf_dir, "customer")
    n = F.count(F.lit(1))
    n_pos = F.count_if(F.col("c_acctbal") > 0)
    return customer.groupBy("c_mktsegment").agg(
        n.alias("n_customers"),
        n_pos.alias("n_positive"),
        F.round((n_pos / n * 100.0).cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("pct_positive"),
        (
            F.round(F.avg("c_acctbal").cast("decimal(18,6)"), 2).cast("double") + 0.0
        ).alias("avg_balance"),
    )


def q_customers_no_final_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery through the SQL surface — Spark plans the
    null-aware anti join variant (distinct from the NOT EXISTS
    left-anti of customers_without_orders)."""
    configure_runtime(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__ni_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__ni_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM __ni_customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM __ni_orders WHERE o_orderstatus = 'F')
        """
    )


def q_order_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows: percent_rank and cume_dist of each
    order's value within its priority class (partitioned window — the
    sort never spans partitions)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


def q_rolling_7day_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware trailing window: 7-day revenue via a RANGE frame over
    the day number — unlike a ROWS frame, missing calendar days still
    shrink the window (the ROWS form silently spans gaps). Runs on the
    aggregated per-day frame."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    day_no = F.datediff(F.col("order_date"), F.lit("1970-01-01"))
    w = (
        Window.orderBy(day_no.alias("__d"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "order_date",
        "revenue",
        F.round(F.sum("revenue").over(w), 2).alias("revenue_7day"),
    )


#: ln(2)/7 as one shared double literal — a 7-day half-life; both engines
#: see the identical constant, so exp() inputs match bit-for-bit
_DECAY_7D = 0.09902102579427789


def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: per user, sum of event values decayed
    by a 7-day half-life from the corpus's last event date — the batch
    face of the streaming tier's decayed-score stateful operator. Top 20
    users, deterministic tiebreak."""
    events = _t(spark, sf_dir, "events")
    ref = events.agg(F.max(F.to_date("ts")).alias("__ref"))
    aged = events.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (
            F.coalesce(F.col("value"), F.lit(0.0))
            * F.exp(-F.lit(_DECAY_7D) * F.datediff("__ref", F.to_date("ts")))
        ).alias("__w"),
    )
    return (
        aged.groupBy("user_id")
        .agg(F.round(F.sum("__w"), 2).alias("decayed_score"))
        .orderBy(F.desc("decayed_score"), F.asc("user_id"))
        .limit(20)
    )


def q_late_shipment_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 flavor: per order priority, the share of orders with at
    least one line shipped >90 days after the order date — EXISTS
    expressed as a distinct-key semi aggregate joined back to the order
    dimension counts. Day arithmetic via datediff (integer, engine-
    portable)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late_orders = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .filter(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90
        )
        .select("o_orderkey")
        .distinct()
    )
    flagged = orders.join(
        late_orders.withColumnRenamed("o_orderkey", "__late_key"),
        orders.o_orderkey == F.col("__late_key"),
        "left",
    ).select(
        "o_orderpriority",
        F.col("__late_key").isNotNull().cast("double").alias("is_late"),
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("is_late").cast("long").alias("n_late"),
        F.round(
            (F.sum("is_late") / F.count(F.lit(1))).cast("decimal(18,6)"), 4
        )
        .cast("double")
        .alias("late_rate"),
    )


def q_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 flavor: profit by supplier nation x ship year. The
    testdata has no partsupp table, so cost is modeled from the part
    dimension (0.6 x retail price x quantity) — the join/agg shape
    (lineitem ⋈ part ⋈ supplier ⋈ nation, two broadcast dims, one
    grouped partial-agg) is the Q9 plan; only the cost column differs."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part.select("p_partkey", "p_retailprice"),
                li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: yearly-averaged revenue from small-quantity
    orders of one brand's parts — the correlated scalar subquery
    (per-part avg quantity) decorrelated into a groupBy + join, which
    is exactly Spark's own decorrelation plan. The avg threshold is
    rounded to 6 decimals on BOTH engines before the comparison so a
    1e-14 accumulation difference can't flip a boundary row."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    per_part = (
        li.join(F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.round(F.lit(0.5) * F.avg("l_quantity"), 6).alias("__thr"))
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == per_part.p_partkey)
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 flavor: suppliers who were the ONLY late shipper in
    multi-supplier orders (late = shipped >90 days after order date;
    the testdata has no commit/receipt dates). The EXISTS/NOT-EXISTS
    pair decorrelates into per-order distinct-supplier counts — two
    partial aggs off one shared scan — and the result is a
    deterministic top-10."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        "o_orderkey",
        "l_suppkey",
        (
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90
        ).alias("__late"),
    )
    # single pass: when exactly one supplier is late, max(late supplier)
    # IS that supplier — no second consumer of the joined frame, so the
    # lineitem⋈orders join runs once with no cache needed.
    # r13: the distinct-supplier counts run as TWO chained aggregates
    # instead of count_distinct — the multi-distinct aggregate planned
    # an Expand (3x the rows through the exchange) plus an extra
    # shuffle. One explicit o_orderkey repartition establishes a
    # partitioning BOTH groupBys satisfy (hash(o_orderkey) clusters
    # (o_orderkey, l_suppkey) too — guide §2.4 "share one exchange"):
    # the whole reduction runs on a single shuffle, identical integers
    # out.
    per_supp = (
        lo.repartition("o_orderkey")
        .groupBy("o_orderkey", "l_suppkey")
        .agg(F.max("__late").alias("__any_late"))
    )
    per_order = per_supp.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.sum(F.col("__any_late").cast("long")).alias("__n_late"),
        F.max(F.when(F.col("__any_late"), F.col("l_suppkey"))).alias(
            "__sole"
        ),
    )
    sole_late = per_order.filter(
        (F.col("__n_supp") >= 2) & (F.col("__n_late") == 1)
    ).select(F.col("__sole").alias("l_suppkey"))
    counts = (
        sole_late.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            sole_late.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return analytics.top_k(counts, 10, [F.desc("numwait"), F.asc("s_name")])


def q_nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: yearly shipped volume between two nations in both
    directions (supplier nation x customer nation) — a dual-dimension
    broadcast join with the direction pair kept as output keys."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    supp_n = supplier.join(
        F.broadcast(nation.filter(F.col("n_name").isin(*pair))),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = customer.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("__cnk"), F.col("n_name").alias("cust_nation")
            ).filter(F.col("cust_nation").isin(*pair))
        ),
        customer.c_nationkey == F.col("__cnk"),
    ).select("c_custkey", "cust_nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_n), lineitem.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(cust_n), orders.o_custkey == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(rev), 2).alias("volume"))
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N orders,
    INCLUDING the zero-order customers (left join before the count-of-
    counts) — the distribution query whose outer join is the point."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.select("o_orderkey", "o_custkey"),
            customer.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, joined back to customer detail — the semi-join-on-an-
    aggregate pattern (the big-order keys frame is tiny and broadcasts
    back against the fact). Top 20 by total price, deterministic."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


def q_top_supplier_per_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: each quarter's highest-revenue supplier — a
    (quarter, supplier) aggregate followed by max_by-style argmax with a
    supplier-key tiebreaker (no per-quarter sort; partial aggregation on
    the map side)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(
                F.year("o_orderdate").cast("string"),
                F.lit("-Q"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("quarter"),
            "l_suppkey",
            rev.alias("rev"),
        )
        .groupBy("quarter", "l_suppkey")
        .agg(F.round(F.sum("rev"), 2).alias("supp_rev"))
    )
    # argmax via max_by over a struct ordered (rev, -suppkey): ties go to
    # the LOWEST supplier key deterministically
    best = per.groupBy("quarter").agg(
        F.max_by(
            F.struct(F.col("l_suppkey").alias("top_suppkey"),
                     F.col("supp_rev").alias("top_rev")),
            F.struct(F.col("supp_rev"), (-F.col("l_suppkey")).alias("nk")),
        ).alias("b")
    )
    return best.select("quarter", "b.top_suppkey", "b.top_rev")


def q_disjunctive_branch_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from two disjunctive brand/size/quantity
    branches — the OR-of-ANDs predicate Catalyst must evaluate inside
    the (broadcast) join rather than push to either scan alone. One row
    per branch so the oracle checks each branch's contribution."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        lineitem.l_partkey == part.p_partkey,
    )
    b1 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size") <= 10)
        & (F.col("l_quantity") >= 10)
    )
    b2 = (
        (F.col("p_brand") == "Brand#15")
        & (F.col("p_size") <= 20)
        & (F.col("l_quantity") >= 20)
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        j.filter(b1 | b2)
        .select(F.when(b1, "branch1").otherwise("branch2").alias("branch"),
                rev.alias("rev"))
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from PROMO-type parts —
    conditional aggregation over a broadcast part join; one fact scan,
    one shuffle on the month key."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        lineitem.l_partkey == part.p_partkey,
    )
    return (
        j.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            rev.alias("rev"),
            (F.col("p_type") == "PROMO").cast("double").alias("is_promo"),
        )
        .groupBy("ship_month")
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.col("rev") * F.col("is_promo"))
                    / F.sum("rev")
                ).cast("decimal(18,6)"),
                4,
            )
            .cast("double")
            .alias("promo_pct"),
            F.round(F.sum("rev"), 2).alias("total_rev"),
        )
    )


def q_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers in three nations whose balance beats
    those nations' positive-balance average and with NO orders since
    2001 — scalar-subquery threshold (broadcast 1-row agg) + anti-join
    + per-nation report. The classic 'dormant valuable accounts'
    question."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    nats = ["NATION_1", "NATION_2", "NATION_3"]
    cust = customer.join(
        F.broadcast(nation.filter(F.col("n_name").isin(nats))),
        customer.c_nationkey == nation.n_nationkey,
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__thr")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(
            orders.filter(F.col("o_orderdate") >= "2001-01-01"),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of revenue from ASIA
    customers, by order year — an 8-way star join whose build sides all
    broadcast; the fact scan is the only large input, so Catalyst's
    join reordering and AQE own the physical strategy."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust_in_region = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region.filter(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        nation.select(F.col("n_nationkey").alias("__snk"),
                      F.col("n_name").alias("supp_nation")),
        supplier.s_nationkey == F.col("__snk"),
    ).select("s_suppkey", "supp_nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    vol = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), lineitem.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("volume"),
            (F.col("supp_nation") == "NATION_1").cast("double").alias("is_target"),
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                (F.sum(F.col("volume") * F.col("is_target")) / F.sum("volume"))
                .cast("decimal(18,6)"),
                4,
            )
            .cast("double")
            .alias("mkt_share"),
            F.round(F.sum("volume"), 2).alias("total_volume"),
        )
        .orderBy("o_year")
    )


def q_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, hours from first view to the first
    purchase AFTER it; the conversion-delay distribution (count + p50/
    p90/max). Timestamp deltas in integer micros, divided once."""
    events = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("__v_us")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("__p_us")
    )
    delays = (
        views.join(purchases, "user_id")
        .filter(F.col("__p_us") > F.col("__v_us"))
        .groupBy("user_id")
        .agg(F.min("__p_us").alias("__first_p"), F.min("__v_us").alias("__v"))
        .select(
            ((F.col("__first_p") - F.col("__v")) / F.lit(3_600_000_000.0)).alias(
                "delay_h"
            )
        )
    )
    return delays.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(delay_h, 0.5)"), 2).alias("p50_h"),
        F.round(F.expr("percentile(delay_h, 0.9)"), 2).alias("p90_h"),
        F.round(F.max("delay_h"), 2).alias("max_h"),
    )


def q_event_lateness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the data-driven input to the watermark
    decision (SURVEY §2.9): per user stream (event_id = arrival order),
    lateness = seconds a row's event time lags the running max. Reports
    late-row share and the lateness distribution; a 7-day watermark is
    justified iff max lateness stays inside it. Integer-micros
    arithmetic, divided once (repo timestamp convention)."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts"))
    late_us = F.greatest(F.lit(0), F.max(us).over(w) - us)
    lat = events.select((late_us / F.lit(1_000_000)).alias("late_s"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_s") > 0).cast("long")).alias("n_late"),
        F.round(F.avg("late_s"), 2).alias("avg_late_s"),
        F.round(F.expr("percentile(late_s, 0.95)"), 2).alias("p95_late_s"),
        F.round(F.max("late_s"), 2).alias("max_late_s"),
    )


def q_session_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: sessionize (temporal) -> market-basket
    co-occurrence (analytics) with the session as the basket — which
    event types happen together within one user session."""
    events = _t(spark, sf_dir, "events")
    s = temporal.sessionize(events, "user_id", "ts", ["event_id"])
    items = s.select(
        F.concat_ws("#", F.col("user_id"), F.col("session_id")).alias("sk"),
        "event_type",
    ).distinct()
    pairs = analytics.cooccurrence_pairs(items, "sk", "event_type")
    return pairs.orderBy(
        F.desc("pair_count"), F.asc("item_a"), F.asc("item_b")
    )


def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (analytics.sliding_distinct):
    the WAU trend — dedup to (user, day) pairs once, broadcast range
    join against the date spine, one count-distinct per day."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(F.to_date("ts").alias("event_date"), "user_id")
    return analytics.sliding_distinct(
        daily, "event_date", "user_id", window_days=7, out_col="wau"
    )


def q_weekly_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-incremental WAU (sketch.daily_hll_sketches +
    hll_rolling_distinct): per-day HLL sketches unioned over the
    trailing window — the persistable path that never re-scans raw
    events. Approximate: rows-only at the driver; accuracy vs the exact
    sliding distinct pinned in tests/test_sketch.py."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(F.to_date("ts").alias("day"), "user_id")
    sk = sketch.daily_hll_sketches(daily, "day", "user_id")
    return sketch.hll_rolling_distinct(sk, 7, out_col="wau_approx")


def q_value_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-percentile path (sketch.daily_kll_sketches +
    kll_quantiles_over_all): per-day KLL sketches merged into corpus
    percentiles without a global sort. Approximate — rank error vs the
    exact percentiles pinned in tests/test_sketch.py."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(F.to_date("ts").alias("day"), "value")
    sk = sketch.daily_kll_sketches(daily, "day", "value")
    return sketch.kll_quantiles_over_all(sk, (0.5, 0.9, 0.99))


def q_segment_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via Theta sketches (sketch.segment_overlap_theta):
    viewers vs purchasers distinct-user set algebra in one pass.
    Approximate — accuracy vs exact sets pinned in tests/test_sketch.py
    (the exact form is the viewers_vs_purchasers query)."""
    events = _t(spark, sf_dir, "events")
    return sketch.segment_overlap_theta(
        events,
        "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    )


def q_quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first curation (corpus.quality_budget_select): per source,
    keep the best-scored docs while the running char total stays within
    a 3000-char budget."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = _t(spark, sf_dir, "documents").withColumn(
        "quality_score", text_ops.quality_score("text")
    )
    out = corpus.quality_budget_select(docs, 3000.0, "quality_score")
    return out.select("doc_id", "source", "n_chars", "quality_score")


def q_weekday_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume monitoring: daily event counts scored
    against their OWN weekday's mean/stddev (a Monday is only anomalous
    vs other Mondays). iso_dow via weekday()+1 == DuckDB isodow."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    wd = (F.weekday("event_date") + F.lit(1)).alias("iso_dow")
    daily = daily.select("event_date", "n_events", wd)
    w = Window.partitionBy("iso_dow")
    mean = F.avg("n_events").over(w)
    std = F.stddev("n_events").over(w)
    z = F.when(std > 0, F.round((F.col("n_events") - mean) / std, 4) + F.lit(0.0))
    return daily.select(
        "event_date",
        "n_events",
        "iso_dow",
        z.alias("weekday_z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


def q_orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-job per-column profile of the orders table (exact-distinct
    configuration so the oracle can mirror it; string-typed columns only
    — float min/max formatting is engine-specific)."""
    orders = _t(spark, sf_dir, "orders")
    return quality.table_profile(
        orders,
        ["o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority"],
        exact_distinct=True,
    )


def q_rolling_7day_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trailing trend: EXACT 7-day rolling median of daily revenue
    (analytics.rolling_median) — outlier days don't drag the trend the
    way the rolling mean does. Gap-aware RANGE frame over day numbers."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    day_no = F.datediff(F.col("order_date"), F.lit("1970-01-01"))
    return analytics.rolling_median(
        daily, "revenue", day_no, out_col="revenue_med_7day"
    ).select("order_date", "revenue", "revenue_med_7day")


def q_daily_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series with last-observation-carried-forward: days
    with no purchases take the most recent prior day's average value
    (last_value IGNORE NULLS over the densified calendar — the panel
    -data imputation primitive)."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.round(F.avg("value").cast("decimal(18,6)"), 2)
            .cast("double")
            .alias("avg_value")
        )
    )
    bounds = _t(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("__lo"), F.max(F.to_date("ts")).alias("__hi")
    )
    spine = bounds.select(F.explode(F.sequence("__lo", "__hi")).alias("event_date"))
    dense = spine.join(daily, "event_date", "left")
    w = Window.orderBy("event_date").rowsBetween(Window.unboundedPreceding, 0)
    return dense.select(
        "event_date",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
    )


def q_daily_value_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily purchase series with LINEAR interpolation across the
    gaps (temporal.interpolate_linear) — the step past LOCF: missing
    days take the time-weighted blend of the surrounding observations.
    The x axis is integer days since epoch (engine-portable fractions)."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.round(F.avg("value").cast("decimal(18,6)"), 2)
            .cast("double")
            .alias("avg_value")
        )
    )
    bounds = _t(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("__lo"), F.max(F.to_date("ts")).alias("__hi")
    )
    spine = bounds.select(F.explode(F.sequence("__lo", "__hi")).alias("event_date"))
    dense = spine.join(daily, "event_date", "left").withColumn(
        "__x", F.expr("datediff(event_date, DATE '1970-01-01')")
    )
    return temporal.interpolate_linear(
        dense, "__x", "avg_value", out_col="avg_value_interp"
    ).select("event_date", "avg_value", "avg_value_interp")


def q_cdc_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (scd.cdc_apply): a synthesized change batch — price
    updates (custkey%7, seq 2), deletes (custkey%13, seq 3), inserts
    (shifted keys, seq 1) — applied onto the orders snapshot; latest
    sequence per key wins, so a key with both U and D resolves to the
    delete. Idempotent under replay."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ups = (
        orders.filter(F.col("o_custkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("U"))
    )
    dels = (
        orders.filter(F.col("o_custkey") % 13 == 0)
        .withColumn("seq", F.lit(3))
        .withColumn("op", F.lit("D"))
    )
    ins = (
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100_000_000))
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("I"))
    )
    changes = ups.unionByName(dels).unionByName(ins)
    out = scd.cdc_apply(orders, changes, ["o_orderkey"], "seq")
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )


def q_orders_rerun_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (pipeline-regression primitive): orders vs a
    synthesized rerun — 10% price bump for every custkey%10 order,
    orderkey%97 rows dropped, orderkey%1000 rows re-keyed as inserts —
    classified added/removed/changed by keyed full-outer diff."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    rerun = orders.filter((F.col("o_orderkey") % 97) != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_custkey") % 10 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 1000 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
    )
    d = quality.diff_tables(orders, rerun, ["o_orderkey"], ["o_totalprice"])
    return d.filter(F.col("change_type") != "unchanged")


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order values: observed first-digit share
    vs the log10(1+1/d) expectation. First digit extracted via integer
    string formatting (cast to cents BIGINT first) — double->string
    formatting differs across engines, integer formatting doesn't."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.groupBy(digit.alias("first_digit")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    total = counts.agg(F.sum("n_orders").cast("double").alias("__t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "first_digit",
        "n_orders",
        F.round(F.col("n_orders") / F.col("__t"), 6).alias("observed_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("first_digit")), 6).alias(
            "benford_share"
        ),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer quartiled on Recency (days since
    last order), Frequency (order count), and Monetary (total spend),
    concatenated into the classic segment code. Quartiles come from the
    distributed ``binned_ntile`` ladder (round 10 — the per-customer
    frame grows with data, so no single-task ntile windows); every
    ordering ends in the customer key so boundaries are deterministic,
    and DESC recency rides the negated key."""
    orders = _t(spark, sf_dir, "orders")
    anchor = F.to_timestamp(F.lit("2001-09-01 00:00:00"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    ).withColumn("__neg_rec", -F.col("recency_days"))
    # classic scoring: quartile 4 = best on each axis (most recent, most
    # frequent, biggest spender) — hence the orderings below. The three
    # ntile ladders run as SIBLINGS over one externally cached frame
    # (chaining them would nest their internal caches three deep —
    # the CLAUDE.md nested-InMemoryRelation hazard) and join back on
    # the customer key.
    per_cust = cache.persist(per_cust)

    def tile(lead: str, out: str) -> DataFrame:
        return scale.binned_ntile(
            per_cust.select("o_custkey", lead), [lead, "o_custkey"], 4,
            out_col=out,
        ).select("o_custkey", out)

    scored = (
        per_cust
        .join(tile("__neg_rec", "r_score"), "o_custkey")
        .join(tile("frequency", "f_score"), "o_custkey")
        .join(tile("monetary", "m_score"), "o_custkey")
        .select(
            "o_custkey", "recency_days", "frequency", "monetary",
            "r_score", "f_score", "m_score",
        )
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", "r_score", "f_score", "m_score"),
    )


def q_top_entry_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's first three event types (by time,
    event_id tiebreak) as a path string, counted across users — the
    Sankey-diagram input. collect_list is made deterministic by sorting
    (ts, event_id, type) structs before slicing."""
    events = _t(spark, sf_dir, "events")
    paths = events.groupBy("user_id").agg(
        F.concat_ws(
            " > ",
            F.expr(
                "transform(slice(array_sort(collect_list(struct(ts, event_id, "
                "event_type))), 1, 3), x -> x.event_type)"
            ),
        ).alias("entry_path")
    )
    counted = paths.groupBy("entry_path").agg(F.count(F.lit(1)).alias("n_users"))
    return analytics.top_k(counted, 10, [F.desc("n_users"), F.asc("entry_path")])


def q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: volume and value by ISO weekday (Spark's
    0-Monday ``weekday()+1`` == DuckDB's ``isodow`` — date-part
    conventions differ per engine and must be normalized explicitly)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("iso_weekday")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.avg("value").cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("avg_value"),
    )


def q_event_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over events in ONE scan (Q-family
    extension): null keys, accepted event types, value range, and a
    JSON-shape regex on props — each check one conditional sum."""
    events = _t(spark, sf_dir, "events")
    return quality.expectations_report(
        events,
        [
            quality.expect_not_null("user_id", "event_type"),
            quality.expect_values_in(
                "event_type", ["view", "click", "purchase", "signup", "error"]
            ),
            quality.expect_between("value", 0.0, 10_000.0),
            quality.expect_matches("props", r"^\{.*\}$"),
        ],
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence analytics: the event-type transition matrix — for each
    (previous type -> type) pair per user timeline, occurrence count and
    mean gap seconds (lag window ordered by (ts, event_id) — the unique
    tiebreaker keeps the sequence, and therefore the matrix,
    deterministic)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        # gap in integer micros FIRST, one division after: timestamp->
        # double casts round micros differently per engine
        F.round(
            F.avg(
                (F.unix_micros("ts") - F.unix_micros("prev_ts")) / 1e6
            ).cast("decimal(18,6)"),
            2,
        )
        .cast("double")
        .alias("avg_gap_seconds"),
    )


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: most-similar part-name pairs by
    Levenshtein distance, blocked on (brand, size) so the comparison
    space is per-block quadratic instead of corpus-quadratic — the
    standard blocking pattern for fuzzy joins at scale."""
    part = _t(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = (
        a.join(b, ["brand", "size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("edit_distance"),
        )
    )
    return analytics.top_k(
        pairs, 15, [F.asc("edit_distance"), F.asc("key_a"), F.asc("key_b")]
    )


def q_revenue_share_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total report (ratio_to_report): each brand's revenue
    share. The share window runs over the already-aggregated per-brand
    frame — O(brands) rows, never the fact."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "p_brand",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("revenue_share"),
    )


def q_daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-monitoring shape: per-day event volume z-scored against
    the period mean/stddev, flagging |z| > 2 days. Mean and stddev snap
    through DECIMAL(18,6) before the z arithmetic so the flag boundary
    is engine-independent."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    stats = daily.agg(
        F.round(F.avg("n_events").cast("decimal(18,6)"), 6)
        .cast("double")
        .alias("__mean"),
        F.round(F.stddev_samp("n_events").cast("decimal(18,6)"), 6)
        .cast("double")
        .alias("__sd"),
    )
    z = F.round((F.col("n_events") - F.col("__mean")) / F.col("__sd"), 4)
    return daily.crossJoin(F.broadcast(stats)).select(
        "event_date",
        "n_events",
        z.alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: exact cumulative distinct users per day via
    first-seen dates — one groupBy on the user key, then a running sum
    over the tiny per-day frame (the scalable form of a cumulative
    COUNT(DISTINCT), which would otherwise need a set union per day)."""
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_date")
    )
    per_day = firsts.groupBy("first_date").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "first_date",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column — the
    storage/ANN-speed lever for a 100 TB vector corpus (4x smaller,
    SIMD-friendly). Per-vector scale = 127/max|x|; values mapped with
    explicit floor(x*s + 0.5) (round-half-up toward +inf — bit-exact
    across engines, unlike engine-native round ties). Pure JVM
    higher-order functions, no UDF.

    The q8 array is serialized with ``to_json`` into a string column:
    the driver's canonicalizer pandas-sorts the result and crashes on
    list cells (r2 ``unhashable type: 'list'``); the JSON text form
    (``[1,-3,...]`` — identical in Spark and DuckDB) is hashable and
    value-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.withColumn(
            "__s", F.expr("127.0D / array_max(transform(embedding, x -> abs(x)))")
        )
        .select(
            "vec_id",
            F.round(F.col("__s"), 6).alias("scale"),
            F.to_json(
                F.expr(
                    "transform(embedding, x -> cast(floor(x * __s + 0.5D) as int))"
                )
            ).alias("q8"),
        )
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design report: the top-20 corpus words by frequency
    with cumulative share of all token occurrences (Zipf coverage —
    what fraction of the stream a K-word vocabulary explains)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").cast("double").alias("__total"))
    # top-k FIRST (TakeOrderedAndProject — distributed heaps), THEN the
    # rank/cumulative window over the 20-row frame: the cumulative at
    # rank r only depends on rows <= r, so the result is identical to
    # windowing the full vocab (which grows ~N^0.5 and would collapse
    # into one task at corpus scale)
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("word")).limit(20)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("word"))
    ranked = top.select(
        F.row_number().over(w).alias("rank"),
        "word",
        "n_occurrences",
        F.sum("n_occurrences")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__cum"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "word",
        "n_occurrences",
        F.round(F.col("__cum") / F.col("__total"), 6).alias("cum_share"),
    )


def q_doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split for an LLM data
    pipeline: bucket = (id * Knuth-prime) mod 100 — pure integer
    arithmetic, so the assignment is reproducible across engines, runs,
    and repartitions (unlike sample()/rand(), which depend on partition
    layout). 80/10/10 by source."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full-partition frame:
    each user's first, latest, and second event type (deterministic
    ordering: ts then event_id)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        events.select(
            "user_id",
            F.first("event_type").over(full).alias("first_type"),
            F.last("event_type").over(full).alias("last_type"),
            F.nth_value("event_type", 2).over(full).alias("second_type"),
            F.row_number().over(w).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def q_priority_value_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolating percentile) per order priority —
    the distribution-report companion to value_percentiles. Median of
    2-decimal prices can land on .xx5 ties: DECIMAL(18,6) snap before
    round on both sides (CLAUDE.md convention)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.median("o_totalprice").cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("median_value"),
        F.round(F.min("o_totalprice"), 2).alias("min_value"),
        F.round(F.max("o_totalprice"), 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing + streaming tier (driver-contract bindings)
# ---------------------------------------------------------------------------


def _fake_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize binary assets from documents: payload = utf8 bytes of
    the text, duration derived from n_chars — deterministic, lets the
    multimodal metadata and frame-grid bindings run against driver
    testdata. The payloads are plain text, not media bytes; nothing
    decodes them, only their length and hash are read."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") * 10).alias("duration_ms"),
        F.lit("fake").alias("codec"),
    )


def q_scd2_customer_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 upsert batch over the customer dimension: every custkey
    divisible by 10 gets a balance change (old version closed, new one
    opened), plus one brand-new key inserted."""
    customer = _t(spark, sf_dir, "customer")
    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    t1 = F.to_timestamp(F.lit("2024-02-01 00:00:00"))
    cur = scd.scd2_init(
        customer.select("c_custkey", "c_name", "c_acctbal"), t0
    )
    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey", "c_name", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
        )
        .unionByName(
            spark.createDataFrame(
                [(9_000_001, "Brand New Customer", 42.0)],
                "c_custkey long, c_name string, c_acctbal double",
            )
        )
    )
    out = scd.scd2_apply(cur, updates, "c_custkey", ["c_name", "c_acctbal"], t1)
    return out.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"),
        "valid_from", "valid_to", "is_current",
    )


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column payload metadata: byte length and SHA-256 content
    hash, both Spark built-ins (no Python stage)."""
    return multimodal.asset_metadata(_fake_assets(spark, sf_dir))


def q_frame_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame offset,
    generated JVM-side with sequence+explode (no decode needed to plan)."""
    frames = multimodal.sample_frames(_fake_assets(spark, sf_dir), every_ms=5000)
    return frames.select("asset_id", "frame_ms")


def q_streaming_daily_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING fact build run to completion over the events table
    (file stream -> watermarked tumbling window -> memory sink).

    Append mode emits exactly the windows the final watermark closed:
    window_end <= max(ts) - 1 hour — a deterministic, SQL-expressible
    subset, so even the streaming path is oracle-checked.
    """
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        windowed_engagement,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    agg = windowed_engagement(
        stream,
        window_duration="1 day",
        watermark="1 hour",
        key_cols=("user_id",),
        play_filter=("event_type", "view"),
    )
    name = f"stream_daily_{tag}"
    run_to_memory_sink(agg, name)
    return spark.sql(
        f"SELECT date, user_id, play_count, total_watch_time_seconds, "
        f"avg_percent_watched FROM {name}"
    )


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern count: per user, the
    number of non-overlapping view→click→purchase runs in their
    event-time-ordered stream.

    Each user's stream becomes a character string (fixed type alphabet →
    one char per event, deterministic (ts, event_id) order), and the
    pattern count is the length-delta occurrence trick — identical
    semantics in any SQL engine. One shuffle on the user key; per-user
    state is the bounded per-entity event sequence (cap/segment upstream
    for mega-entities, same caveat as sessionization)."""
    events = _t(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    per_user = (
        events.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias("__s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("__s")).alias("__a"))
    )
    seq = F.concat_ws("", F.expr("transform(__a, x -> x.ch)"))
    hits = (
        (F.length(seq) - F.length(F.replace(seq, F.lit("VCP"), F.lit("")))) / 3
    ).cast("bigint")
    return per_user.select(
        "user_id",
        F.size("__a").cast("long").alias("n_events"),
        hits.alias("vcp_runs"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point monitor over the daily revenue series: the
    running sum of deviations from the series mean, flagged where
    |CUSUM| exceeds 2σ (population). A drifting day shifts every later
    CUSUM, so sustained level changes flag even when no single day is
    an outlier — the standard complement to per-day z-scores. The
    window runs over the tiny per-day aggregate, never raw events."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("date")).agg(
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("v")
    )
    # CUSUM in exact integer cents: Σ_t(v_i - mu) == (n·cum - t·total)/n,
    # so both engines divide IDENTICAL integers — the float-mean variant
    # differs in the last ulp and flips round ties (caught by the gate)
    cents = daily.withColumn(
        "__c", F.round(F.col("v") * 100).cast("long")
    )
    stats = cents.agg(
        F.sum("__c").alias("__total_c"),
        F.count(F.lit(1)).alias("__n"),
        F.stddev_pop("v").alias("__sigma"),
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    with_stats = cents.crossJoin(F.broadcast(stats))
    num = F.col("__n") * F.sum("__c").over(w) - F.row_number().over(
        Window.orderBy("date")
    ) * F.col("__total_c")
    cusum = num / (F.col("__n") * F.lit(100.0))
    return with_stats.select(
        "date",
        "v",
        (F.round(cusum, 2) + F.lit(0.0)).alias("cusum"),
        (F.abs(cusum) > 2 * F.col("__sigma")).alias("is_shift"),
    )


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration metrics: the Gini coefficient of customer
    revenue (``2Σi·cᵢ/(n·T) − (n+1)/n`` over rank-sorted values) and the
    Herfindahl-Hirschman index of brand revenue (``Σ shareᵢ²``) — one
    row each. Both built from exact integer cents so the only float ops
    are final divisions of identical integers (engine-identical); rank
    ties between equal values leave Σi·cᵢ invariant, so no tiebreak
    subtleties."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    cents = per_cust.select(
        "o_custkey", F.round(F.col("rev") * 100).cast("long").alias("__c")
    )
    # distributed rank ladder (round 10): no single-task sort of the
    # per-customer frame, and the rank-weighted sum accumulates in
    # DECIMAL(38,0) — i*c is ~1e15 per term at ~1e9 customers, so a
    # long sum wraps (the DuckDB side already widens to HUGEINT)
    ranked = scale.binned_row_number(
        cents, ["__c", "o_custkey"], out_col="__i"
    )
    gini_row = ranked.agg(
        F.sum(F.col("__i").cast("decimal(38,0)") * F.col("__c"))
        .cast("decimal(38,0)")
        .alias("__s"),
        F.sum("__c").alias("__t"),
        F.count(F.lit(1)).alias("__n"),
    ).select(
        F.lit("gini_customer_revenue").alias("metric"),
        F.round(
            F.lit(2.0) * F.col("__s").cast("double")
            / (F.col("__n") * F.col("__t").cast("double"))
            - (F.col("__n") + 1) / F.col("__n").cast("double"),
            6,
        ).alias("value"),
    )

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    per_brand = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
        .select(F.round(F.col("rev") * 100).cast("long").alias("__c"))
    )
    # Σc² overflows BIGINT beyond small SFs; shares are exact rationals
    # (identical in both engines) and their squares sum in double with
    # ~1e-18 ordering noise — far under the 6-decimal rounding
    brand_tot = per_brand.agg(F.sum("__c").alias("__t"))
    hhi_row = (
        per_brand.crossJoin(F.broadcast(brand_tot))
        .select(
            (F.col("__c") / F.col("__t").cast("double")).alias("__share")
        )
        .agg(
            F.round(F.sum(F.col("__share") * F.col("__share")), 6).alias(
                "value"
            )
        )
        .select(F.lit("hhi_brand_revenue").alias("metric"), "value")
    )
    return gini_row.unionByName(hhi_row)


def q_rolling_view_purchase_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between daily view and
    purchase counts — the windowed-`corr` aggregate over the per-day
    frame (30 rows), answering "do purchase days track attention days
    this week?". Emitted only once the frame is full (7 rows) so
    near-constant short frames can't blow up the denominator; rounded 4
    with the −0.0 normalization per the stats-output convention."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("date")).agg(
        F.count_if(F.col("event_type") == "view").cast("double").alias("views"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("double")
        .alias("purchases"),
    )
    w = Window.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date",
        F.col("views").cast("long").alias("views"),
        F.col("purchases").cast("long").alias("purchases"),
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.round(F.corr("views", "purchases").over(w), 4) + F.lit(0.0),
        ).alias("corr_7d"),
    )


def q_value_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order-year value
    distributions (the model-monitoring drift score): fixed-width bins
    via explicit arithmetic (``least(floor(x/width)+1, nbins)`` —
    DuckDB has no width_bucket, and the arithmetic form is engine-exact
    anyway), add-one smoothing so empty bins stay finite, per-bin
    contribution ``(p−q)·ln(p/q)`` plus the PSI total on every row.
    The smoothed ratios are identical rationals, so only the final
    ln/multiply is float (rounded 6)."""
    orders = _t(spark, sf_dir, "orders")
    width, nbins = 60_000.0, 10
    binned = orders.filter(
        F.year("o_orderdate").isin(1995, 1996)
    ).select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(width)) + 1, F.lit(nbins)
        )
        .cast("long")
        .alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.count_if(F.col("yr") == 1995).alias("__c95"),
        F.count_if(F.col("yr") == 1996).alias("__c96"),
    )
    totals = counts.agg(
        (F.sum("__c95") + nbins).cast("double").alias("__t95"),
        (F.sum("__c96") + nbins).cast("double").alias("__t96"),
    )
    p = (F.col("__c95") + 1) / F.col("__t95")
    q = (F.col("__c96") + 1) / F.col("__t96")
    contrib = (p - q) * F.log(p / q)
    per_bin = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("__c95").alias("n_1995"),
            F.col("__c96").alias("n_1996"),
            (F.round(contrib, 6) + F.lit(0.0)).alias("psi_contribution"),
            contrib.alias("__raw"),
        )
    )
    w = Window.partitionBy()
    return per_bin.select(
        "bin",
        "n_1995",
        "n_1996",
        "psi_contribution",
        (F.round(F.sum("__raw").over(w), 6) + F.lit(0.0)).alias("psi_total"),
    )


def q_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days via Median Absolute Deviation: robust-z =
    0.6745·(v − median) / MAD, flagged beyond 3.5 (the Iglewicz-Hoaglin
    convention). Unlike mean/stddev z-scores, one extreme day can't
    inflate the spread and mask itself. Medians interpolate identically
    in both engines (mean of the two middles) on round(2) inputs, so no
    extra snapping is needed; both windows run over the 30-row daily
    aggregate."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("date")).agg(
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("v")
    )
    med = daily.agg(F.median("v").alias("__med"))
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.median(F.abs(F.col("v") - F.col("__med"))).alias("__mad")
    )
    rz = (
        F.lit(0.6745)
        * (F.col("v") - F.col("__med"))
        / F.col("__mad")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "date",
            "v",
            (F.round(rz, 4) + F.lit(0.0)).alias("robust_z"),
            (F.abs(rz) > 3.5).alias("is_outlier"),
        )
    )


def q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's order revenue as a
    share of its region's total — one windowed sum partitioned by the
    parent level over the (tiny) per-nation aggregate; the raw fact
    aggregates once."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_nation = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias(
            "share_of_region"
        ),
    )


def q_abc_customer_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC analysis: customers ranked by revenue, classified by
    cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest). Class
    boundaries are exact integer-cent comparisons
    (``cum_cents·100 ≤ total_cents·80``) — float cumulative shares sit
    arbitrarily close to the 0.8/0.95 cuts and flip per engine. The
    ranking window runs over the per-customer aggregate (|customers|
    rows), not raw orders."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    cents = per_cust.withColumn(
        "__c", F.round(F.col("revenue") * 100).cast("long")
    )
    total = cents.agg(F.sum("__c").alias("__total_c"))
    # distributed cumulative ladder (round 10): DESC revenue order ==
    # ASC on the negated key; no single-task window over the
    # per-customer frame
    ranked = scale.binned_running_sum(
        cents.withColumn("__negc", -F.col("__c")),
        ["__negc", "o_custkey"],
        "__c",
        out_col="__cum_c",
    ).crossJoin(F.broadcast(total))
    cls = (
        F.when(F.col("__cum_c") * 100 <= F.col("__total_c") * 80, "A")
        .when(F.col("__cum_c") * 100 <= F.col("__total_c") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("class_revenue"),
        )
    )


def q_event_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection (gaps-and-islands on the id axis): missing
    ``event_id`` ranges found with one lead() window over the sorted
    distinct ids — an ingestion-completeness audit (dropped-batch
    detector). The window runs over ids only (8 bytes/row); at scale,
    range-partition the id axis and check seams per partition.

    The testdata id axis is dense, so the binding drops ids divisible
    by 997 first (a deterministic synthetic outage, mirrored in the
    oracle) — the detector then has real gaps to find.  Round 10: the
    lead runs through ``scale.binned_id_gaps`` — within-bucket leads
    PARTITIONED by range bucket plus a seam check on the bucket
    spine — because the distinct-id frame grows with the fact and a
    global lead window would collapse it into one task."""
    events = _t(spark, sf_dir, "events")
    ids = (
        events.select("event_id")
        .filter(F.col("event_id") % 997 != 0)
        .distinct()
    )
    return scale.binned_id_gaps(ids, "event_id")


def q_safe_arithmetic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic surface (§2.8): ``try_divide`` /
    ``try_add`` / ``try_cast`` return NULL instead of raising under
    Spark 4's default ANSI mode. Unit margin per line item
    (revenue / quantity) with zero-discount…zero-quantity edge rows
    surfaced as counted NULLs, not job-killing exceptions."""
    li = _t(spark, sf_dir, "lineitem")
    unit_margin = F.try_divide(
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
        F.col("l_quantity") - F.lit(1.0),  # engineered zero at qty=1
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(unit_margin.isNull()).alias("n_undefined"),
        F.round(F.sum(F.coalesce(unit_margin, F.lit(0.0))), 2).alias(
            "total_defined_margin"
        ),
    )


def q_lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL surface): per nation, the top-2
    customers by account balance — the per-row-subquery idiom Catalyst
    decorrelates into a ranked window join, so the plan is one shuffle,
    not |nations| subquery executions."""
    configure_runtime(spark)
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_lv")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name, t.acctbal
        FROM nation_lv n,
        LATERAL (
          SELECT c_name, round(c_acctbal, 2) AS acctbal
          FROM customer_lv c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC
          LIMIT 2
        ) t
        """
    )


def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT ingestion of the semi-structured props payload:
    ``parse_json`` once into a variant column (binary-encoded,
    shreddable — the open-format answer to schema-on-read JSON string
    re-parsing), then ``variant_get`` typed path extraction feeding an
    aggregate. Same result contract as ``json_props_extract`` but the
    extraction cost is one parse + binary path reads instead of a JSON
    text parse per path at 100 TB."""
    events = _t(spark, sf_dir, "events")
    v = events.withColumn("__v", F.parse_json(F.col("props")))
    return (
        v.withColumn("k", F.try_variant_get(F.col("__v"), "$.k", "bigint"))
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "total_value"
            ),
        )
    )


def q_yearly_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit set operations (§2.7 beyond union): customers ordering
    in 1995 INTERSECT 1996 (retained), 1995 EXCEPT 1996 (churned), and
    1996 EXCEPT 1995 (new) — one row per bucket. ``intersect``/
    ``exceptAll``-style ops plan as aggregate/joins over the distinct
    key sets, never materializing row sets driver-side."""
    orders = _t(spark, sf_dir, "orders")

    def year_set(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = year_set(1995), year_set(1996)
    buckets = [
        ("retained", y95.intersect(y96)),
        ("churned", y95.exceptAll(y96)),
        ("new", y96.exceptAll(y95)),
    ]
    out = None
    for name, s in buckets:
        row = s.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(name).alias("bucket"), "n_customers"
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_trimmed_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of order value per priority via a GROUPED_AGG
    pandas UDAF (Series -> scalar, Arrow-batched) — the robust-mean
    aggregate Spark lacks natively, next to the plain mean for contrast.

    Trimming is by VALUE order, so boundary ties are mean-neutral
    (every trim choice among equal values yields the same mean) — the
    result is deterministic and oracle-comparable without a tiebreak
    column. The UDAF sees one priority's values per call; at scale
    group cardinality (5) bounds driver-side result size and each
    group's values stream through Arrow batches."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` turns
    # type hints into strings, which the hint-based form can't resolve
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        s = v.sort_values().to_numpy()
        k = int(len(s) * 0.1)
        core = s[k : len(s) - k] if len(s) > 2 * k else s
        return float(core.mean())

    orders = _t(spark, sf_dir, "orders")
    # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg:
    # run the two aggregations separately and join the 5-row results
    trimmed = orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean(F.col("o_totalprice")), 2).alias("trimmed_mean")
    )
    plain = orders.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 2).alias("plain_mean"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return trimmed.join(plain, "o_orderpriority")


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): pair
    counts per nullable source key, where the NULL bucket pairs rows
    whose key is null on BOTH sides — the semantics a plain equi-join
    silently drops. Key nulled the same way as ``pk_repair`` (src0 →
    NULL) so the null population is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.when(F.col("source") == "src0", F.lit(None))
        .otherwise(F.col("source"))
        .alias("skey"),
    )
    a = keyed.select(F.col("doc_id").alias("id_a"), F.col("skey").alias("ka"))
    b = keyed.select(F.col("doc_id").alias("id_b"), F.col("skey").alias("kb"))
    pairs = a.join(
        b, F.col("ka").eqNullSafe(F.col("kb")) & (F.col("id_a") < F.col("id_b"))
    )
    return pairs.groupBy(
        F.coalesce(F.col("ka"), F.lit("(null)")).alias("source_key")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def q_daily_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of daily revenue vs day index per event type —
    the ``regr_slope/intercept/r2/count`` aggregate family (closed-form
    normal equations, one partial-agg pass; no iterative fitting).
    Day index is an exact integer (datediff from the series start), so
    both engines regress on identical inputs; outputs round to 4
    decimals with the +0.0 negative-zero normalization."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("date")
    ).agg(F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("v"))
    start = daily.agg(F.min("date").alias("__d0"))
    with_x = daily.crossJoin(F.broadcast(start)).withColumn(
        "x", F.datediff(F.col("date"), F.col("__d0")).cast("double")
    )
    return with_x.groupBy("event_type").agg(
        (F.round(F.regr_slope(F.col("v"), F.col("x")), 4) + F.lit(0.0)).alias(
            "slope"
        ),
        (
            F.round(F.regr_intercept(F.col("v"), F.col("x")), 4) + F.lit(0.0)
        ).alias("intercept"),
        (F.round(F.regr_r2(F.col("v"), F.col("x")), 4) + F.lit(0.0)).alias(
            "r2"
        ),
        F.regr_count(F.col("v"), F.col("x")).alias("n_days"),
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 flavor: for every SMALL part of size <= 15, the EUROPE
    supplier with the cheapest observed unit price (min extendedprice /
    quantity over that supplier's lineitems).  The classic correlated
    MIN subquery decorrelates into one grouped aggregate + a window
    rank (unit_cost, s_suppkey tiebreak) — one fact shuffle, dims all
    broadcast.  Ranking compares RAW doubles (both engines evaluate the
    identical division/min), rounding only the output columns."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part_f = part.filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_name")
    eu_supp = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(
            region.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        lineitem.join(F.broadcast(part_f), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("__cost")
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("__cost", "s_suppkey")
    best = (
        costs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("__cost", 2).alias("unit_cost"),
        )
    )
    return analytics.top_k(
        best, 100, [F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
                    F.asc("p_partkey")]
    )


def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 flavor: per supplier nation, the parts whose shipped
    value exceeds 0.5% of the nation's total — the scalar-subquery
    HAVING decorrelated into a window sum over the grouped frame.
    Value is summed in EXACT integer cents (floor(x*100+0.5), CLAUDE.md
    half-up rule) so the share comparison `part_cents * 200 >
    nation_cents` divides identical integers in both engines — no
    float-boundary rows."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    supp_n = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    pv = (
        lineitem.join(F.broadcast(supp_n), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(cents).alias("__part_cents"))
    )
    w = Window.partitionBy("n_name")
    return (
        pv.withColumn("__nation_cents", F.sum("__part_cents").over(w))
        .filter(F.col("__part_cents") * 200 > F.col("__nation_cents"))
        .select(
            "n_name",
            "l_partkey",
            F.round(F.col("__part_cents") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("n_name"), F.asc("l_partkey"))
    )


def q_ship_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 flavor: lines bucketed by order→ship latency class
    (<=30d FAST, <=90d MEDIUM, else SLOW; the testdata has no shipmode
    column), counting critical-priority vs other lines per class — the
    dual conditional-count shape.  Day arithmetic via datediff
    (integer, engine-portable)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lat = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .select(
            F.when(lat <= 30, "FAST")
            .when(lat <= 90, "MEDIUM")
            .otherwise("SLOW")
            .alias("latency_class"),
            high.cast("long").alias("__high"),
        )
        .groupBy("latency_class")
        .agg(
            F.sum("__high").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("__high")).alias("low_line_count"),
        )
        .orderBy("latency_class")
    )


def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 flavor: distinct suppliers per (brand, type, size)
    observed shipping each part (the testdata has no partsupp table, so
    the pair set comes from lineitem), excluding negative-balance
    suppliers via NOT IN (the Q16 complaint-supplier exclusion shape).
    Two-level distinct: pair dedup, then count_distinct per group."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(bad),
            lineitem.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
    )
    part_f = part.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 15, 23, 31, 37, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(F.broadcast(part_f), pairs.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


def q_excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor: suppliers who shipped MORE than a quarter of a
    red part's 1996 volume (supp_qty * 4 > part_qty) for at least one
    such part — the nested semi-join chain (part name filter → grouped
    qty → threshold → DISTINCT supplier probe).  Quantities are
    integer-valued: summed as BIGINT so the 4× threshold compares exact
    integers in both engines."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    # range predicate, not year(): pushes to the parquet scan as a
    # min/max-prunable filter (year() would evaluate post-scan)
    sq = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), lineitem.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("__supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        sq.withColumn("__part_qty", F.sum("__supp_qty").over(w))
        .filter(F.col("__supp_qty") * 4 > F.col("__part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        excess.join(
            F.broadcast(supplier), excess.l_suppkey == supplier.s_suppkey
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"), "n_name")
        .orderBy("s_name")
    )


def q_clamped_quarterly_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance — each quarter a fixed inflow lands and
    that quarter's order spend drains, with the balance floored at zero
    (overdraft forgiven).  The floor-at-zero makes this inherently
    sequential: no window frame expresses it.  All arithmetic in exact
    integer cents, so both engines fold over identical integers.

    Optimization (r13): the sequential fold runs as ONE ``aggregate``
    HOF over the ``array_sort``-collected quarter spine instead of a
    Spark 4 recursive CTE — the recursion scheduled a ~0.3 s mini-job
    PER LEVEL (141 jobs, ~2.6 s of pure DAGScheduler constant at 27
    quarters; guide §1.2 "remove unnecessary passes"), while the fold
    is a single job over the same ≤~30-row aggregate.  Same recurrence
    ``bal_k = greatest(0, bal_{k-1} + inflow − spend_k)`` on the same
    BIGINT cents, so the output is bit-identical (oracle keeps the
    recursive-CTE formulation and hash-matches).  The quarter spine is
    domain-bounded, so the single-row collect_list state is ≤~30
    structs no matter the SF."""
    configure_runtime(spark)
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.date_trunc("QUARTER", "o_orderdate").cast("date").alias("quarter"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("__cents"),
        )
        .groupBy("quarter")
        .agg(F.sum("__cents").alias("spend_cents"))
    )
    inflow = 14_100_000_000  # cents; ~avg quarterly spend so the clamp bites
    spine = monthly.agg(
        F.array_sort(
            F.collect_list(F.struct("quarter", "spend_cents"))
        ).alias("__qs")
    )
    # left fold: append struct(quarter, spend, clamped balance); the
    # previous balance reads via get(acc, size-1) — NULL (not an ANSI
    # error) on the first element, coalesced to the 0 opening balance
    def _step(acc, x):
        prev = F.coalesce(
            F.get(acc, F.size(acc) - F.lit(1))["balance_cents"],
            F.lit(0).cast("long"),
        )
        bal = F.greatest(
            F.lit(0).cast("long"),
            prev + F.lit(inflow) - x["spend_cents"],
        ).cast("long")
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["quarter"].alias("quarter"),
                    x["spend_cents"].alias("spend_cents"),
                    bal.alias("balance_cents"),
                )
            ),
        )

    zero = F.expr(
        "CAST(array() AS"
        " array<struct<quarter:date,spend_cents:bigint,balance_cents:bigint>>)"
    )
    folded = spine.select(
        F.explode(F.aggregate("__qs", zero, _step)).alias("__r")
    )
    return folded.select(
        F.col("__r.quarter").alias("quarter"),
        F.round(F.col("__r.spend_cents") / F.lit(100.0), 2).alias("spend"),
        F.round(F.col("__r.balance_cents") / F.lit(100.0), 2).alias("balance"),
    ).orderBy("quarter")


def q_priority_status_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg / string_agg surface (Spark 4 WITHIN GROUP): the ordered
    distinct status CSV per order priority — deterministic because the
    element order is pinned by WITHIN GROUP (ORDER BY)."""
    configure_runtime(spark)
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_la")
    return spark.sql("""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
        FROM __orders_la
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


def q_daily_unique_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per day via Spark's bitmap aggregates:
    group by (day, bitmap bucket) -> bitmap_construct_agg, then OR-merge
    buckets and sum bitmap_count.  This is the mergeable exact-distinct
    pattern — partial bitmaps combine map-side and across incremental
    refreshes, unlike count(DISTINCT) which must reshuffle raw ids; at
    100 TB the per-(day,bucket) state is bounded (4 KiB per bucket).
    Oracle: plain count(DISTINCT) — the bitmap path must agree exactly."""
    events = _t(spark, sf_dir, "events")
    per_bucket = (
        events.select(
            F.col("ts").cast("date").alias("day"),
            F.col("user_id"),
        )
        .groupBy(
            "day", F.expr("bitmap_bucket_number(user_id)").alias("__bucket")
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "__bm"
            )
        )
    )
    return (
        per_bucket.groupBy("day")
        .agg(F.sum(F.expr("bitmap_count(__bm)")).cast("long").alias("n_users"))
        .orderBy("day")
    )


def q_value_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc (discrete, WITHIN GROUP): per event type, the
    smallest observed value at cumulative distribution >= p — an actual
    element of the set, no interpolation, so the double is bit-identical
    in both engines (rounded only for display)."""
    events = _t(spark, sf_dir, "events")
    events.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    ).createOrReplaceTempView("__events_pd")
    return spark.sql("""
        SELECT event_type,
               count(*) AS n_values,
               round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value), 4)
                 AS p25,
               round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 4)
                 AS p50,
               round(percentile_disc(0.75) WITHIN GROUP (ORDER BY value), 4)
                 AS p75
        FROM __events_pd
        GROUP BY event_type ORDER BY event_type
    """)


def q_incremental_kpi_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold refresh via exact mergeable state
    (operators/mergeable.py): history batch + tail batch are aggregated
    INDEPENDENTLY into (day, bucket) state rows — additive counts/cents
    plus OR-mergeable user bitmaps — then merged and collapsed to the
    daily KPI report without ever rescanning combined raw data.  The
    oracle is straight SQL over the full table: the incremental path
    must agree exactly, including the distinct-user count."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.operators import mergeable

    events = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    hist = mergeable.daily_state(events.filter(F.col("ts") < cutoff))
    tail = mergeable.daily_state(events.filter(F.col("ts") >= cutoff))
    return mergeable.state_report(mergeable.merge_states(hist, tail))


def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution (nats) —
    the behavioral-diversity score (0 = single-minded, ln(4) = uniform
    over the four types).  Probabilities are exact integer-count ratios
    so both engines evaluate identical doubles; one two-level
    aggregate."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_tot = Window.partitionBy("user_id")
    p = F.col("n") / F.sum("n").over(w_tot)
    return (
        counts.select("user_id", (-p * F.log(p)).alias("__h"),
                      F.col("n").alias("__n"))
        .groupBy("user_id")
        .agg(
            (F.round(F.sum("__h"), 4) + F.lit(0.0)).alias("entropy_nats"),
            F.sum("__n").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_user_event_histogram_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed surface: per user, an event_type -> count histogram as
    a MapType column, serialized to JSON with key-sorted entry order
    (map_from_entries preserves the sorted input array's order, so the
    JSON string is deterministic and the DuckDB oracle can mirror it
    with an ORDER BY string_agg).  Arrays/maps must reach the driver's
    canonicalizer as strings (CLAUDE.md)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    hist = F.to_json(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("event_type", F.col("n")))
            )
        )
    )
    return (
        counts.groupBy("user_id")
        .agg(
            hist.alias("histogram"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, the longest run of CONSECUTIVE
    active days — the classic engagement-streak pattern.  distinct
    (user, day) -> row_number per user -> island key = day minus rn
    days (constant within a consecutive run) -> per-island lengths.
    Integer date arithmetic only; deterministic."""
    events = _t(spark, sf_dir, "events")
    days = (
        events.select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "__grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    per_island = islands.groupBy("user_id", "__grp").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return per_island.groupBy("user_id").agg(
        F.sum("__len").cast("long").alias("n_active_days"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: per label, the cosine similarity and L2
    distance between the centroids of two cohorts (vec_id parity stands
    in for before/after snapshots).  One explode + one (label, dim)
    aggregate with conditional means — the MLOps check that a refreshed
    embedding model or corpus shift hasn't moved class geometry.
    Cosine rounded to 4 (CLAUDE.md); avg inputs are float32 upcast to
    double identically in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("__a"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select("label", "__a", "dim", F.col("v").cast("double").alias("v"))
    per_dim = exploded.groupBy("label", "dim").agg(
        F.avg(F.when(F.col("__a"), F.col("v"))).alias("ca"),
        F.avg(F.when(~F.col("__a"), F.col("v"))).alias("cb"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            (
                F.round(
                    F.sum(F.col("ca") * F.col("cb"))
                    / (
                        F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                        * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("cosine_sim"),
            (
                F.round(
                    F.sqrt(F.sum(F.pow(F.col("ca") - F.col("cb"), 2))), 4
                )
                + F.lit(0.0)
            ).alias("l2_dist"),
        )
        .orderBy("label")
    )


def q_pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus: top-8 eigenvalues of
    the sample covariance with explained-variance ratios (the intrinsic-
    dimensionality diagnostic an embedding pipeline runs before choosing
    an index or a compression width).

    The covariance comes from ONE Arrow-batched pass that reduces each
    partition to d²+d+1 floats (``linalg.sufficient_stats``); only the
    64×64 eigenproblem runs on the driver. Not SQL-expressible (no
    eigendecomposition in DuckDB) — rows-only for the driver; exact
    agreement with numpy on the same rows is pinned in
    ``tests/test_linalg.py``."""
    emb = _t(spark, sf_dir, "embeddings")
    vals, ratios, _ = linalg.pca(emb, "embedding", 64, k=8)
    cum = 0.0
    rows = []
    for i, (v, r) in enumerate(zip(vals, ratios), start=1):
        cum += float(r)
        rows.append((i, round(float(v), 6), round(float(r), 6), round(cum, 6)))
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, variance_ratio double, "
        "cumulative_ratio double",
    )


def q_event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain view of user behavior: the stationary distribution
    of the event-type transition chain (long-run share of time a user
    spends in each state). The transition COUNTING pass is distributed
    (lag window + groupBy, same shape as ``event_transitions``); the
    k×k matrix (k = event-type domain, single digits by contract) is
    power-iterated on the driver. Rows-only for the driver (eigenvector
    extraction isn't SQL); the fixed-point property (piP == pi) and
    agreement with the dominant left eigenvector are pinned in
    ``tests/test_linalg.py``."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    states, probs = linalg.transition_matrix(pairs, "prev_type", "next_type", "n")
    pi = linalg.stationary_distribution(probs)
    rows = [(s, round(float(p), 6)) for s, p in zip(states, pi)]
    return spark.createDataFrame(
        rows, "event_type string, stationary_prob double"
    ).orderBy("event_type")


def q_measure_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount, tax) in long form — the feature-
    redundancy screen run before any modeling work. All 6 pairs come
    from ONE aggregate over one scan (map-side partials; no per-pair
    passes); ``stack`` unpivots the 1-row result. Sample correlation on
    both engines; round 6 + 0.0 normalizes IEEE negative zero
    (CLAUDE.md)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    wide = li.agg(
        *[
            (F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(f"__{a}__{b}")
            for a, b in pairs
        ]
    )
    stack_args = ", ".join(f"'{a}', '{b}', `__{a}__{b}`" for a, b in pairs)
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, corr_value)"
    ).orderBy("col_x", "col_y")


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: probe the SCD2 customer dimension
    (same batch as ``scd2_customer_batch``) AS OF two dates — one before
    and one after the balance-change batch — returning the version valid
    at each probe instant. The lookup is an EQUI-join on the business
    key plus an interval filter (versions per key are bounded), the
    scalable form of a validity-range join."""
    customer = _t(spark, sf_dir, "customer")
    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    t1 = F.to_timestamp(F.lit("2024-02-01 00:00:00"))
    cur = scd.scd2_init(customer.select("c_custkey", "c_acctbal"), t0)
    updates = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    )
    dim = scd.scd2_apply(cur, updates, "c_custkey", ["c_acctbal"], t1)
    probes = customer.select("c_custkey").crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("2024-01-15",), ("2024-02-15",)], "as_of_str string"
            ).select(F.to_timestamp("as_of_str").alias("as_of"))
        )
    )
    return (
        probes.join(dim, "c_custkey")
        .filter(
            (F.col("valid_from") <= F.col("as_of"))
            & (F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to")))
        )
        .select(
            "c_custkey",
            F.to_date("as_of").alias("as_of"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
    )


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: every purchase's value is
    credited to the user's FIRST event type ever (first-touch) and to
    the last NON-purchase event type strictly before it (last-touch,
    IGNORE NULLS window). One window pass over the user timeline with
    the (ts, event_id) tiebreaker keeping credit assignment
    deterministic."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = events.select(
        "event_type",
        "value",
        F.first("event_type").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("first_touch"),
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(before),
            F.lit("none"),
        ).alias("last_touch"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias(
                "attributed_value"
            ),
        )
        .orderBy("first_touch", "last_touch")
    )


def q_winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics report: order totals winsorized at the exact
    p05/p95 quantiles (type-7 linear interpolation on both engines),
    then mean/stddev of the clamped column plus clamp counts. The
    thresholds are rounded to 6 decimals BEFORE any comparison
    (CLAUDE.md threshold rule) so boundary rows can't flip between
    engines; clamp counts use the same rounded bounds."""
    orders = _t(spark, sf_dir, "orders")
    th = orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.05D)"), 6).alias("__lo"),
        F.round(F.expr("percentile(o_totalprice, 0.95D)"), 6).alias("__hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("__lo")), F.col("__hi"))
    return (
        orders.crossJoin(F.broadcast(th))
        .agg(
            F.round(F.first("__lo"), 2).alias("p05"),
            F.round(F.first("__hi"), 2).alias("p95"),
            F.round(F.avg(clamped).cast("decimal(18,6)"), 2)
            .cast("double")
            .alias("winsorized_mean"),
            (
                F.round(F.stddev_samp(clamped).cast("decimal(18,6)"), 2).cast(
                    "double"
                )
                + F.lit(0.0)
            ).alias("winsorized_std"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("__lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clamped_low"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("__hi"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clamped_high"),
        )
    )


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 token pairs by pointwise mutual
    information — PMI = ln(n_pair·N / (df_a·df_b)) over document-level
    co-occurrence. The pair explosion is bounded twice: a min_df floor
    kills rare-word noise, and the per-document basket cap (64 smallest
    kept words, deterministic multiset truncation — mirrored in the
    oracle with a QUALIFY row_number) bounds any one document's pair
    contribution at C(64, 2) no matter how wide the document is. Pair
    generation reuses the grouped single-scan strategy from
    ``analytics.cooccurrence_pairs``. Deterministic (pmi desc, word_a,
    word_b) ordering; ln of identical integer ratios rounds safely at 4
    decimals."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    # per-doc dedup rides INSIDE the row (r13): doc_id is unique, so
    # array_distinct before the explode is row-identical to the old
    # explode->distinct but removes the (doc_id, word) distinct
    # exchange entirely (the doc_novelty precedent)
    doc_word = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("word"),
    ).filter(F.col("word") != "")
    df_counts = doc_word.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    kept = doc_word.join(
        F.broadcast(df_counts.filter(F.col("df") >= 5)), "word"
    )
    pairs = analytics.cooccurrence_pairs(
        kept.select("doc_id", "word"), "doc_id", "word", max_basket_size=64
    ).withColumnRenamed("item_a", "word_a").withColumnRenamed("item_b", "word_b")
    dfa = df_counts.select(
        F.col("word").alias("word_a"), F.col("df").alias("__dfa")
    )
    dfb = df_counts.select(
        F.col("word").alias("word_b"), F.col("df").alias("__dfb")
    )
    scored = (
        pairs.filter(F.col("pair_count") >= 5)
        .join(F.broadcast(dfa), "word_a")
        .join(F.broadcast(dfb), "word_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            F.col("pair_count").alias("n_pair"),
            F.round(
                F.log(
                    F.col("pair_count").cast("double")
                    * F.col("__n")
                    / (F.col("__dfa") * F.col("__dfb")).cast("double")
                ),
                4,
            ).alias("pmi"),
        )
    )
    return analytics.top_k(
        scored, 20, [F.desc("pmi"), F.asc("word_a"), F.asc("word_b")]
    )


def q_top_nations_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI staple: per region, order revenue by nation keeping the top-3
    nations and rolling everything else into an ``OTHER`` bucket. The
    rank window runs over the already-aggregated (region, nation) frame
    — O(nations) rows, never the fact table — and ties break on the
    nation name so the bucket membership is deterministic."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_nation = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("__rev"))
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("__rev"), F.asc("n_name"))
    bucketed = per_nation.withColumn(
        "nation_bucket",
        F.when(F.row_number().over(w) <= 3, F.col("n_name")).otherwise(
            F.lit("OTHER")
        ),
    )
    return (
        bucketed.groupBy(F.col("r_name").alias("region"), "nation_bucket")
        .agg(
            F.round(F.sum("__rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("region", "nation_bucket")
    )


def q_purchase_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: each
    user's duration runs from their first event to their first purchase
    (event) or last observed event (right-censored). S(t) is the
    product-limit estimator computed as exp(cumsum(ln(1 - d_i/n_i))) —
    a window over the per-day risk table (O(distinct days) rows), with
    every ratio built from exact integers so both engines take ln of
    identical doubles. Durations are whole-day datediffs (integer on
    both engines)."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__first"),
        F.max(F.to_date("ts")).alias("__last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("__purchase"),
    )
    durations = per_user.select(
        F.coalesce(
            F.datediff("__purchase", "__first"), F.datediff("__last", "__first")
        ).alias("t"),
        F.col("__purchase").isNotNull().alias("observed"),
    )
    risk = durations.groupBy("t").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("__exits"),
    )
    w_after = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    w_upto = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_n = risk.withColumn("n_at_risk", F.sum("__exits").over(w_after))
    term = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.log(
            (F.col("n_at_risk") - F.col("d")).cast("double")
            / F.col("n_at_risk").cast("double")
        ),
    ).otherwise(F.lit(None).cast("double"))
    return (
        with_n.filter(F.col("d") > 0)
        .withColumn("__ln", term)
        .select(
            "t",
            "d",
            "n_at_risk",
            F.when(
                F.max(F.col("__ln").isNull().cast("int")).over(w_upto) == 1,
                F.lit(0.0),
            )
            .otherwise(F.round(F.exp(F.sum("__ln").over(w_upto)), 6))
            .alias("survival"),
        )
        .orderBy("t")
    )


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation surface: users split into variants by the parity
    of their id (deterministic hash-bucket assignment), conversion =
    first purchase within 3 days of the user's first event (exact
    timestamp-interval comparison — "ever purchased" saturates to 100%
    on this data, degenerating the pooled standard error to zero);
    two-proportion z-test on the pooled SE. Every input to the z
    statistic is an exact integer count, so both engines evaluate
    identical double arithmetic; the significance flag compares against
    1.96 on the 4-decimal-rounded z (CLAUDE.md threshold rule)."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.when(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            <= F.min("ts") + F.expr("INTERVAL 3 DAY"),
            1,
        )
        .otherwise(0)
        .alias("__conv")
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("__conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("__conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.round((pb - pa) / se, 4) + F.lit(0.0)
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        z.alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def q_mann_whitney_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric two-sample test: Mann-Whitney U comparing order
    values between urgent-priority and other orders. Instead of ranking
    rows (a global sort of the fact), the U statistic is assembled from
    the per-distinct-value group counts — U1 = Σ_v na_v·(cumb_<v +
    nb_v/2) — so the window runs over the aggregated value frame, and
    every term is an exact integer or half-integer (deterministic
    sums in double, ties handled by the midrank convention). The
    normal approximation uses the tie-corrected variance; z rounds at
    4 decimals before output (no continuity correction — mirrored
    exactly in the oracle)."""
    orders = _t(spark, sf_dir, "orders")
    is_a = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    per_val = orders.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("na_v"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("bigint").alias("nb_v"),
    )
    # distributed prefix ladder (round 10): the per-distinct-value
    # frame is ~|orders| at scale — no single-task window; the
    # exclusive below-count is the inclusive ladder sum minus own count
    # 2U and the t³−t tie sum accumulate in DECIMAL(38,0) (HUGEINT on
    # the oracle side): at ~1e10 orders U is ~2.5e19 — a double
    # accumulation differs in the last ulp between engines (and a long
    # overflows), the same class as kruskal_wallis' rank sum. Doubling
    # clears the midrank half so every term is an exact integer.
    per_val = scale.binned_running_sum(
        per_val, ["v"], "nb_v", out_col="__cb_incl"
    )
    cum_b = F.col("__cb_incl") - F.col("nb_v")
    t_dec = (F.col("na_v") + F.col("nb_v")).cast("decimal(38,0)")
    contrib = per_val.select(
        "na_v",
        "nb_v",
        (
            F.col("na_v").cast("decimal(38,0)")
            * (F.lit(2) * cum_b + F.col("nb_v"))
        ).alias("__u2"),
        # t*t*t, not pow(t, 3): pow is not guaranteed correctly rounded
        # for exact-integer inputs on every libm
        (t_dec * t_dec * t_dec - t_dec).alias("__t3t"),
    )
    agg = contrib.agg(
        F.sum("na_v").cast("bigint").alias("n_a"),
        F.sum("nb_v").cast("bigint").alias("n_b"),
        F.sum("__u2").cast("decimal(38,0)").alias("__u2s"),
        F.sum("__t3t").cast("decimal(38,0)").alias("__T"),
    )
    u1 = F.col("__u2s").cast("double") / F.lit(2.0)
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    nn = n1 + n2
    mu = n1 * n2 / F.lit(2.0)
    sigma = F.sqrt(
        n1 * n2 / F.lit(12.0)
        * ((nn + F.lit(1.0)) - F.col("__T").cast("double") / (nn * (nn - F.lit(1.0))))
    )
    z = F.round((u1 - mu) / sigma, 4) + F.lit(0.0)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u1, 1).alias("u_statistic"),
        F.round(sigma, 4).alias("sigma_u"),
        z.alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def q_chi_square_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence test: chi-square over the event_type × ISO-weekday
    contingency table (is behavior day-of-week dependent?). The full
    grid INCLUDING empty cells is generated by crossing the observed
    margins (types × weekdays, a few dozen rows) so zero-count cells
    still contribute (O−E)²/E. Expected counts come from exact integer
    margins; one division per cell; chi2 rounds at 4. Weekday uses the
    Spark ``weekday()+1`` == DuckDB ``isodow`` pairing (CLAUDE.md)."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", (F.weekday("ts") + 1).alias("isodow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    types = cells.select("event_type").distinct()
    dows = cells.select("isodow").distinct()
    grid = types.crossJoin(dows).join(cells, ["event_type", "isodow"], "left")
    grid = grid.withColumn("o", F.coalesce("o", F.lit(0)).cast("bigint"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("isodow")
    w_all = Window.partitionBy()
    with_e = grid.select(
        "o",
        (
            F.sum("o").over(w_row).cast("double")
            * F.sum("o").over(w_col).cast("double")
            / F.sum("o").over(w_all).cast("double")
        ).alias("e"),
    )
    return (
        with_e.agg(
            F.round(
                F.sum(
                    (F.col("o").cast("double") - F.col("e"))
                    * (F.col("o").cast("double") - F.col("e"))
                    / F.col("e")
                ),
                4,
            ).alias("chi2"),
            F.sum(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("o").cast("bigint").alias("n_events"),
        )
    )


def q_daily_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of daily purchase
    revenue: trend = centered 7-day moving average (full windows only,
    RANGE frame over integer day numbers so calendar gaps can't slide
    the frame), weekly seasonal = per-weekday mean of the detrended
    series, remainder = value − trend − seasonal. All sums run over
    EXACT INTEGER CENTS scaled ×7 (``7·cents − Σcents``), so both
    engines sum identical integers in any order and divide once per
    output column (CLAUDE.md cumulative-stat rule)."""
    daily = _daily_purchase_cents(spark, sf_dir).select(
        "day",
        F.col("cents").alias("__cents"),
        F.datediff("day", F.lit("1970-01-01").cast("date")).alias("__dn"),
        (F.weekday("day") + 1).alias("isodow"),
    )
    w7 = Window.orderBy("__dn").rangeBetween(-3, 3)
    with_trend = daily.select(
        "day",
        "isodow",
        "__cents",
        F.when(F.count(F.lit(1)).over(w7) == 7, F.sum("__cents").over(w7)).alias(
            "__trend7"
        ),
    ).withColumn(
        "__detr7", F.lit(7) * F.col("__cents") - F.col("__trend7")
    )
    w_dow = Window.partitionBy("isodow")
    out = with_trend.withColumn(
        "__seas7", F.avg("__detr7").over(w_dow)
    )
    c700 = F.lit(700.0)
    return out.select(
        "day",
        "isodow",
        F.round(F.col("__cents").cast("double") / F.lit(100.0), 2).alias(
            "revenue"
        ),
        F.round(F.col("__trend7").cast("double") / c700, 4).alias("trend"),
        F.round(F.col("__seas7") / c700, 4).alias("seasonal"),
        F.round(
            F.col("__detr7").cast("double") / c700 - F.col("__seas7") / c700, 4
        ).alias("remainder"),
    ).orderBy("day")


def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance: the DELTA of the
    orders ⋈ customer enriched view when a day's inserts arrive on BOTH
    sides (orders from 1997+ as the fact delta, every 20th customer as
    the dim delta). ``scale.incremental_join_delta`` produces
    ΔF⋈D_old ∪ F_old⋈ΔD ∪ ΔF⋈ΔD — never re-joining the two old sides —
    and the oracle mirrors the same three-term union; completeness vs a
    full recompute is pinned in ``tests/test_scale.py``."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    cutoff = F.lit("1997-01-01").cast("date")
    f_old = orders.filter(F.col("o_orderdate") < cutoff)
    f_delta = orders.filter(F.col("o_orderdate") >= cutoff)
    d_old = customer.filter(F.col("c_custkey") % 20 != 0)
    d_delta = customer.filter(F.col("c_custkey") % 20 == 0)
    delta = scale.incremental_join_delta(
        f_old.withColumnRenamed("o_custkey", "c_custkey"),
        f_delta.withColumnRenamed("o_custkey", "c_custkey"),
        d_old,
        d_delta,
        on="c_custkey",
    )
    return (
        delta.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("delta_revenue"),
        )
        .orderBy("c_nationkey")
    )


def q_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate on the customer dimension: k-anonymity and
    l-diversity over the (nation, balance-thousand-bucket) quasi-
    identifier with mktsegment as the sensitive attribute, plus the
    share of rows in classes smaller than 5. Every output derives from
    exact integer counts (``quality.k_anonymity_report``)."""
    customer = _t(spark, sf_dir, "customer")
    quasi = customer.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    )
    return quality.k_anonymity_report(
        quasi, ["c_nationkey", "bal_bucket"], "c_mktsegment", small_k=5
    )


def q_label_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label intrinsic dimensionality of the embedding space:
    participation-ratio effective rank (exp of the eigenvalue-spectrum
    entropy) plus the top eigenvalue, from ONE distributed pass emitting
    per-label d²+d+1 partials (``linalg.grouped_stats_flat`` — no
    applyInPandas whole-group shipping). Rows-only (eigendecomposition);
    per-label covariance parity with numpy is pinned in
    ``tests/test_linalg.py``."""
    emb = _t(spark, sf_dir, "embeddings")
    covs = linalg.grouped_covariances(emb, "label", "embedding", 64)
    rows = []
    for label in sorted(covs):
        n, _, cov = covs[label]
        vals = np.linalg.eigvalsh(cov)
        rows.append(
            (
                label,
                n,
                round(linalg.effective_rank(cov), 4),
                round(float(vals[-1]), 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "label string, n_vectors long, effective_rank double, "
        "top_eigenvalue double",
    )


def q_embedding_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anomaly detection: top-20 vectors by Mahalanobis
    distance from the corpus distribution (global mean/covariance from
    the one-pass sufficient statistics; Σ^{-1/2} whitener computed once
    on the driver with a 1e-6 ridge; per-row scoring is a vectorized
    numpy matmul per Arrow batch). Deterministic (distance desc, vec_id)
    ordering, distance rounded to 4. Rows-only; exact agreement with an
    in-memory numpy recomputation is pinned in ``tests/test_linalg.py``."""
    emb = _t(spark, sf_dir, "embeddings")
    n, s, g = linalg.sufficient_stats(emb, "embedding", 64)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    scored = linalg.mahalanobis_scores(
        emb.select("vec_id", "embedding"), "embedding", mean, cov
    )
    return analytics.top_k(
        scored.select(
            "vec_id", F.round("mahalanobis", 4).alias("mahalanobis")
        ),
        20,
        [F.desc("mahalanobis"), F.asc("vec_id")],
    )


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier training loop (the fastText/logreg doc-scoring
    stage of an LLM data pipeline): binary logistic regression over the
    embedding column predicting label >= 5, trained by distributed
    Newton-IRLS (``linalg.logistic_train`` — one Hessian/gradient
    sufficient-stats pass per iteration, driver work O(dim²)).  Output
    is the training summary plus the trained model scored back over the
    corpus JVM-side (``linalg.logistic_margin``, zip_with dot product —
    no Python in scoring).  Rows-only: the IRLS loop has no SQL
    equivalent; numpy-reference parity (1e-7) and layout independence
    are pinned in ``tests/test_linalg.py``."""
    emb = _t(spark, sf_dir, "embeddings")
    # cached once (r14): the IRLS passes AND the post-train scoring
    # read the same (embedding, y) projection — uncached, the scoring
    # aggregate re-scanned the parquet a second time
    labeled = cache.persist(
        emb.select(
            "embedding", (F.col("label") >= 5).cast("double").alias("y")
        )
    )
    w, b, losses = linalg.logistic_train(
        labeled, "embedding", "y", 64, iterations=4, ridge=1e-3
    )
    scored = linalg.logistic_margin(labeled, "embedding", w, b)
    acc = scored.agg(
        F.round(
            F.avg(
                ((F.col("margin") >= 0).cast("double") == F.col("y")).cast(
                    "double"
                )
            ),
            4,
        ).alias("v")
    ).collect()[0]["v"]
    rows = [
        ("accuracy", float(acc)),
        ("bias", round(b, 4)),
        ("final_loss", round(losses[-1], 4)),
        ("null_loss", round(losses[0], 4)),
        ("w_norm", round(float(np.linalg.norm(w)), 4)),
    ]
    return spark.createDataFrame(rows, "term string, value double")


def q_ship_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware SLA report: average BUSINESS-day ship latency
    (Mon-Fri only, weekends excluded, endpoints inclusive) per order
    priority — CLOSED FORM, O(1) per row: with W(d) = weekdays from the
    Monday epoch 1970-01-05 to d (exclusive) = 5·(j div 7) +
    least(j mod 7, 5), the span count is W(ship+1) − W(order). Pure
    integer arithmetic, engine-exact. The ORACLE deliberately uses the
    opposite formulation (generate_series explode + isodow filter), so
    the gate cross-validates the formula, not just the plumbing.
    Spans with shipdate < orderdate are excluded (the synthetic dates
    are independent; a reversed span is not a latency)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")

    def w(col):  # weekdays in [1970-01-05, col)
        j = F.datediff(col, F.lit("1970-01-05").cast("date"))
        return F.lit(5) * F.floor(j / 7) + F.least(j % 7, F.lit(5))

    per_line = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            "l_orderkey",
            "l_linenumber",
            (
                w(F.date_add(F.col("l_shipdate"), 1)) - w(F.col("o_orderdate"))
            ).alias("__row_bd"),
        )
        # the synthetic lineitem carries duplicate (orderkey, linenumber)
        # pairs; the line's latency is the sum over its rows (mirrored)
        .groupBy("o_orderpriority", "l_orderkey", "l_linenumber")
        .agg(F.sum("__row_bd").alias("__bd"))
    )
    return (
        per_line.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("__bd").cast("decimal(18,6)"), 4)
            .cast("double")
            .alias("avg_business_days"),
            F.max("__bd").cast("bigint").alias("max_business_days"),
        )
        .orderBy("o_orderpriority")
    )


def _daily_purchase_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue in exact integer cents (the CLAUDE.md
    floor-half-up snap) — the shared base frame for the time-series
    queries."""
    events = _t(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.floor(
                F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2) * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cents")
        )
    )


def q_daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series diagnostics: the autocorrelation function of daily
    purchase revenue at lags 1-7 (is there weekly structure worth a
    seasonal model?). All 7 lag columns come from ONE window pass over
    the tiny daily frame and all 7 correlations from ONE aggregate;
    sample Pearson on both engines, null pairs (series edges) skipped
    identically. round 6 + 0.0 normalizes negative zero."""
    daily = _daily_purchase_cents(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        "cents", *[F.lag("cents", k).over(w).alias(f"l{k}") for k in range(1, 8)]
    )
    wide = lagged.agg(
        *[
            (F.round(F.corr("cents", f"l{k}"), 6) + F.lit(0.0)).alias(f"c{k}")
            for k in range(1, 8)
        ]
    )
    stack_args = ", ".join(f"{k}, c{k}" for k in range(1, 8))
    return wide.selectExpr(
        f"stack(7, {stack_args}) AS (lag, acf)"
    ).orderBy("lag")


def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation report: backtest the seasonal-naive forecast
    (predict day d with day d−7) against actuals — MAE and MAPE over
    every day whose calendar d−7 exists (equi-join on the shifted date,
    so gaps can't slide the forecast) and has positive actual revenue.
    Errors are exact integer cents; each ratio divides once."""
    daily = _daily_purchase_cents(spark, sf_dir)
    base = daily.select(
        F.date_add("day", 7).alias("day"), F.col("cents").alias("__forecast")
    )
    joined = daily.join(base, "day").filter(F.col("cents") > 0)
    ae = F.abs(F.col("cents") - F.col("__forecast"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.avg(ae.cast("double")).cast("decimal(18,6)"), 2
        )
        .cast("double")
        .alias("mae_cents"),
        F.round(
            F.avg(ae.cast("double") / F.col("cents").cast("double")).cast(
                "decimal(18,6)"
            ),
            6,
        )
        .cast("double")
        .alias("mape"),
    )


def q_event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over (user, day) baskets of event
    types: for each DIRECTED pair a→b, support count, confidence
    n_ab/n_a, and lift n_ab·N/(n_a·n_b). Baskets reduce to distinct
    (user, day, type) rows first, so the self-join explodes at most
    |types|² per basket; the item counts and the basket total ride
    broadcast aggregates. Every metric derives from exact integer
    counts — one division each, round 6."""
    events = _t(spark, sf_dir, "events")
    basket_item = events.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    n_baskets = basket_item.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("__N")
    )
    item_counts = basket_item.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    a = basket_item.select(
        "user_id", "d", F.col("event_type").alias("antecedent")
    )
    b = basket_item.select(
        "user_id", "d", F.col("event_type").alias("consequent")
    )
    pairs = (
        a.join(b, ["user_id", "d"])
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    na = item_counts.select(
        F.col("event_type").alias("antecedent"), F.col("__n").alias("__na")
    )
    nb = item_counts.select(
        F.col("event_type").alias("consequent"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nb), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("__N"), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_ab").cast("double") / F.col("__na").cast("double"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("__N")
                / (F.col("__na") * F.col("__nb")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


def q_holt_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing of daily revenue —
    the third forecaster next to seasonal-naive and EWMA. The recursion
    is inherently sequential, so it runs driver-side over the
    already-aggregated daily series (bounded by the DATE domain — same
    contract as the Markov/PCA tier); the distributed work is the daily
    integer-cents aggregate. Rows-only (recursive state isn't SQL);
    recursion invariants pinned in ``tests/test_temporal.py``."""
    daily = _daily_purchase_cents(spark, sf_dir).orderBy("day").collect()
    values = [r["cents"] / 100.0 for r in daily]
    levels, trends, fitted = temporal.holt_linear(values, alpha=0.3, beta=0.1)
    rows = [
        (
            daily[i]["day"],
            round(values[i], 2),
            round(levels[i], 4),
            round(trends[i], 4),
            round(fitted[i], 4),
        )
        for i in range(len(daily))
    ]
    return spark.createDataFrame(
        rows,
        "day date, revenue double, level double, trend double, fitted double",
    ).orderBy("day")


_BOXPLOT_SQL = """
    WITH base AS (
      SELECT r_name, c_acctbal
      FROM {cust} JOIN {nat} ON c_nationkey = n_nationkey
      JOIN {reg} ON n_regionkey = r_regionkey),
    q AS (
      SELECT r_name,
             CAST(count(*) AS BIGINT) AS n_customers,
             round(min(c_acctbal), 2) AS min_bal,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal) AS q1r,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS medr,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal) AS q3r,
             round(max(c_acctbal), 2) AS max_bal
      FROM base GROUP BY 1),
    f AS (
      SELECT *,
             round(q1r - CAST(1.5 AS DOUBLE) * (q3r - q1r), 6) AS lof,
             round(q3r + CAST(1.5 AS DOUBLE) * (q3r - q1r), 6) AS hif
      FROM q)
    SELECT f.r_name AS region, n_customers, min_bal,
           round(q1r, 2) AS q1, round(medr, 2) AS median,
           round(q3r, 2) AS q3, max_bal,
           CAST(sum(CASE WHEN b.c_acctbal < lof OR b.c_acctbal > hif
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM f JOIN base b ON b.r_name = f.r_name
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    ORDER BY 1
"""


def q_region_balance_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot analytics per region: five-number summary of customer
    balances (percentile_disc quartiles — ACTUAL set elements, so the
    doubles are bit-identical across engines) plus the count outside the
    Tukey 1.5·IQR fences. Fences are rounded to 6 decimals BEFORE the
    comparison (CLAUDE.md threshold rule) and the 1.5 literal is cast to
    DOUBLE on both sides (SQL decimal-literal rule). The SAME SQL text
    runs on both engines — only the table bindings differ."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__box_cust")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("__box_nat")
    _t(spark, sf_dir, "region").createOrReplaceTempView("__box_reg")
    return spark.sql(
        _BOXPLOT_SQL.format(
            cust="__box_cust", nat="__box_nat", reg="__box_reg"
        )
    )


def q_higher_moments_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape report per order priority: skewness and excess
    kurtosis computed from EXPLICIT central moments (m3/m2^1.5,
    m4/m2²−3) rather than the engines' builtin skewness()/kurtosis() —
    Spark uses population (g1/g2) while DuckDB bias-corrects, so the
    builtins are NOT cross-engine comparable; the closed form is.  Mean
    rides a broadcast per-group aggregate (two passes over one scan
    shape, both with map-side partial aggs)."""
    orders = _t(spark, sf_dir, "orders")
    means = orders.groupBy(F.col("o_orderpriority").alias("__p")).agg(
        F.avg("o_totalprice").alias("__mu")
    )
    d = F.col("o_totalprice") - F.col("__mu")
    return (
        orders.join(
            F.broadcast(means), orders.o_orderpriority == F.col("__p")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg(d * d).alias("__m2"),
            F.avg(d * d * d).alias("__m3"),
            F.avg(d * d * d * d).alias("__m4"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            (F.round(F.col("__m3") / F.pow(F.col("__m2"), 1.5), 4) + F.lit(0.0)).alias(
                "skewness"
            ),
            (
                F.round(F.col("__m4") / (F.col("__m2") * F.col("__m2")) - 3.0, 4)
                + F.lit(0.0)
            ).alias("excess_kurtosis"),
        )
        .orderBy("o_orderpriority")
    )


def q_haar_revenue_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar multi-resolution decomposition of daily revenue: per level
    k (1..8, block size 2^k days), the number of detail coefficients
    and their energy — a seasonality fingerprint (weekly cycles light
    up level 3, monthly level 5) next to the ACF/periodogram-free
    forecasting set.

    EXACT integer arithmetic end-to-end: daily revenue lands in cents
    (long), level-(k-1) block sums pair into unnormalized details
    ``d = s_even - s_odd`` (still integer cents), and the energy sums
    ``d^2`` in DECIMAL(38,0) on Spark / HUGEINT in DuckDB — both exact,
    and SERIALIZED AS THE EXACT INTEGER DIGIT STRING (round-7 driver
    fail: energies reach 2.7e16 cents² > 2^51 where double ulp ≥ 0.5,
    and Spark's BigDecimal HALF_UP vs DuckDB's multiply-based round()
    diverge by one ulp — never round() a double above ~2^50). Missing days are implicit zeros: a pair
    whose blocks are BOTH empty contributes zero energy and is simply
    absent (hence ``n_nonzero_pairs``, not a dense coefficient count —
    energies are identical to the dense-spine Haar, pinned against a
    zero-filled numpy reference in tests/test_stats.py). Every level is its own independent groupBy over the
    CACHED ~|date-domain| daily spine: 8 tiny shuffles over a
    calendar-bounded frame, never a second scan of orders."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    idx = (
        daily.crossJoin(F.broadcast(d0))
        .select(F.datediff("day", "d0").alias("i"), "cents")
    )
    idx = cache.persist(idx)
    levels = []
    for k in range(1, 9):
        half = 1 << (k - 1)
        blocks = idx.groupBy(
            F.expr(f"i div {half}").alias("b")
        ).agg(F.sum("cents").alias("s"))
        det = blocks.groupBy(F.expr("b div 2").alias("p")).agg(
            F.sum(
                F.when(F.col("b") % 2 == 0, F.col("s")).otherwise(
                    -F.col("s")
                )
            ).alias("d")
        )
        dd = F.col("d").cast("decimal(38,0)")
        levels.append(
            det.agg(
                F.lit(k).alias("level"),
                F.count(F.lit(1)).alias("n_nonzero_pairs"),
                F.sum(dd * dd).cast("string").alias("energy_cents2"),
            )
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.orderBy("level")


def q_isotonic_late_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration curve: P(order has a late line | price
    bucket), fitted monotone non-decreasing with PAVA — the standard
    score-calibration shape (bucket-aggregate sufficient stats, driver
    PAVA over the BOUNDED bucket frame, broadcast the step function
    back; the corpus never hits the driver — linalg.isotonic_fit).
    Rows-only: PAVA's sequential pooling has no SQL equivalent;
    optimality and invariants are pinned in tests/test_linalg.py."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    # synthetic lineitem carries only l_shipdate (TESTDATA caveat:
    # dates are independent of o_orderdate) — "late" = any line shipped
    # more than 30 days after the order date
    per_line = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_totalprice"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = per_line.groupBy("o_orderkey").agg(
        F.max(
            (
                F.datediff(
                    F.to_date("l_shipdate"), F.to_date("o_orderdate")
                )
                > 30
            ).cast("int")
        ).alias("late"),
        F.first("o_totalprice").alias("o_totalprice"),
    )
    per_order = late.select(
        F.least(
            F.floor(F.col("o_totalprice") / 20000).cast("long"), F.lit(27)
        ).alias("bucket"),
        "late",
    )
    buckets = per_order.groupBy("bucket").agg(
        F.sum("late").cast("long").alias("n_late"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    fitted = linalg.isotonic_fit(buckets, "bucket", "n_late", "n_orders")
    return fitted.select(
        "bucket",
        "n_orders",
        F.round(F.col("n_late") / F.col("n_orders"), 6).alias("raw_rate"),
        F.round("iso_rate", 6).alias("iso_rate"),
    ).orderBy("bucket")


def q_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B surface: per user, the
    pre-period event count is the covariate X and the post-period
    count the metric Y (split at day 15 of the event window);
    ``theta = Sxy/Sxx`` over ALL users, the adjusted metric is
    ``Y' = Y - theta*(X - mean(X))``, and the report carries per-
    variant raw vs adjusted means plus the global variance-reduction
    ratio ``rho^2 = Sxy^2/(Sxx*Syy)`` — the standard pre-experiment-
    data trick that shrinks experiment runtimes.

    Parity: X/Y are exact integer counts; means and centered sums use
    the TWO-pass ar2 idiom; every reported float rounds (4/6) far
    above summation-order noise."""
    events = _t(spark, sf_dir, "events")
    split = events.agg(
        F.date_add(F.to_date(F.min("ts")), 15).alias("cut")
    )
    per_user = (
        events.crossJoin(F.broadcast(split))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.to_date("ts") < F.col("cut"), 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.to_date("ts") >= F.col("cut"), 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    per_user = cache.persist(per_user)
    means = per_user.agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my")
    )
    stats = (
        per_user.crossJoin(F.broadcast(means))
        .agg(
            F.sum(
                (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
            ).alias("sxx"),
            F.sum(
                (F.col("x") - F.col("mx")) * (F.col("y") - F.col("my"))
            ).alias("sxy"),
            F.sum(
                (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
            ).alias("syy"),
            F.first("mx").alias("mx"),
        )
        .select(
            (F.col("sxy") / F.col("sxx")).alias("theta"),
            (
                F.col("sxy")
                * F.col("sxy")
                / (F.col("sxx") * F.col("syy"))
            ).alias("rho2"),
            "mx",
        )
    )
    per_variant = (
        per_user.crossJoin(F.broadcast(stats))
        .groupBy((F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.round(F.avg("y"), 4) + F.lit(0.0)).alias("mean_y"),
            (
                F.round(
                    F.avg(
                        F.col("y")
                        - F.col("theta") * (F.col("x") - F.col("mx"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("mean_y_cuped"),
            (F.round(F.first("theta"), 6) + F.lit(0.0)).alias("theta"),
            (F.round(F.first("rho2"), 6) + F.lit(0.0)).alias(
                "var_reduction"
            ),
        )
        .orderBy("variant")
    )
    return per_variant


def q_circadian_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day per event type: the
    mean direction (peak hour, UTC) and resultant length R (0 =
    uniform around the clock, 1 = all events at the same instant) —
    the correct average for angles, where the arithmetic mean of 23:00
    and 01:00 wrongly lands at noon.

    Parity: the angle is ``us_in_day * 2pi / 86400e6`` with
    ``us_in_day`` an exact integer (unix_micros mod a day), the same
    libm-safe bounded-argument trick as the periodogram; ``atan2`` on
    the two engine-identical-to-1ulp sums is continuous away from the
    branch cut, and outputs round at 2/4 decimals."""
    two_pi = 6.283185307179586
    events = _t(spark, sf_dir, "events")
    ang = (
        (F.unix_micros("ts") % F.lit(86400000000)).cast("double")
        * F.lit(two_pi)
        / F.lit(86400000000.0)
    )
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.cos(ang)).alias("c"),
        F.sum(F.sin(ang)).alias("s"),
    )
    theta = F.atan2(F.col("s"), F.col("c"))
    theta = (theta + F.lit(two_pi)) % F.lit(two_pi)
    hour = F.round(theta * F.lit(24.0) / F.lit(two_pi), 2)
    # snap the circular wrap: a mean within noise of midnight can land
    # on either side of the s-sign branch (0.00 on one engine, 24.00 on
    # the other) — normalize the boundary BEFORE comparison
    hour = F.when(hour >= 24.0, hour - F.lit(24.0)).otherwise(hour)
    return agg.select(
        "event_type",
        "n",
        (hour + F.lit(0.0)).alias("peak_hour_utc"),
        (
            F.round(
                F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s"))
                / F.col("n").cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("resultant_r"),
    ).orderBy("event_type")


def q_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day: sessionize (30-min gap,
    gaps-and-islands), decompose each session into +1/-1 boundary
    events, and take the daily max of the running active count.

    The scale shape is the TWO-PHASE prefix sum: boundaries are
    partitioned by day (a day-keyed window, parallel across days) and
    the cross-day carry-in comes from a second cumulative window over
    the tiny per-day net frame — no unpartitioned window ever touches
    a data-sized frame, which is what makes a running count survive
    100 TB (the single global orderBy window would serialize).  All
    ordering runs on integer micros (unix_micros/epoch_us) with full
    deterministic tiebreaks (ends after starts at the same instant:
    delta DESC counts the touching pair as concurrent)."""
    events = _t(spark, sf_dir, "events")
    events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
    ).createOrReplaceTempView("__ev_pc")
    return spark.sql("""
        WITH lagged AS (
          SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS prev_us
          FROM __ev_pc),
        flagged AS (
          SELECT user_id, us,
                 CASE WHEN prev_us IS NULL
                           OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM lagged),
        sess AS (
          SELECT user_id, us,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
          FROM flagged),
        spans AS (
          SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
          FROM sess GROUP BY 1, 2),
        bounds AS (
          SELECT user_id, sid, s_us AS us, 1 AS delta FROM spans
          UNION ALL
          SELECT user_id, sid, e_us, -1 FROM spans),
        rawbound AS (
          SELECT CAST(timestamp_micros(us) AS DATE) AS day,
                 us, delta, user_id, sid
          FROM bounds),
        -- EVERY day in the span gets a zero-delta midnight row: a day
        -- whose only activity is carried in from sessions spanning
        -- midnight (or that lies wholly inside a long session) must
        -- still report its carry plateau as the peak
        spine AS (
          SELECT explode(sequence(min(day), max(day))) AS day
          FROM rawbound),
        daybound AS (
          SELECT day, us, delta, user_id, sid FROM rawbound
          UNION ALL
          SELECT day, unix_micros(CAST(day AS TIMESTAMP)), 0, -1, -1
          FROM spine),
        day_net AS (
          SELECT day, CAST(sum(delta) AS BIGINT) AS net
          FROM daybound GROUP BY 1),
        carry AS (
          SELECT day,
                 CAST(sum(net) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS BIGINT) AS carry_in
          FROM day_net),
        running AS (
          SELECT b.day,
                 coalesce(c.carry_in, 0)
                   + sum(b.delta) OVER (PARTITION BY b.day
                       ORDER BY b.us, b.delta DESC, b.user_id, b.sid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS active
          FROM daybound b JOIN carry c ON b.day = c.day)
        SELECT day,
               CAST(max(active) AS BIGINT) AS peak_concurrency
        FROM running GROUP BY day ORDER BY day
    """)


def q_conformal_revenue_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for next-day revenue
    under the seasonal-naive (lag-7) forecaster: the calibration set is
    every day with a lag-7 partner, the conformity score is the
    absolute residual in EXACT integer cents, and the interval is
    ``point +- q90`` where q90 is ``percentile_disc(0.9)`` of the
    scores — an ACTUAL set element (the established cross-engine-exact
    discrete-percentile idiom), so the whole computation divides
    identical integers and rounds once for display.  Distribution-free
    coverage is the conformal guarantee; the pytest checks the
    empirical leave-out coverage."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    daily.createOrReplaceTempView("__daily_conf")
    return spark.sql("""
        WITH cal AS (
          SELECT abs(d.cents - p.cents) AS ar
          FROM __daily_conf d
          JOIN __daily_conf p ON d.day = date_add(p.day, 7)),
        q AS (
          SELECT CAST(count(*) AS BIGINT) AS n_calib,
                 percentile_disc(0.9) WITHIN GROUP (ORDER BY ar) AS q90
          FROM cal),
        nxt AS (
          SELECT cents AS pred_next FROM __daily_conf
          WHERE day = (SELECT date_add(max(day), -6) FROM __daily_conf))
        SELECT n_calib,
               round(q90 / CAST(100 AS DOUBLE), 2) AS q90_abs_resid,
               round(pred_next / CAST(100 AS DOUBLE), 2) AS point_forecast,
               round((pred_next - q90) / CAST(100 AS DOUBLE), 2) AS lo,
               round((pred_next + q90) / CAST(100 AS DOUBLE), 2) AS hi
        FROM q, nxt
    """)


def q_embedding_whiten_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA-whiten the embedding corpus and report the post-whitening
    per-dimension variance for the first 8 dims — the identity-
    covariance acceptance check a pipeline runs before trusting
    whitened cosines (values ~1 up to the eps regularizer).  One
    sufficient-stats pass + driver 64x64 eigenproblem + pure-JVM
    projection (linalg.zca_whiten).  Rows-only (no eigendecomposition
    in SQL); numpy parity pinned in tests/test_linalg.py."""
    emb = _t(spark, sf_dir, "embeddings")
    # only the first 8 output dims are checked: truncate the emitted
    # projection (1/8 the per-row JVM work; W itself is unchanged)
    whitened, _, _ = linalg.zca_whiten(emb, "embedding", 64, out_dims=8)
    per_dim = whitened.select(
        F.posexplode("whitened").alias("dim", "v")
    )
    return (
        per_dim.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.var_samp("v"), 3) + F.lit(0.0)).alias("variance"),
            (F.round(F.avg("v"), 3) + F.lit(0.0)).alias("mean"),
        )
        .orderBy("dim")
    )


def q_brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log price elasticity: OLS slope of ln(quantity) on
    ln(unit price) over that brand's order lines — the classic demand
    curve diagnostic (elasticity < 0 = normal good; synthetic data is
    price-independent so slopes hover near 0, which is itself the
    honest read-out).  TWO-pass centering per brand (means first,
    centered cross-products second — the ar2 idiom) keeps cross-engine
    drift at summation-order level instead of the cancellation-prone
    one-pass form; slope/intercept round at 4, means at 6."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rows = (
        lineitem.filter(
            (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            F.log(F.col("l_quantity")).alias("ly"),
            F.log(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("lx"),
        )
    )
    rows = cache.persist(rows)
    means = rows.groupBy("p_brand").agg(
        F.avg("lx").alias("mx"),
        F.avg("ly").alias("my"),
        F.count(F.lit(1)).alias("n"),
    )
    cs = (
        rows.join(F.broadcast(means), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.sum(
                (F.col("lx") - F.col("mx")) * (F.col("lx") - F.col("mx"))
            ).alias("sxx"),
            F.sum(
                (F.col("lx") - F.col("mx")) * (F.col("ly") - F.col("my"))
            ).alias("sxy"),
            F.first("mx").alias("mx"),
            F.first("my").alias("my"),
            F.first("n").alias("n"),
        )
    )
    return cs.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        (F.round(F.col("sxy") / F.col("sxx"), 4) + F.lit(0.0)).alias(
            "elasticity"
        ),
        (
            F.round(
                F.col("my") - F.col("sxy") / F.col("sxx") * F.col("mx"), 4
            )
            + F.lit(0.0)
        ).alias("intercept"),
        (F.round("mx", 6) + F.lit(0.0)).alias("mean_ln_price"),
    ).orderBy("p_brand")


#: candidate cycles for the periodogram binding (and its oracle)
_PERIODOGRAM_PERIODS = (7, 14, 30, 91, 365)


def q_revenue_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete periodogram of daily revenue at candidate business
    cycles (weekly/fortnight/monthly/quarterly/annual): per period P,
    the variance fraction ``2*(C^2+S^2)/(n*sum(dev^2))`` that a
    sinusoid at P explains (the Fourier-frequency R^2), and the implied
    cycle amplitude, where ``C/S`` are the cos/sin projections of the
    mean-centered daily series.

    Float-parity choices: the phase is ``2*pi * (i mod P) / P`` — the
    mod keeps cos/sin arguments in [0, 2*pi) where both engines'
    correctly-rounded-to-~1ulp libm agree (naive ``2*pi*i/P`` at
    i~2400 loses the argument reduction battle); 2*pi enters as the
    exact double literal (string-cast in the oracle); the mean divides
    the exact integer cents total ONCE; power shares round at 6
    decimals, far above the summation-order noise floor (~1e-12
    relative). Two scans of the cached daily spine (stats + projection)
    — the |periods| x |days| explode is calendar-bounded, never
    data-bounded."""
    two_pi = 6.283185307179586
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    daily = cache.persist(daily)
    stats = daily.agg(
        F.min("day").alias("d0"),
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    base = (
        daily.crossJoin(F.broadcast(stats))
        .select(
            F.datediff("day", "d0").alias("i"),
            (
                F.col("cents").cast("double") / F.lit(100.0)
                - F.col("tot").cast("double")
                / (F.col("n").cast("double") * F.lit(100.0))
            ).alias("dev"),
            F.col("n").cast("double").alias("nd"),
        )
    )
    per = base.select(
        "i", "dev", "nd",
        F.explode(
            F.array(*[F.lit(p) for p in _PERIODOGRAM_PERIODS])
        ).alias("p"),
    ).withColumn(
        "theta",
        (F.col("i") % F.col("p")).cast("double")
        * F.lit(two_pi)
        / F.col("p").cast("double"),
    )
    agg = per.groupBy("p").agg(
        F.sum(F.col("dev") * F.cos("theta")).alias("c"),
        F.sum(F.col("dev") * F.sin("theta")).alias("s"),
        F.sum(F.col("dev") * F.col("dev")).alias("ss"),
        F.max("nd").alias("nd"),
    )
    pw = F.col("c") * F.col("c") + F.col("s") * F.col("s")
    return agg.select(
        F.col("p").alias("period"),
        (
            F.round(
                F.lit(2.0) * pw / (F.col("nd") * F.col("ss")), 6
            )
            + F.lit(0.0)
        ).alias("power_share"),
        (F.round(F.lit(2.0) * F.sqrt(pw) / F.col("nd"), 2) + F.lit(0.0)).alias(
            "amplitude_usd"
        ),
    ).orderBy("period")


def q_ar2_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) autoregressive forecast of daily revenue — the lag-structure
    member of the forecasting set (next to seasonal-naive and Holt):
    ``r_t = c + φ1·r_{t-1} + φ2·r_{t-2}`` fit by OLS on the daily spine,
    closed-form 2×2 normal equations after de-meaning (Cramer), then a
    3-step-ahead recursion unrolled explicitly.  TWO-pass centering
    (means first, centered sums second) keeps cross-engine float drift
    at summation-order level (~1e-10 relative) instead of the ~1e-6 the
    cancellation-prone one-pass ``Σx²−n·m²`` form would give; revenue
    lands in exact cents before any float math.  The whole regression
    runs on the ~|date-domain| daily spine, so the unpartitioned lag
    window is bounded by calendar size, not data size."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            / F.lit(100.0)
        ).alias("rev")
    )
    w = Window.orderBy("day")
    lagged = (
        daily.select(
            "day",
            "rev",
            F.lag("rev", 1).over(w).alias("x1"),
            F.lag("rev", 2).over(w).alias("x2"),
        )
        .filter(F.col("x2").isNotNull())
    )
    means = lagged.agg(
        F.avg("rev").alias("my"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
    )
    cstats = (
        lagged.crossJoin(F.broadcast(means))
        .agg(
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x1") - F.col("m1"))).alias("s11"),
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x2") - F.col("m2"))).alias("s12"),
            F.sum((F.col("x2") - F.col("m2")) * (F.col("x2") - F.col("m2"))).alias("s22"),
            F.sum((F.col("x1") - F.col("m1")) * (F.col("rev") - F.col("my"))).alias("b1"),
            F.sum((F.col("x2") - F.col("m2")) * (F.col("rev") - F.col("my"))).alias("b2"),
            F.max_by("rev", "day").alias("rn"),
            F.max_by("x1", "day").alias("rn1"),
        )
        .crossJoin(F.broadcast(means))
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    solved = cstats.select(
        ((F.col("b1") * F.col("s22") - F.col("b2") * F.col("s12")) / det).alias("p1"),
        ((F.col("s11") * F.col("b2") - F.col("s12") * F.col("b1")) / det).alias("p2"),
        "my", "m1", "m2", "rn", "rn1",
    ).select(
        "p1", "p2", "rn", "rn1",
        (F.col("my") - F.col("p1") * F.col("m1") - F.col("p2") * F.col("m2")).alias("c"),
    )
    f1 = F.col("c") + F.col("p1") * F.col("rn") + F.col("p2") * F.col("rn1")
    out = solved.select(
        "p1", "p2", "c", "rn", "rn1", f1.alias("f1")
    )
    f2 = F.col("c") + F.col("p1") * F.col("f1") + F.col("p2") * F.col("rn")
    out = out.select("p1", "p2", "c", "f1", f2.alias("f2"))
    f3 = F.col("c") + F.col("p1") * F.col("f2") + F.col("p2") * F.col("f1")
    return out.select(
        (F.round("p1", 4) + F.lit(0.0)).alias("phi1"),
        (F.round("p2", 4) + F.lit(0.0)).alias("phi2"),
        (F.round("c", 2) + F.lit(0.0)).alias("intercept"),
        F.round("f1", 2).alias("forecast_1"),
        F.round("f2", 2).alias("forecast_2"),
        F.round(f3, 2).alias("forecast_3"),
    )


def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue (α=0.3,
    14-day support, partial windows renormalized): smoother than the
    boxcar trailing mean, standard for trend dashboards.  Positional
    weights aren't expressible in a plain window frame, so the trailing
    window is a bounded date self-join (≤14 partners per row over the
    tiny daily spine).  Revenue lands in exact cents first; pow-ulp and
    summation-order noise (~1e-10) sits far below the 4-decimal round."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            / F.lit(100.0)
        ).alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    diff = F.datediff(F.col("a.day"), F.col("b.day"))
    w = F.pow(F.lit(0.7), diff.cast("double"))
    return (
        a.join(b, (diff >= 0) & (diff <= 13))
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.round(F.max(F.when(diff == 0, F.col("b.rev"))), 2).alias(
                "revenue"
            ),
            (F.round(F.sum(F.col("b.rev") * w) / F.sum(w), 4) + F.lit(0.0)).alias(
                "ewma_revenue"
            ),
        )
        .orderBy("day")
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the
    learned 20-merge sequence over the documents corpus.  Deterministic
    (lexicographic tie-break, asserted exactly vs a pure-Python
    reference in tests/test_bpe.py) but iterative-argmax — not
    SQL-expressible, so the driver records a rows-only check."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    # train_bpe's word table is localCheckpointed (GC-managed blocks);
    # dropping the reference is the cleanup
    merges, _wt = bpe.train_bpe(docs, num_merges=20)
    return bpe.merges_frame(spark, merges)


def _staged_event_stream(spark: SparkSession, sf_dir: str):
    """Schema-conformed events (``schemas.TPCH`` types) staged to a
    pid-scoped temp parquet dir, returned as a streaming frame. Reuses
    the staged copy only behind Spark's _SUCCESS commit marker — a torn
    write never leaves the marker."""
    import os
    import re as _re
    import tempfile

    events = _t(spark, sf_dir, "events")
    tag = _re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
    stage = os.path.join(
        tempfile.gettempdir(), f"stream_events_{tag}_{os.getpid()}"
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        events.write.mode("overwrite").parquet(stage)
    return spark.readStream.schema(events.schema).parquet(stage), tag


def _staged_event_stream_throttled(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int
):
    """Like ``_staged_event_stream`` but with ``maxFilesPerTrigger`` so
    ``processAllAvailable`` genuinely runs MANY microbatches — the
    incremental-accumulation path a single-batch read never
    exercises."""
    import os
    import re as _re
    import tempfile

    events = _t(spark, sf_dir, "events")
    tag = _re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
    stage = os.path.join(
        tempfile.gettempdir(), f"stream_events_{tag}_{os.getpid()}"
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        events.write.mode("overwrite").parquet(stage)
    reader = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    return reader.parquet(stage), tag


def _staged_event_stream_split(spark: SparkSession, sf_dir: str):
    """Two disjoint staged event streams (user_id parity split) for the
    multi-source union shape; same _SUCCESS-gated staging discipline."""
    import os
    import re as _re
    import tempfile

    events = _t(spark, sf_dir, "events")
    tag = _re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
    streams = []
    for parity in (0, 1):
        stage = os.path.join(
            tempfile.gettempdir(),
            f"stream_events_p{parity}_{tag}_{os.getpid()}",
        )
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            events.filter(
                F.pmod(F.col("user_id"), F.lit(2)) == parity
            ).write.mode("overwrite").parquet(stage)
        streams.append(
            spark.readStream.schema(events.schema).parquet(stage)
        )
    return streams[0], streams[1], tag


def q_streaming_sliding_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window traffic (2-day windows sliding 1 day,
    per event type) run to completion — the third streaming window
    shape next to the tumbling fact build and session windows. Append
    mode emits exactly the windows the final watermark closed
    (window_end <= max(ts) - 1 hour), which the oracle mirrors by
    unnesting each event into its two window starts."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        sliding_window_traffic,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    agg = sliding_window_traffic(
        stream, window_duration="2 days", slide="1 day", watermark="1 hour"
    )
    name = f"stream_sliding_{tag}"
    run_to_memory_sink(agg, name)
    return spark.sql(
        f"SELECT window_start, window_end, event_type, n_events, "
        f"total_value FROM {name}"
    )


def q_streaming_view_purchase_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream JOIN run to completion — the fourth streaming
    shape next to tumbling/session/sliding windows: purchases join the
    same user's preceding views within 1 hour (watermarked both sides,
    so per-key buffered state expires; an unbounded stream-stream join
    buffers forever).  The inner join emits every matched pair by
    end-of-stream, so the result is deterministic and the oracle is
    the equivalent batch range join.  Pair rows land in the memory
    sink; the daily report aggregates them BATCH-side (aggregating a
    stream-stream join's append output inside the stream would need a
    second watermark chain for no semantic gain).  Lead times are exact
    integer micros divided once (CLAUDE.md timestamp rule); the oracle
    takes the same integer micros via epoch_ns//1000."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        stream_stream_window_join,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    p = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    v = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    joined = stream_stream_window_join(
        p, v, ["user_id"], "ts", "vts", window="1 hour", watermark="2 hours"
    ).select(
        F.col("__l.purchase_id").alias("purchase_id"),
        F.to_date("__l.ts").alias("purchase_date"),
        (F.unix_micros("__l.ts") - F.unix_micros("__r.vts")).alias(
            "lead_us"
        ),
    )
    name = f"stream_vp_join_{tag}"
    run_to_memory_sink(joined, name)
    pairs = spark.table(name)
    return pairs.groupBy("purchase_date").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("purchase_id").cast("bigint").alias("n_purchases"),
        F.round(
            F.sum("lead_us").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0),
            4,
        ).alias("avg_lead_seconds"),
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION-window sessionization run to completion (file
    stream -> session_window(30 min gap) -> memory sink).

    Append mode emits exactly the sessions the final watermark closed:
    session_end <= max(ts) - 1 hour — deterministic and expressible as
    gaps-and-islands SQL, so the dynamic-window streaming path is
    oracle-checked like the tumbling one.
    """
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        session_window_stats,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    agg = session_window_stats(
        stream, gap="30 minutes", watermark="1 hour", key_cols=("user_id",)
    )
    name = f"stream_sessions_{tag}"
    run_to_memory_sink(agg, name)
    return spark.sql(
        f"SELECT user_id, session_start_us, session_end_us, n_events, "
        f"total_value FROM {name}"
    )


# ---------------------------------------------------------------------------
# Round-7 tier: trend/changepoint tests, experimentation guardrails,
# resampling, recommender evaluation
# ---------------------------------------------------------------------------


def _daily_cents_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared spine for the trend-test tier: 1995 daily order revenue
    in EXACT integer cents (the theilsen/kendall precedent — the fact
    reduces to one row per day before any pairing/windowing, so every
    downstream stage is bounded by day count, not fact volume)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents")
        )
    )


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on 1995 daily revenue:
    S = Σ_{i<j} sign(x_j − x_i) (exact integer over the bounded
    day-pair join), tie-corrected variance
    var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 assembled from
    exact integers, and the continuity-corrected z = (S∓1)/√var(S).
    Complements Theil-Sen (which estimates the slope MK tests).

    Scale shape: same bounded-pairing posture as `theilsen` — the
    O(days²) stage runs over the per-day aggregate, never raw orders."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    a = daily.select(F.col("day").alias("d1"), F.col("cents").alias("c1"))
    b = daily.select(F.col("day").alias("d2"), F.col("cents").alias("c2"))
    s_stat = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(F.signum((F.col("c2") - F.col("c1")).cast("double")))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term"),
        )
    )
    joined = ties.crossJoin(F.broadcast(s_stat))
    n = F.col("n_days")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast("double")
        / F.lit(18.0)
    )
    s = F.col("s_stat")
    z = (
        F.when(s > 0, (s - 1).cast("double") / F.sqrt(var_s))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return joined.select(
        "n_days",
        "s_stat",
        var_s.alias("var_s"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
    )


def q_binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary segmentation of 1995 daily revenue (operators/
    changepoint.py): the level-1 split maximizes the between-segment
    SSE reduction over exact integer cents, then each half splits
    again — the multi-changepoint hierarchy CUSUM's single split can't
    express.  Gains are reported in USD² (cents²/10⁴, rounded 2); the
    bit-identical-gain argument lives in the operator docstring."""
    from wistia_video_analytics_project_spark.operators import changepoint

    daily = _daily_cents_1995(spark, sf_dir)
    wd = Window.orderBy("day")
    indexed = cache.persist(
        daily.select(
            F.row_number().over(wd).alias("idx"), "day", "cents"
        )
    )
    splits = changepoint.binary_segmentation(
        indexed, idx_col="idx", val_col="cents", depth=2
    )
    return (
        splits.join(
            indexed.select("idx", "day"),
            splits["cp_idx"] == F.col("idx"),
        )
        .select(
            "level",
            "seg",
            F.col("day").alias("cp_day"),
            (
                F.round(F.col("gain") / F.lit(10000.0).cast("double"), 2)
                + F.lit(0.0)
            ).alias("gain_usd2"),
        )
        .orderBy("level", "seg")
    )


def q_hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of 1995 daily revenue by classical rescaled-range
    (R/S) analysis: for block sizes b ∈ {8,16,32,64}, consecutive
    full b-day blocks yield R (range of cumulative deviations) and S
    (block stddev); H is the slope of mean log₂(R/S) against log₂ b.
    H≈0.5 is a memoryless series; persistent demand trends push H up.

    Parity discipline: within a block, cumulative deviations are the
    EXACT integers b·cum_k − k·total (the CLAUDE.md integer-cents
    trick), so R is an exact rational; S squares those integers cast
    to double (magnitudes ≤1e10, exactly representable — squaring in
    BIGINT would overflow at sf≥0.1) and the only cross-engine noise
    is the Σd² summation order (~1e-15 relative vs the 1e-4 rounding).
    The final slope regresses the ROUNDED per-b means so both engines
    see identical regression inputs.  Everything is windows/aggregates
    over the bounded per-day spine."""
    daily = _daily_cents_1995(spark, sf_dir)
    wd = Window.orderBy("day")
    indexed = cache.persist(
        daily.select(
            (F.row_number().over(wd) - 1).alias("i"), "cents"
        )
    )
    sizes = spark.createDataFrame(
        [(8, 3), (16, 4), (32, 5), (64, 6)], "b long, e long"
    )
    blocks = indexed.crossJoin(F.broadcast(sizes)).select(
        "b",
        (F.col("i") / F.col("b")).cast("long").alias("blk"),
        ((F.col("i") % F.col("b")) + 1).alias("k"),
        "cents",
    )
    wb = Window.partitionBy("b", "blk")
    wk = wb.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    stats = blocks.select(
        "b",
        "blk",
        "k",
        "cents",
        F.sum("cents").over(wk).alias("__cum"),
        F.sum("cents").over(wb).alias("__tot"),
        F.count(F.lit(1)).over(wb).alias("__n"),
    ).filter(F.col("__n") == F.col("b"))
    dev = F.col("b") * F.col("__cum") - F.col("k") * F.col("__tot")
    sq = F.col("b") * F.col("cents") - F.col("__tot")
    per_block = stats.groupBy("b", "blk").agg(
        (
            (F.max(dev) - F.min(dev)).cast("double")
            / F.max("b").cast("double")
        ).alias("__r"),
        F.sqrt(
            F.sum(sq.cast("double") * sq.cast("double"))
            / (
                F.max("b").cast("double")
                * F.max("b").cast("double")
                * F.max("b").cast("double")
            )
        ).alias("__s"),
    )
    per_b = (
        per_block.filter((F.col("__r") > 0) & (F.col("__s") > 0))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            (
                F.round(
                    F.avg(F.log2(F.col("__r") / F.col("__s"))), 4
                )
                + F.lit(0.0)
            ).alias("mean_log2_rs"),
        )
    )
    per_b = cache.persist(
        per_b.join(F.broadcast(sizes), "b")
    )
    # regress on the exact integer exponent e (= log2 b), not a libm
    # log2 of b — engines may differ in the last ulp even on powers of 2
    h = per_b.agg(
        (
            F.round(
                F.regr_slope(
                    F.col("mean_log2_rs"), F.col("e").cast("double")
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("hurst_h")
    )
    return (
        per_b.crossJoin(F.broadcast(h))
        .select("b", "n_blocks", "mean_log2_rs", "hurst_h")
        .orderBy("b")
    )


def q_sentence_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sentence-length profile: documents split into sentences
    on ``[.!?]+`` runs, each sentence measured in whitespace tokens —
    the Gopher-style readability signal at sentence grain (LLM-corpus
    curation watches the tail: one-word fragments and run-on monsters
    both mark low-quality text).

    One explode per doc into sentences, one aggregate — all JVM; the
    identical split regex runs on both engines, empty/whitespace-only
    fragments are filtered explicitly BEFORE counting on both sides,
    and percentiles interpolate over exact integer token counts."""
    docs = _t(spark, sf_dir, "documents")
    sent = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("__s"),
        )
        .filter(F.trim(F.col("__s")) != "")
        .select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.trim(F.col("__s")), r"\s+"),
                    lambda t: t != "",
                )
            ).cast("long").alias("n_words"),
        )
    )
    return sent.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        (
            F.round(F.avg("n_words").cast("decimal(18,6)"), 2)
            .cast("double")
        ).alias("avg_words"),
        (F.round(F.expr("percentile(n_words, 0.5)"), 4) + F.lit(0.0)).alias(
            "p50_words"
        ),
        (F.round(F.expr("percentile(n_words, 0.9)"), 4) + F.lit(0.0)).alias(
            "p90_words"
        ),
        F.max("n_words").alias("max_words"),
    )


def q_copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: for hub-item pairs
    (top-100 by degree) NOT currently connected, score the classic
    triad — common-neighbor count, Jaccard overlap, Adamic-Adar
    (Σ 1/ln deg(x) over shared neighbors, the inverse-log weighting
    that down-ranks promiscuous hubs) — the "customers also bought"
    candidate generator next to the descriptive `part_cooccurrence`.

    Edges are DISTINCT-(order, part) co-occurrence with pair_count ≥ 2
    (the LPA graph); candidates are generated THROUGH the shared
    neighbor (adj ⋈ adj on x, u < v), so only pairs with ≥1 common
    neighbor ever materialize — no hub×hub cartesian.  Every ranking
    key is an exact integer (cn desc, item ids); Jaccard is an exact
    rational; AA sums ≤deg terms of 1/ln(int) (1e-16 noise vs 1e-4
    rounding).  AA skips degree-1 neighbors (ln 1 = 0) on both sides.

    Scale: adjacency and degree frames are hash-partitioned aggregates;
    the hub filter broadcasts 100 ids; the x-join shuffles on the
    shared-neighbor key like any neighborhood-intersection job.  The
    edge self-join is Σ basket² — TPC-H baskets are ≤7 lines so every
    order survives the 50-line cap unchanged at test scale (oracle
    hash identical), but the cap is what keeps a skewed real-world
    basket (a 10⁵-line B2B order) from detonating into 10¹⁰ pairs at
    100× data (round-7 VERDICT item; same guard as the PMI binding)."""
    li = _t(spark, sf_dir, "lineitem")
    # r13: grouped in-place pair generation replaces the basket
    # self-join, same rewrite as item_item_cosine (one o_orderkey
    # repartition feeds the distinct and the basket collect
    # exchange-free; drop-baskets-over-50 semantics unchanged)
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_partkey")).alias("__items"))
        .filter(F.size("__items") <= 50)
    )
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(__items, (x, i) ->
                      transform(slice(__items, i + 2, size(__items)),
                                y -> struct(x AS a, y AS b))))
                    """
                )
            ).alias("__p")
        )
        .groupBy(F.col("__p.a").alias("u"), F.col("__p.b").alias("v"))
        .agg(F.count(F.lit(1)).alias("__pc"))
        .filter(F.col("__pc") >= 2)
        .select("u", "v")
    )
    edges = cache.persist(edges)
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    hubs = (
        deg.orderBy(F.desc("deg"), F.asc("u"))
        .limit(100)
        .select(F.col("u").alias("hub"))
    )
    # hub semi-filters BEFORE the wedge join: the x-join otherwise
    # materializes Σ deg(x)² rows for the whole graph and discards all
    # but the hub-hub pairs afterwards (review finding, round 7)
    t1 = adj.select(F.col("v").alias("x"), F.col("u").alias("ia")).join(
        F.broadcast(hubs.withColumnRenamed("hub", "ia")), "ia"
    )
    t2 = adj.select(F.col("v").alias("x"), F.col("u").alias("ib")).join(
        F.broadcast(hubs.withColumnRenamed("hub", "ib")), "ib"
    )
    thru = (
        t1.join(t2, "x")
        .filter(F.col("ia") < F.col("ib"))
        .join(
            edges.select(
                F.col("u").alias("ia"), F.col("v").alias("ib")
            ),
            ["ia", "ib"],
            "left_anti",
        )
        .join(deg.select(F.col("u").alias("x"), F.col("deg").alias("dx")), "x")
    )
    scored = thru.groupBy("ia", "ib").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(
            F.when(
                F.col("dx") > 1,
                F.lit(1.0) / F.log(F.col("dx").cast("double")),
            ).otherwise(F.lit(0.0))
        ).alias("__aa"),
    )
    withdeg = (
        scored.join(deg.select(F.col("u").alias("ia"), F.col("deg").alias("deg_a")), "ia")
        .join(deg.select(F.col("u").alias("ib"), F.col("deg").alias("deg_b")), "ib")
    )
    return (
        withdeg.select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            "cn",
            "deg_a",
            "deg_b",
            (
                F.round(
                    F.col("cn").cast("double")
                    / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast(
                        "double"
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
            (F.round(F.col("__aa"), 4) + F.lit(0.0)).alias("adamic_adar"),
        )
        .orderBy(F.desc("cn"), F.asc("item_a"), F.asc("item_b"))
        .limit(30)
    )


def q_growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital decomposition every
    product dashboard runs): each week's active users split exactly
    into NEW (first-ever week), RETAINED (also active the prior week)
    and RESURRECTED (returning after a gap), plus the prior week's
    CHURNED complement and the quick ratio
    (new + resurrected) / churned.  The engagement-analytics capstone
    over the same distinct (user, week) frame WAU uses.

    All set sizes are exact integers from one distinct activity frame
    self-joined at a 7-day shift; the quick ratio is a single rational
    rounded 4 with a churn=0 guard.  Weeks truncate Monday-anchored on
    both engines (`date_trunc('week')` parity)."""
    events = _t(spark, sf_dir, "events")
    act = cache.persist(
        events.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .distinct()
    )
    firstw = act.groupBy("user_id").agg(F.min("week").alias("fw"))
    prev = act.select(
        "user_id", F.date_add(F.col("week"), 7).alias("week")
    ).withColumn("__prev", F.lit(1))
    flags = (
        act.join(firstw, "user_id")
        .join(prev, ["user_id", "week"], "left")
        .select(
            "week",
            F.when(F.col("fw") == F.col("week"), 1).otherwise(0).alias("__new"),
            F.when(F.col("__prev").isNotNull(), 1).otherwise(0).alias("__ret"),
            F.when(
                F.col("__prev").isNull() & (F.col("fw") < F.col("week")), 1
            )
            .otherwise(0)
            .alias("__res"),
        )
    )
    weekly = flags.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("active"),
        F.sum("__new").cast("long").alias("n_new"),
        F.sum("__ret").cast("long").alias("n_retained"),
        F.sum("__res").cast("long").alias("n_resurrected"),
    )
    churn = (
        prev.join(act, ["user_id", "week"], "left_anti")
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    out = weekly.join(churn, "week", "left").select(
        "week",
        "active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("long").alias(
            "n_churned"
        ),
    )
    qr = F.when(
        F.col("n_churned") > 0,
        F.round(
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / F.col("n_churned").cast("double"),
            4,
        )
        + F.lit(0.0),
    )
    return out.withColumn("quick_ratio", qr).orderBy("week")


def q_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis fed by the observed baseline: the
    3-day conversion rate p̂ (the `ab_test_report` metric) becomes the
    control rate, and for absolute lifts δ ∈ {1%, 2%, 5%} the required
    per-arm sample size at α=0.05 (two-sided), power 0.8 is the
    closed-form  n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))² / δ²
    with the two z constants fixed literals (1.959964, 0.841621).
    Reports observed N beside required N, and whether the experiment
    is feasible on current traffic — the go/no-go a real A/B platform
    computes before assignment, not after.

    Every input is an exact integer count or a fixed literal; the n
    formula is elementwise double arithmetic (identical both engines),
    ceil'd to an exact integer."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.when(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            <= F.min("ts") + F.expr("INTERVAL 3 DAY"),
            1,
        )
        .otherwise(0)
        .alias("__conv")
    )
    base = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__conv").cast("long").alias("n_conv"),
    )
    lifts = spark.createDataFrame(
        [(0.01,), (0.02,), (0.05,)], "lift double"
    )
    g = base.crossJoin(F.broadcast(lifts))
    p1 = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    # clamp: the synthetic events' conversion metrics saturate
    # (CLAUDE.md caveat) — an unclamped p1+lift > 1 would NaN the Spark
    # sqrt and ERROR the DuckDB one (driver-red, not degraded)
    p2 = F.least(p1 + F.col("lift"), F.lit(1.0))
    pbar = (p1 + p2) / F.lit(2.0)
    za = F.lit(1.959964)
    zb = F.lit(0.841621)
    # divide by the EFFECTIVE (post-clamp) delta, not the nominal lift:
    # when p1+lift saturates past 1 the nominal-lift n corresponds to an
    # unattainable effect size (round-7 ADVICE) — such rows also carry a
    # 'saturated' verdict, and a fully saturated baseline (p1 = 1) gets
    # a NULL n instead of a division by zero
    eff = p2 - p1
    # explicit x*x, never pow(x, 2): CLAUDE.md libm-parity rule
    root = (
        za * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + zb * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
    ) / eff
    n_req = F.when(eff > F.lit(0.0), F.ceil(root * root).cast("long"))
    return g.select(
        "lift",
        "n_users",
        (F.round(p1, 6) + F.lit(0.0)).alias("baseline_rate"),
        n_req.alias("n_required_per_arm"),
        F.when(p1 + F.col("lift") > F.lit(1.0), F.lit("saturated"))
        .when(
            (F.col("n_users") / 2).cast("long") >= n_req, F.lit("feasible")
        )
        .otherwise(F.lit("underpowered"))
        .alias("verdict"),
    ).orderBy("lift")


def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a monotone trend in the late-shipment
    rate (shipped >60 days after the order date — the synthetic tables
    carry no commit/receipt dates) across the FIVE ordinal order
    priorities (1-URGENT … 5-LOW):
    with ordinal scores wᵢ = i, counts nᵢ (lines) and rᵢ (late lines),
    T = Σwᵢ(rᵢ·N − R·nᵢ),  var(T) = R(N−R)/N · [N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²]
    and z = T/√var — the categorical-trend complement to Mann-Kendall's
    time trend.  T and both variance brackets are EXACT integers
    (cents-trick style); only the final ratio is floating point.

    One scan groups lineitem⋈orders to five rows; everything after is
    constant-size arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per = (
        li.join(
            orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy(
            F.substring("o_orderpriority", 1, 1)
            .cast("long")
            .alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("r_i"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("r_i").cast("long").alias("rr"),
        F.sum(F.col("w") * F.col("r_i")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n_i")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i"))
        .cast("long")
        .alias("swwn"),
    )
    t = (F.col("swr") * F.col("nn") - F.col("rr") * F.col("swn")).cast(
        "double"
    )
    var_t = (
        (F.col("rr") * (F.col("nn") - F.col("rr"))).cast("double")
        / F.col("nn").cast("double")
        * (
            F.col("nn") * F.col("swwn") - F.col("swn") * F.col("swn")
        ).cast("double")
    )
    return agg.select(
        "n_groups",
        "nn",
        "rr",
        (F.round(t / F.sqrt(var_t), 6) + F.lit(0.0)).alias("z_trend"),
    )


def q_source_log_odds_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source by log-odds with a Dirichlet
    prior (Monroe, Colaresi & Quinn 2008 — "Fightin' Words"): for each
    source s and word w, the smoothed log-odds delta vs the REST of the
    corpus, z-scored by its estimated variance
    1/(y_sw+α) + 1/(y_rw+α).  The statistically-sound replacement for
    raw tf-idf source comparisons (it shrinks rare-word noise instead
    of amplifying it) — corpus-mixture drift debugging in one query.

    Counts are exact integers; α is a fixed 0.01 literal; the ln/sqrt
    arithmetic is elementwise (1-2 ulp) against a 1e-4 rounding.  Top
    5 words per source by rounded z (word tiebreak)."""
    docs = _t(spark, sf_dir, "documents")
    wcounts = (
        docs.filter(F.col("text").isNotNull())
        .select("source", F.explode(text.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("y_sw"))
    )
    wcounts = cache.persist(wcounts)
    totals = wcounts.groupBy("source").agg(
        F.sum("y_sw").cast("long").alias("n_s")
    )
    corpus = wcounts.groupBy("w").agg(
        F.sum("y_sw").cast("long").alias("y_w")
    )
    grand = corpus.agg(
        F.sum("y_w").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    alpha = F.lit(0.01)
    j = (
        wcounts.join(totals, "source")
        .join(corpus, "w")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "w",
            "y_sw",
            (F.col("y_w") - F.col("y_sw")).alias("y_rw"),
            "n_s",
            (F.col("n_tot") - F.col("n_s")).alias("n_r"),
            (alpha * F.col("v").cast("double")).alias("a0"),
        )
    )
    ys = F.col("y_sw").cast("double") + alpha
    yr = F.col("y_rw").cast("double") + alpha
    ds = F.col("n_s").cast("double") + F.col("a0") - ys
    dr = F.col("n_r").cast("double") + F.col("a0") - yr
    delta = F.log(ys / ds) - F.log(yr / dr)
    sigma = F.sqrt(F.lit(1.0) / ys + F.lit(1.0) / yr)
    scored = j.select(
        "source",
        "w",
        "y_sw",
        (F.round(delta / sigma, 4) + F.lit(0.0)).alias("z_logodds"),
    )
    wsrc = Window.partitionBy("source").orderBy(
        F.desc("z_logodds"), F.asc("w")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wsrc))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "w", "y_sw", "z_logodds")
        .orderBy("source", "rnk")
    )


def q_streaming_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIFTH streaming shape: watermarked stream DEDUPLICATION
    chained into a windowed aggregate (two stateful operators in one
    query — Spark 3.4+ chained-stateful support).  Each (user, type,
    day) is kept once by ``dropDuplicates`` under a 1-hour watermark,
    then tumbling daily windows count unique users per event type;
    append mode emits exactly the windows the final watermark closed,
    so the result equals the batch DISTINCT aggregate over closed days
    and the entry stays fully hash-checked like the other four
    streaming entries."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    dedup = (
        stream.withColumn("date", F.to_date("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type", "date"])
    )
    agg = (
        dedup.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique_users"))
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "event_type",
            "n_unique_users",
        )
    )
    name = f"stream_dedup_{tag}"
    run_to_memory_sink(agg, name)
    return spark.sql(
        f"SELECT date, event_type, n_unique_users FROM {name}"
    )


def q_revenue_anova_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of 1995 daily revenue against two calendar
    factors (weekday, month): per factor, the between-group F statistic
    and effect size η² — the "is there a weekday effect worth
    modeling?" gate before seasonal decomposition.

    Sums of squares use the binseg identity ΣS_g²/n_g − S²/N over
    EXACT integer cent sums (per-term double arithmetic identical
    across engines; the ≤12-term outer sums carry ~1e-15 relative
    noise vs the 1e-4 rounding).  Weekday parity: Spark weekday()+1 ==
    DuckDB isodow (CLAUDE.md date-part rule)."""
    daily = cache.persist(
        _daily_cents_1995(spark, sf_dir)
        .select(
            "day",
            "cents",
            (F.weekday("day") + 1).cast("long").alias("wd"),
            F.month("day").cast("long").alias("mo"),
        )
    )

    def one_way(col: str, label: str) -> DataFrame:
        grp = daily.groupBy(col).agg(
            F.sum("cents").cast("long").alias("s_g"),
            F.count(F.lit(1)).cast("long").alias("n_g"),
        )
        tot = daily.agg(
            F.sum("cents").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.col("cents").cast("double") * F.col("cents").cast("double")
            ).alias("ss_raw"),
        )
        agg = grp.agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g").cast("double")
            ).alias("ss_grp"),
        ).crossJoin(F.broadcast(tot))
        ss_between = F.col("ss_grp") - (
            F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        ss_total = F.col("ss_raw") - (
            F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        ss_within = ss_total - ss_between
        fstat = (ss_between / (F.col("k") - 1).cast("double")) / (
            ss_within / (F.col("n") - F.col("k")).cast("double")
        )
        return agg.select(
            F.lit(label).alias("factor"),
            "k",
            "n",
            (F.round(fstat, 4) + F.lit(0.0)).alias("f_stat"),
            (F.round(ss_between / ss_total, 4) + F.lit(0.0)).alias(
                "eta_sq"
            ),
        )

    return one_way("wd", "weekday").unionByName(
        one_way("mo", "month")
    ).orderBy("factor")


def q_categorical_mi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between categorical order columns (priority,
    status, order-year) for every pair — the dependency profiler that
    catches redundant columns before feature engineering (MI=0 ⇒
    independent; MI ≈ min entropy ⇒ one determines the other).
    Plug-in estimator I = Σ p_xy·ln(p_xy/(p_x·p_y)) in nats from exact
    joint/marginal counts (N cancels: each term is
    c_xy/N · ln(c_xy·N/(c_x·c_y)) — all-integer ratios inside the ln),
    with Cramér's V beside it (χ² over the same cells normalized by
    N·min(r−1, c−1) — the bounded-[0,1] association strength MI's
    nats don't directly give).

    One scan per pair over a 3-column projection; joint tables are
    tiny (≤5×12) and the marginals broadcast."""
    orders = _t(spark, sf_dir, "orders")
    base = cache.persist(
        orders.select(
            F.substring("o_orderpriority", 1, 1).alias("prio"),
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("string").alias("oyear"),
        )
    )

    def mi(a: str, b: str) -> DataFrame:
        joint = base.groupBy(a, b).agg(
            F.count(F.lit(1)).cast("long").alias("c_xy")
        )
        ma = base.groupBy(a).agg(F.count(F.lit(1)).cast("long").alias("c_x"))
        mb = base.groupBy(b).agg(F.count(F.lit(1)).cast("long").alias("c_y"))
        n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
        j = (
            joint.join(F.broadcast(ma), a)
            .join(F.broadcast(mb), b)
            .crossJoin(F.broadcast(n))
        )
        term = (
            F.col("c_xy").cast("double") / F.col("n").cast("double")
        ) * F.log(
            (F.col("c_xy").cast("double") * F.col("n").cast("double"))
            / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
        )
        # chi² over ALL cells collapses to N·(Σ c_xy²/(c_x·c_y) − 1)
        # (missing cells' o=0 contributions fold into the −1), so the
        # observed-cell sum suffices
        vterm = (
            F.col("c_xy").cast("double") * F.col("c_xy").cast("double")
        ) / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
        agg = j.agg(
            F.max(F.lit(f"{a}~{b}")).alias("pair"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            (F.round(F.sum(term), 6) + F.lit(0.0)).alias("mi_nats"),
            F.sum(vterm).alias("__s2"),
            F.count_distinct(a).cast("long").alias("__r"),
            F.count_distinct(b).cast("long").alias("__c"),
        )
        v = F.sqrt(
            (F.col("__s2") - F.lit(1.0))
            / (F.least(F.col("__r"), F.col("__c")) - 1).cast("double")
        )
        return agg.select(
            "pair",
            "n_cells",
            "mi_nats",
            (F.round(v, 6) + F.lit(0.0)).alias("cramers_v"),
        )

    return (
        mi("prio", "status")
        .unionByName(mi("prio", "oyear"))
        .unionByName(mi("status", "oyear"))
        .orderBy("pair")
    )


def q_lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmental type-token ratio (MSTTR-100): raw corpus TTR shrinks
    with length (Heaps' law — `heaps_law_fit`), so the comparable
    diversity signal averages the TTR of consecutive 100-token
    segments, discarding the ragged tail segment.  Reports corpus TTR
    beside MSTTR with segment counts — the pair a curation pipeline
    thresholds on for template/boilerplate detection.

    Exact integer counts throughout; the two ratios and the ≤1 final
    average are the only float ops."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(text.tokens("text")).alias("pos0", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    segs = toks.select(
        "doc_id",
        (F.col("pos0") / 100).cast("long").alias("seg"),
        "tok",
    )
    per_seg = segs.groupBy("doc_id", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.count_distinct("tok").cast("long").alias("n_typ"),
    )
    full = per_seg.filter(F.col("n_tok") == 100)
    msttr = full.agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        (
            F.round(
                F.avg(
                    F.col("n_typ").cast("double") / F.lit(100.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("msttr_100"),
    )
    corpus = toks.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct("tok").cast("long").alias("n_types"),
    )
    return corpus.crossJoin(F.broadcast(msttr)).select(
        "n_docs",
        "n_tokens",
        "n_types",
        (
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("corpus_ttr"),
        "n_segments",
        "msttr_100",
    )


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIXTH streaming shape: a stream-STATIC enrichment join —
    the streaming events join a batch-computed dimension (each user's
    first-seen cohort week) with no state on the static side (Spark
    re-broadcasts the batch frame per micro-batch), then a watermarked
    daily window counts events per cohort.  This is
    the canonical "enrich the stream against the warehouse dim" job;
    the oracle is the identical batch join restricted to closed
    windows."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
    )

    events_batch = _t(spark, sf_dir, "events")
    cohorts = events_batch.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    stream, tag = _staged_event_stream(spark, sf_dir)
    enriched = stream.join(cohorts, "user_id").withWatermark("ts", "1 hour")
    agg = (
        enriched.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("cohort_week")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "cohort_week",
            "n_events",
        )
    )
    name = f"stream_enrich_{tag}"
    run_to_memory_sink(agg, name)
    return spark.sql(
        f"SELECT date, cohort_week, n_events FROM {name}"
    )


def q_inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration triple over per-customer 1995 revenue:
    Theil-T entropy index Σ(x/X)·ln(x·N/X), Atkinson(ε=0.5)
    1 − (Σ√x / N)²/μ, and the top-decile share — the inequality
    measures that decompose where the Gini (already in
    `revenue_concentration`) cannot.  Customer revenue is exact
    integer cents; √ and ln are correctly-rounded unaries over exact
    inputs feeding a rounded 6 output; the decile cut uses ntile over
    a deterministic (cents, custkey) order."""
    orders = _t(spark, sf_dir, "orders")
    per = (
        orders.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    per = cache.persist(per)
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("x_tot"),
    )
    j = per.crossJoin(F.broadcast(tot))
    theil_term = (
        F.col("cents").cast("double") / F.col("x_tot").cast("double")
    ) * F.log(
        F.col("cents").cast("double")
        * F.col("n").cast("double")
        / F.col("x_tot").cast("double")
    )
    sums = j.agg(
        F.max("n").alias("n_customers"),
        F.sum(theil_term).alias("__theil"),
        F.sum(F.sqrt(F.col("cents").cast("double"))).alias("__sqrt_sum"),
        F.max("x_tot").alias("__xt"),
    )
    mean = F.col("__xt").cast("double") / F.col("n_customers").cast("double")
    sq_mean = F.col("__sqrt_sum") / F.col("n_customers").cast("double")
    atkinson = F.lit(1.0) - (sq_mean * sq_mean) / mean
    # distributed rank ladder (round 10) over the per-customer frame —
    # DESC revenue order == ASC on the negated key; floor(n/10) rank
    # cut gives engine-identical ties
    deciled = scale.binned_row_number(
        per.withColumn("__negc", -F.col("cents")),
        ["__negc", "o_custkey"],
        out_col="__r",
    ).crossJoin(F.broadcast(tot.select(F.col("n").alias("__n"))))
    top_share = deciled.agg(
        (
            F.sum(
                F.when(
                    F.col("__r") <= F.floor(F.col("__n") / 10), F.col("cents")
                ).otherwise(0)
            ).cast("double")
            / F.sum("cents").cast("double")
        ).alias("ts")
    )
    return (
        sums.crossJoin(F.broadcast(top_share))
        .select(
            "n_customers",
            (F.round(F.col("__theil"), 6) + F.lit(0.0)).alias("theil_t"),
            (F.round(atkinson, 6) + F.lit(0.0)).alias("atkinson_05"),
            (F.round(F.col("ts"), 6) + F.lit(0.0)).alias(
                "top_decile_share"
            ),
        )
    )


def q_views_purchases_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily view counts and daily
    purchase counts at lags −7…+7 (positive lag = views LEAD
    purchases): the operator that answers "how many days after a view
    spike does the purchase spike land?" — the temporal complement to
    the contemporaneous `rolling_view_purchase_corr`.

    Both series are exact integer daily counts on a dense day spine;
    each lag's Pearson r runs over the inner-joined overlap via one
    `corr` aggregate per lag (15 bounded aggregates over the per-day
    frame — no raw-event work after the first reduction)."""
    events = _t(spark, sf_dir, "events")
    daily = cache.persist(
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_view"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_buy"),
        )
    )
    lags = spark.createDataFrame(
        [(lag,) for lag in range(-7, 8)], "lag long"
    )
    shifted = daily.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_add(F.col("day"), F.col("lag").cast("int")).alias("day"),
        F.col("n_view").alias("v"),
    )
    joined = shifted.join(
        daily.select("day", F.col("n_buy").alias("b")), "day"
    )
    return (
        joined.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.round(
                    F.corr(F.col("v").cast("double"), F.col("b").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


def q_newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor order-up-to levels for the five highest-volume parts:
    with underage:overage cost 9:1 the optimal stock is the 0.9
    critical fractile of daily demand — the inventory-decision query a
    supply-chain consumer of this engine runs daily.  Demand = summed
    ship-date quantities over OBSERVED demand days (documented; zero
    days excluded).  Quantities are exact integers; the percentile
    interpolates identical doubles; top-5 selection ties break on
    partkey."""
    li = _t(spark, sf_dir, "lineitem")
    daily = cache.persist(
        li.groupBy(
            F.col("l_partkey"), F.to_date("l_shipdate").alias("day")
        )
        .agg(F.sum("l_quantity").cast("long").alias("demand"))
    )
    top5 = (
        daily.groupBy("l_partkey")
        .agg(F.sum("demand").cast("long").alias("__vol"))
        .orderBy(F.desc("__vol"), F.asc("l_partkey"))
        .limit(5)
        .select("l_partkey")
    )
    return (
        daily.join(F.broadcast(top5), "l_partkey")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("demand").cast("long").alias("total_demand"),
            (
                F.round(
                    F.avg("demand").cast("decimal(18,6)"), 2
                ).cast("double")
            ).alias("mean_daily"),
            (
                F.round(F.expr("percentile(demand, 0.9)"), 4) + F.lit(0.0)
            ).alias("stock_level_q90"),
        )
        .orderBy("l_partkey")
    )


def q_user_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-user event inter-arrival profile: per-user gaps between
    consecutive events ((ts, event_id) order — duplicate timestamps
    tie-break deterministically), pooled into corpus percentiles — the
    activity-cadence signal behind session-gap tuning and bot
    screening.  Gaps are computed in EXACT integer micros (CLAUDE.md
    timestamp rule) and divided once into seconds."""
    events = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    gaps = (
        events.select(
            "user_id",
            (
                F.unix_micros("ts")
                - F.lag(F.unix_micros("ts")).over(wu)
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (
            F.round(
                F.expr("percentile(gap_us, 0.5)") / F.lit(1000000.0).cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("p50_gap_s"),
        (
            F.round(
                F.expr("percentile(gap_us, 0.9)") / F.lit(1000000.0).cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("p90_gap_s"),
        (
            F.round(
                (
                    F.sum("gap_us").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                / F.lit(1000000.0).cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("mean_gap_s"),
    )


def q_residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series residual diagnostics for the weekday-adjusted 1995
    daily revenue — the three classical "is anything left in the
    residuals?" tests run after any seasonal adjustment:
    Durbin-Watson (lag-1), Ljung-Box Q over lags 1-7, and the
    Wald-Wolfowitz runs test on residual signs.

    Residuals are exact rationals (cents − weekday-group mean, both
    exact integers divided once); lag pairs come from an idx self-join
    over the bounded day spine; the runs statistic and its moments are
    pure integers — only the final ratios are floats (round 4)."""
    daily = _daily_cents_1995(spark, sf_dir)
    wd = daily.select(
        "day", "cents", (F.weekday("day") + 1).alias("wd")
    )
    grp = wd.groupBy("wd").agg(
        F.sum("cents").cast("long").alias("s_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    wdx = Window.orderBy("day")
    resid = cache.persist(
        wd.join(F.broadcast(grp), "wd")
        .select(
            F.row_number().over(wdx).alias("idx"),
            (
                F.col("cents").cast("double")
                - F.col("s_g").cast("double") / F.col("n_g").cast("double")
            ).alias("r"),
        )
    )
    base = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("r") * F.col("r")).alias("__ss"),
    )
    lagged = resid.alias("a").join(
        resid.alias("b"), F.col("a.idx") == F.col("b.idx") + 1
    )
    dw = lagged.agg(
        F.sum(
            (F.col("a.r") - F.col("b.r")) * (F.col("a.r") - F.col("b.r"))
        ).alias("__num")
    )
    lags = spark.createDataFrame([(k,) for k in range(1, 8)], "k long")
    pairs = (
        resid.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            resid.alias("b"),
            F.col("a.idx") == F.col("b.idx") + F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum(F.col("a.r") * F.col("b.r")).alias("__num"))
    )
    lb = (
        pairs.crossJoin(F.broadcast(base))
        .select(
            "k",
            (
                (F.col("__num") / F.col("__ss"))
                * (F.col("__num") / F.col("__ss"))
                / (F.col("n_days") - F.col("k")).cast("double")
            ).alias("__t"),
        )
        .agg(F.sum("__t").alias("__lbsum"))
    )
    signs = resid.select(
        "idx", F.when(F.col("r") > 0, 1).otherwise(0).alias("s")
    )
    runs = (
        signs.alias("a")
        .join(signs.alias("b"), F.col("a.idx") == F.col("b.idx") + 1)
        .agg(
            F.sum(
                F.when(F.col("a.s") != F.col("b.s"), 1).otherwise(0)
            ).cast("long").alias("__changes")
        )
    )
    nsign = signs.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n2"),
    )
    j = (
        base.crossJoin(F.broadcast(dw))
        .crossJoin(F.broadcast(lb))
        .crossJoin(F.broadcast(runs))
        .crossJoin(F.broadcast(nsign))
    )
    n = F.col("n_days").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    r_obs = (F.col("__changes") + 1).cast("double")
    e_r = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    var_r = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - F.lit(1.0)))
    )
    return j.select(
        "n_days",
        (F.round(F.col("__num") / F.col("__ss"), 4) + F.lit(0.0)).alias(
            "durbin_watson"
        ),
        (
            F.round(n * (n + F.lit(2.0)) * F.col("__lbsum"), 4)
            + F.lit(0.0)
        ).alias("ljung_box_q7"),
        r_obs.cast("long").alias("n_runs"),
        (
            F.round((r_obs - e_r) / F.sqrt(var_r), 4) + F.lit(0.0)
        ).alias("runs_z"),
    )


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B surface: the
    parity-hash assignment (`ab_test_report`'s split) is designed
    50/50, so the observed (n_a, n_b) must pass a one-df chi-square
    against equal expecteds — χ² = (n_a−n_b)²/(n_a+n_b), every input
    an exact integer, flag at the 0.001 critical value 10.828 on the
    4-decimal-rounded statistic (CLAUDE.md threshold rule).  SRM is
    the first thing a real experimentation pipeline checks before any
    lift number is allowed to ship."""
    events = _t(spark, sf_dir, "events")
    agg = (
        events.select("user_id")
        .distinct()
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    d = (F.col("n_a") - F.col("n_b")).cast("double")
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    chi2 = F.round(d * d / tot, 4) + F.lit(0.0)
    return agg.select(
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        F.when(chi2 > 10.828, F.lit("SRM")).otherwise(F.lit("OK")).alias(
            "verdict"
        ),
    )


def q_sprt_conversion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability-ratio test on the 3-day conversion
    rate, processed in first-event-day cohort order: H0 p=0.50 vs
    H1 p=0.55, α=β=0.05.  The log-likelihood ratio after cohort day t
    is conv_t·ln(p1/p0) + (n_t−conv_t)·ln(q1/q0) — both cumulative
    counts are exact integers (window sums of integers), the two ln
    constants are evaluated once per engine (≤1 ulp apart, scaled by
    ~1e4 counts → 1e-13 noise vs the 1e-6 rounding), and the decision
    bounds are ±ln(19).  Emits the per-day LLR path with the running
    decision — the operator a real dashboard polls daily instead of
    peeking a fixed-horizon z-test."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day"),
        F.when(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            <= F.min("ts") + F.expr("INTERVAL 3 DAY"),
            1,
        )
        .otherwise(0)
        .alias("__conv"),
    )
    daily = per_user.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_day"),
        F.sum("__conv").cast("long").alias("conv_day"),
    )
    w = Window.orderBy("cohort_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "cohort_day",
        F.sum("n_day").over(w).alias("n_t"),
        F.sum("conv_day").over(w).alias("conv_t"),
    )
    k1 = F.log(F.lit(0.55) / F.lit(0.50))
    k2 = F.log(F.lit(0.45) / F.lit(0.50))
    llr = (
        F.col("conv_t").cast("double") * k1
        + (F.col("n_t") - F.col("conv_t")).cast("double") * k2
    )
    bound = F.round(F.log(F.lit(19.0)), 6)
    return cum.select(
        "cohort_day",
        "n_t",
        "conv_t",
        (F.round(llr, 6) + F.lit(0.0)).alias("llr"),
        F.when(F.round(llr, 6) >= bound, F.lit("accept_h1"))
        .when(F.round(llr, 6) <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("cohort_day")


def q_bootstrap_ci_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap CI for the mean daily revenue of 1995:
    200 deterministic resamples of the n-day series, each drawing n
    days with replacement via a Lehmer LCG over (resample, draw)
    (x = 48271·(b·1000003 + i) mod 2³¹−1 — pure integer arithmetic
    both engines reproduce exactly; no RNG, no hash builtins).  Each
    resample mean divides an exact integer cent sum by n·100, so both
    engines interpolate percentiles over identical doubles.

    Scale shape: the fact collapses to the per-day spine FIRST; the
    resample grid is days×B rows (~73k) joined to the spine on the
    day index — bounded by the day count, independent of fact volume."""
    daily = _daily_cents_1995(spark, sf_dir)
    wd = Window.orderBy("day")
    indexed = cache.persist(
        daily.select(
            F.row_number().over(wd).alias("idx"), "cents"
        )
    )
    n_row = indexed.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        n_row.select(
            "n", F.explode(F.sequence(F.lit(1), F.lit(200))).alias("b")
        )
        .select(
            "n", "b", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i")
        )
        .select(
            "n",
            "b",
            (
                (
                    F.lit(48271)
                    * (F.col("b") * F.lit(1000003) + F.col("i"))
                )
                % F.lit(2147483647)
            )
            % F.col("n")
            + 1,
        )
        .toDF("n", "b", "idx")
    )
    means = (
        grid.join(F.broadcast(indexed), "idx")
        .groupBy("b")
        .agg(
            (
                F.sum("cents").cast("double")
                / (F.max("n") * 100).cast("double")
            ).alias("mean_rev")
        )
    )
    point = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.sum("cents").cast("double")
            / (F.count(F.lit(1)) * 100).cast("double")
        ).alias("mean_rev"),
    )
    ci = means.agg(
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
        (F.round(F.expr("percentile(mean_rev, 0.025)"), 4) + F.lit(0.0)).alias(
            "ci_lo"
        ),
        (F.round(F.expr("percentile(mean_rev, 0.5)"), 4) + F.lit(0.0)).alias(
            "boot_median"
        ),
        (F.round(F.expr("percentile(mean_rev, 0.975)"), 4) + F.lit(0.0)).alias(
            "ci_hi"
        ),
    )
    return point.select(
        "n_days", (F.round(F.col("mean_rev"), 4) + F.lit(0.0)).alias("mean_rev")
    ).crossJoin(F.broadcast(ci))


def q_recsys_eval_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender evaluation harness on a leave-last-order-out split:
    for every customer with ≥2 orders, the LAST order (orderdate,
    orderkey tiebreak) is held out; the popularity baseline recommends
    the 20 parts appearing in the most TRAINING orders (count desc,
    partkey tiebreak); report hit-rate@20, mean precision@20 and mean
    recall@20 over evaluated customers.  This is the evaluation
    counterpart to `als_part_recommender` — every serving change needs
    a baseline number to beat, and popularity IS that baseline.

    All counts are exact integers; the per-user rational metrics are
    averaged once (1e-16 float noise vs 1e-6 rounding).  Lineitem's
    duplicate (orderkey, linenumber) caveat is absorbed by DISTINCT
    (order, part) pairs before any counting."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    wc = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(wc).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("__n"),
    ).filter(F.col("__n") >= 2)
    holdout = ranked.filter(F.col("__r") == 1).select(
        "o_custkey", "o_orderkey"
    )
    train = ranked.filter(F.col("__r") > 1).select("o_orderkey")
    pairs = li.select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
    ).distinct()
    top20 = (
        train.join(pairs, "o_orderkey")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("l_partkey"))
        .limit(20)
        .select("l_partkey")
    )
    test_items = holdout.join(pairs, "o_orderkey").select(
        "o_custkey", "l_partkey"
    )
    per_user = (
        test_items.join(
            F.broadcast(top20.withColumn("__hit", F.lit(1))),
            "l_partkey",
            "left",
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.round(
                F.avg(
                    F.when(F.col("n_hit") > 0, 1.0).otherwise(0.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("hit_rate_20"),
        (
            F.round(
                F.avg(F.col("n_hit").cast("double") / F.lit(20.0)), 6
            )
            + F.lit(0.0)
        ).alias("precision_20"),
        (
            F.round(
                F.avg(
                    F.col("n_hit").cast("double")
                    / F.col("n_test").cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("recall_20"),
    )


def _purchase_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival spine: per-user whole-day time-to-first-purchase
    (right-censored at the last observed event) with the parity-hash
    segment — the `purchase_survival_km` derivation plus the A/B split.
    One groupBy over events; every duration is an integer datediff."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__first"),
        F.max(F.to_date("ts")).alias("__last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("__purchase"),
    )
    return per_user.select(
        F.coalesce(
            F.datediff("__purchase", "__first"),
            F.datediff("__last", "__first"),
        ).alias("t"),
        F.col("__purchase").isNotNull().alias("observed"),
        (F.col("user_id") % 2).cast("int").alias("seg"),
    )


def q_logrank_purchase_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logrank (Mantel-Cox) test comparing time-to-first-purchase
    between the two parity-hash segments — the survival-analysis
    counterpart of `ab_test_report`'s proportion z-test, sharing the
    `purchase_survival_km` duration derivation.

    At each event day t: observed segment-A deaths d_a, expected under
    H0 e_a = d·n_a/n (hypergeometric mean), variance
    v = d·n_a·n_b·(n−d) / (n²·(n−1)).  All risk-set quantities are
    exact integers from window sums over the ≤31-row day table (the
    events window spans 30 days), the per-day products stay below 2^53
    so the doubles are exact, and both engines sum the same ≤31 terms.
    χ² = (O_a−E_a)²/V on one df.

    Scale shape: the fact collapses to per-user rows once, then to a
    day-count-bounded risk table — identical posture to KM."""
    dur = _purchase_durations(spark, sf_dir)
    risk = dur.groupBy("t").agg(
        F.sum(
            F.when(F.col("observed") & (F.col("seg") == 0), 1).otherwise(0)
        ).cast("long").alias("d_a"),
        F.sum(
            F.when(F.col("observed") & (F.col("seg") == 1), 1).otherwise(0)
        ).cast("long").alias("d_b"),
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    w_after = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    with_n = risk.select(
        "t",
        "d_a",
        "d_b",
        F.sum("x_a").over(w_after).alias("n_a"),
        F.sum("x_b").over(w_after).alias("n_b"),
    ).filter((F.col("d_a") + F.col("d_b")) > 0)
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    terms = with_n.select(
        F.col("d_a").alias("__oa"),
        (d * n_a / n).alias("__ea"),
        F.when(
            n > F.lit(1.0),
            d * n_a * n_b * (n - d) / (n * n * (n - F.lit(1.0))),
        )
        .otherwise(F.lit(0.0))
        .alias("__v"),
    )
    agg = terms.agg(
        F.sum("__oa").cast("long").alias("observed_a"),
        F.sum("__ea").alias("__E"),
        F.sum("__v").alias("__V"),
    )
    diff = F.col("observed_a").cast("double") - F.col("__E")
    return agg.select(
        "observed_a",
        (F.round(F.col("__E"), 4) + F.lit(0.0)).alias("expected_a"),
        (F.round(diff / F.sqrt(F.col("__V")), 4) + F.lit(0.0)).alias(
            "logrank_z"
        ),
        (F.round(diff * diff / F.col("__V"), 4) + F.lit(0.0)).alias(
            "logrank_chi2"
        ),
    )


def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-first-
    purchase: H(t) = Σ_{t'≤t} d/n over the same per-day risk table the
    KM curve uses — the hazard-scale view KM's survival scale hides
    (and the standard input to proportional-hazards eyeballing).

    Each increment d/n divides exact integers ONCE; the cumulative sum
    runs in deterministic t order on both engines (identical sequential
    double additions), so round(6) is bit-stable."""
    dur = _purchase_durations(spark, sf_dir)
    risk = dur.groupBy("t").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.count(F.lit(1)).cast("long").alias("__exits"),
    )
    w_after = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_upto = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_n = risk.withColumn("n_at_risk", F.sum("__exits").over(w_after))
    return (
        with_n.withColumn(
            "__h", F.col("d").cast("double") / F.col("n_at_risk").cast("double")
        )
        .select(
            "t",
            "d",
            "n_at_risk",
            (F.round(F.sum("__h").over(w_upto), 6) + F.lit(0.0)).alias(
                "cum_hazard"
            ),
        )
        .filter(F.col("d") > 0)
        .orderBy("t")
    )


def q_wilcoxon_halfyear_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test pairing each 1995 day with the day 183
    days later (first half vs second half, same weekday phase mod 7 —
    183 ≡ 1 (mod 7) keeps the weekday drift to one step): the
    nonparametric paired complement to the unpaired Mann-Whitney entry.

    EXACT integer arithmetic throughout: diffs are integer cents, tied
    |diff| groups get average ranks carried as 2×rank integers
    (2·minrank + t − 1), W⁺ accumulates in that doubled scale, and the
    tie-corrected variance numerator 2n(n+1)(2n+1) − Σ(t³−t) is one
    integer — both engines divide identical integers exactly once for
    z.  The pair stage is day-bounded (≤182 rows)."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wi).alias("i"), F.col("cents")
    )
    pairs = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("b.i") == F.col("a.i") + 183)
        .select(
            (F.col("b.cents") - F.col("a.cents")).alias("diff")
        )
        .filter(F.col("diff") != 0)
    )
    wr = Window.orderBy(F.abs(F.col("diff")))
    wt = Window.partitionBy(F.abs(F.col("diff")))
    ranked = pairs.select(
        "diff",
        F.rank().over(wr).alias("__mr"),
        F.count(F.lit(1)).over(wt).alias("__t"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(
                F.col("diff") > 0,
                F.lit(2) * F.col("__mr") + F.col("__t") - 1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("__w2"),
        # each tie group of size t contributes t·(t³−t) summed per ROW;
        # divide by t once: sum (t³−t) per distinct group = sum over
        # rows of (t²−1)
        F.sum(F.col("__t") * F.col("__t") - 1).cast("long").alias("__ties"),
    )
    n = F.col("n_pairs")
    var_num = (
        F.lit(2) * n * (n + 1) * (2 * n + 1) - F.col("__ties")
    ).cast("double")
    w_plus = F.col("__w2").cast("double") / F.lit(2.0)
    mean_w = (n * (n + 1)).cast("double") / F.lit(4.0)
    z = (w_plus - mean_w) / F.sqrt(var_num / F.lit(48.0))
    return agg.select(
        "n_pairs",
        (F.round(w_plus, 1) + F.lit(0.0)).alias("w_plus"),
        (F.round(z, 4) + F.lit(0.0)).alias("wilcoxon_z"),
    )


def q_bh_fdr_event_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over the five per-event-type share-drift
    tests (first 15 days vs last 15 of the events window, two-proportion
    pooled z) — the multiple-testing control layer every metrics
    platform needs on top of the single-test entries (ab_test_report,
    srm_check).

    Engine parity without erf: BH at α=0.05, m=5 compares p_(k) ≤
    0.05·k/5, which on the z scale is |z|_(k) ≥ z_crit(0.01·k) — five
    FIXED two-sided critical literals, so no normal CDF is evaluated.
    |z| rounds to 4 before every comparison (CLAUDE.md threshold rule);
    ranking ties break on event_type.  All counts are exact integers;
    the step-up "largest passing rank" is a window max over 5 rows."""
    events = _t(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.to_date("ts")).alias("__d0"))
    flagged = events.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.when(
            F.to_date("ts") < F.date_add(F.col("__d0"), 15), 1
        ).otherwise(0).alias("__h1"),
    )
    per_type = flagged.groupBy("event_type").agg(
        F.sum("__h1").cast("long").alias("n_first"),
        F.sum(F.lit(1) - F.col("__h1")).cast("long").alias("n_second"),
    )
    tot = flagged.agg(
        F.sum("__h1").cast("long").alias("__N1"),
        F.sum(F.lit(1) - F.col("__h1")).cast("long").alias("__N2"),
    )
    g = per_type.crossJoin(F.broadcast(tot))
    p1 = F.col("n_first").cast("double") / F.col("__N1").cast("double")
    p2 = F.col("n_second").cast("double") / F.col("__N2").cast("double")
    pooled = (F.col("n_first") + F.col("n_second")).cast("double") / (
        F.col("__N1") + F.col("__N2")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("__N1").cast("double")
            + F.lit(1.0) / F.col("__N2").cast("double")
        )
    )
    scored = g.select(
        "event_type",
        "n_first",
        "n_second",
        (F.round(F.abs((p2 - p1) / se), 4) + F.lit(0.0)).alias("z_abs"),
    )
    wrank = Window.orderBy(F.desc("z_abs"), F.asc("event_type"))
    crit = (
        F.when(F.col("bh_rank") == 1, F.lit(2.575829))
        .when(F.col("bh_rank") == 2, F.lit(2.326348))
        .when(F.col("bh_rank") == 3, F.lit(2.170090))
        .when(F.col("bh_rank") == 4, F.lit(2.053749))
        .otherwise(F.lit(1.959964))
    )
    ranked = scored.withColumn(
        "bh_rank", F.row_number().over(wrank)
    ).withColumn(
        "__pass_rank",
        F.when(F.col("z_abs") >= crit, F.col("bh_rank")).otherwise(0),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ranked.withColumn("__kstar", F.max("__pass_rank").over(wall))
        .select(
            "event_type",
            "n_first",
            "n_second",
            "z_abs",
            "bh_rank",
            F.when(F.col("bh_rank") <= F.col("__kstar"), F.lit("reject"))
            .otherwise(F.lit("keep"))
            .alias("bh_verdict"),
        )
        .orderBy("bh_rank")
    )


def q_theil_u2_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality scorecard for the seasonal-naive (t−7) forecast
    of 1995 daily revenue: Theil's U2 (forecast relative errors over
    naive-1 relative errors — U2 < 1 means the forecast beats "no
    change") and MASE with the naive-1 denominator — the two
    scale-free accuracy metrics every backtest report carries,
    complementing `seasonal_naive_backtest`'s raw errors.

    MASE is a ratio of EXACT integer |diff| sums (one division per
    side); U2's per-day relative errors divide exact integer cents
    pairs once each, and the two ≤358-term square sums round at 6 far
    above accumulation noise.  Day-bounded lag self-joins on the cached
    spine — fact volume never enters the pair stage."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(F.row_number().over(wi).alias("i"), "cents")
    a = idx.alias("a")
    l1 = idx.select(F.col("i").alias("__i1"), F.col("cents").alias("c1"))
    l7 = idx.select(F.col("i").alias("__i7"), F.col("cents").alias("c7"))
    j = (
        a.join(l1, F.col("a.i") == F.col("__i1") + 1)
        .join(l7, F.col("a.i") == F.col("__i7") + 7)
        .select(F.col("a.cents").alias("c0"), "c1", "c7")
    )
    fe = (F.col("c7") - F.col("c0")).cast("double") / F.col("c1").cast(
        "double"
    )
    ne = (F.col("c0") - F.col("c1")).cast("double") / F.col("c1").cast(
        "double"
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(fe * fe).alias("__sf"),
        F.sum(ne * ne).alias("__sn"),
        F.sum(F.abs(F.col("c7") - F.col("c0"))).cast("long").alias("__a7"),
        F.sum(F.abs(F.col("c0") - F.col("c1"))).cast("long").alias("__a1"),
    )
    return agg.select(
        "n_days",
        (
            F.round(F.sqrt(F.col("__sf") / F.col("__sn")), 6) + F.lit(0.0)
        ).alias("theil_u2"),
        (
            F.round(
                F.col("__a7").cast("double") / F.col("__a1").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mase_seasonal7"),
    )


def q_spectral_entropy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy over the candidate-cycle periodogram
    (`revenue_periodogram`'s five business periods): H = −Σ q ln q /
    ln(5) on the power shares renormalized to sum 1 — the single-number
    "how concentrated is the seasonality" signal (0 = one pure cycle,
    1 = white), plus the dominant period.  Same float-parity posture as
    the periodogram (mod-reduced phase, exact-cents mean, round 6);
    the entropy adds five more ln terms."""
    two_pi = 6.283185307179586
    daily = cache.persist(
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cents")
        )
    )
    stats = daily.agg(
        F.min("day").alias("d0"),
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    base = daily.crossJoin(F.broadcast(stats)).select(
        F.datediff("day", "d0").alias("i"),
        (
            F.col("cents").cast("double") / F.lit(100.0)
            - F.col("tot").cast("double")
            / (F.col("n").cast("double") * F.lit(100.0))
        ).alias("dev"),
        F.col("n").cast("double").alias("nd"),
    )
    per = base.select(
        "i", "dev", "nd",
        F.explode(
            F.array(*[F.lit(p) for p in _PERIODOGRAM_PERIODS])
        ).alias("p"),
    ).withColumn(
        "theta",
        (F.col("i") % F.col("p")).cast("double")
        * F.lit(two_pi)
        / F.col("p").cast("double"),
    )
    agg = per.groupBy("p").agg(
        F.sum(F.col("dev") * F.cos("theta")).alias("c"),
        F.sum(F.col("dev") * F.sin("theta")).alias("s"),
        F.sum(F.col("dev") * F.col("dev")).alias("ss"),
        F.max("nd").alias("nd"),
    )
    pw = F.col("c") * F.col("c") + F.col("s") * F.col("s")
    shares = agg.select(
        "p",
        (F.lit(2.0) * pw / (F.col("nd") * F.col("ss"))).alias("sh"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    qn = F.col("sh") / F.sum("sh").over(wall)
    normed = shares.select(
        "p", "sh", qn.alias("q"), (-qn * F.log(qn)).alias("__h")
    )
    wtop = Window.orderBy(F.desc("sh"), F.asc("p"))
    top = normed.withColumn("__r", F.row_number().over(wtop)).filter(
        F.col("__r") == 1
    )
    ent = normed.agg(F.sum("__h").alias("__ent_total"))
    return top.crossJoin(F.broadcast(ent)).select(
        F.col("p").cast("long").alias("dominant_period"),
        (F.round(F.col("sh"), 6) + F.lit(0.0)).alias("dominant_share"),
        (
            F.round(F.col("__ent_total") / F.log(F.lit(5.0)), 6)
            + F.lit(0.0)
        ).alias("spectral_entropy_norm"),
    )


def q_seasonal_strength_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's weekly seasonal-strength F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) from the additive decomposition
    (`daily_revenue_decomposition`'s exact ×7-scaled integer pipeline)
    — the scalar that says whether the weekday cycle is worth modeling,
    next to the per-day decomposition rows.

    Detrended values are EXACT ×7-scaled integers; the remainder
    subtracts the per-weekday mean (one exact division per row);
    the two variances are scale-invariant ratios rounded at 6, four
    orders above the ~1e-13 relative summation noise."""
    daily = _daily_purchase_cents(spark, sf_dir).select(
        "day",
        F.col("cents").alias("__cents"),
        F.datediff("day", F.lit("1970-01-01").cast("date")).alias("__dn"),
        (F.weekday("day") + 1).alias("isodow"),
    )
    w7 = Window.orderBy("__dn").rangeBetween(-3, 3)
    detr = (
        daily.select(
            "isodow",
            (
                F.lit(7) * F.col("__cents")
                - F.when(
                    F.count(F.lit(1)).over(w7) == 7,
                    F.sum("__cents").over(w7),
                )
            ).alias("__detr"),
        )
        .filter(F.col("__detr").isNotNull())
    )
    w_dow = Window.partitionBy("isodow")
    # F.avg(long) == DuckDB avg(BIGINT) — the pairing the decomposition
    # entry already hash-validates
    rem = detr.select(
        F.col("__detr").cast("double").alias("x"),
        (F.col("__detr").cast("double") - F.avg("__detr").over(w_dow)).alias(
            "r"
        ),
    )
    agg = rem.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("__sx"),
        F.sum(F.col("x") * F.col("x")).alias("__sxx"),
        F.sum("r").alias("__sr"),
        F.sum(F.col("r") * F.col("r")).alias("__srr"),
    )
    nd = F.col("n_days").cast("double")
    var_x = F.col("__sxx") / nd - (F.col("__sx") / nd) * (F.col("__sx") / nd)
    var_r = F.col("__srr") / nd - (F.col("__sr") / nd) * (F.col("__sr") / nd)
    return agg.select(
        "n_days",
        (
            F.round(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_x), 6)
            + F.lit(0.0)
        ).alias("seasonal_strength"),
    )


def q_value_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the 1995 and 1996 order-value
    distributions over 20 fixed 25k-wide bins — the numeric-drift
    monitor beside the PSI report (JSD is bounded [0, ln 2] and
    symmetric, so it never explodes on empty bins the way PSI's ln
    ratio does).

    Bin counts are exact integers; p, q, m divide them once; the ≤40
    ln terms (zero-count terms contribute exactly 0 and are filtered,
    not coalesced) round at 6."""
    orders = _t(spark, sf_dir, "orders")
    binned = orders.filter(
        F.year("o_orderdate").isin(1995, 1996)
    ).select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long"),
            F.lit(19).cast("long"),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("long").alias("__N1"),
        F.sum("c2").cast("long").alias("__N2"),
    )
    g = counts.crossJoin(F.broadcast(tot))
    p = F.col("c1").cast("double") / F.col("__N1").cast("double")
    q = F.col("c2").cast("double") / F.col("__N2").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    agg = g.agg(
        F.max("__N1").alias("n_1995"),
        F.max("__N2").alias("n_1996"),
        F.sum(term).alias("__jsd"),
    )
    return agg.select(
        "n_1995",
        "n_1996",
        (F.round(F.col("__jsd"), 6) + F.lit(0.0)).alias("jsd_nats"),
    )


def q_kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the Kneser-Ney bigram LM: train on
    doc_id % 10 ≠ 0, score the % 10 = 0 split — bits/bigram and
    perplexity, the number that actually decides between two corpus
    mixes (the KN trainer alone just fits one).  Eval bigrams whose
    context or continuation word is out of the train vocabulary are
    EXCLUDED and reported as ``oov_rate`` (closed-vocab evaluation,
    documented); unseen (w1,w2) PAIRS with in-vocab words score through
    the KN backoff (c12 = 0 → pure continuation mass), which is the
    whole point of the smoothing.

    Every KN quantity is an exact integer count (module precedent:
    operators/ngram_lm.py); the per-bigram ln terms accumulate ~1e-13
    relative noise against a round-4 output.  One bigram explode per
    split, vocabulary-sized joins, 1-row broadcast for n_types — the
    lm_bits_per_token posture."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    eval_docs = docs.filter(F.col("doc_id") % 10 == 0)
    bc = cache.persist(ngram_lm.bigram_counts(train))
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_follow"),
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_precede")
    )
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    ec = ngram_lm.bigram_counts(eval_docs).withColumnRenamed("c12", "ec")
    scored = (
        ec.join(ctx, "w1")
        .join(cont, "w2")
        .join(bc, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(types))
        .select(
            "ec",
            (
                F.greatest(
                    F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                    - F.lit(0.75),
                    F.lit(0.0),
                )
                / F.col("c1").cast("double")
                + F.lit(0.75)
                * F.col("n_follow").cast("double")
                / F.col("c1").cast("double")
                * (
                    F.col("n_precede").cast("double")
                    / F.col("n_types").cast("double")
                )
            ).alias("__p"),
        )
    )
    totals = ec.agg(F.sum("ec").cast("long").alias("__n_all"))
    agg = scored.agg(
        F.sum("ec").cast("long").alias("n_scored_bigrams"),
        F.sum(-F.col("ec").cast("double") * F.log("__p")).alias("__nll"),
    )
    ln2 = 0.6931471805599453
    bits = F.col("__nll") / F.lit(ln2) / F.col("n_scored_bigrams").cast(
        "double"
    )
    return agg.crossJoin(F.broadcast(totals)).select(
        "n_scored_bigrams",
        (
            F.round(
                F.lit(1.0)
                - F.col("n_scored_bigrams").cast("double")
                / F.col("__n_all").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("oov_rate"),
        (F.round(bits, 4) + F.lit(0.0)).alias("bits_per_bigram"),
        (
            F.round(
                F.exp(
                    F.col("__nll") / F.col("n_scored_bigrams").cast("double")
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("perplexity"),
    )


def q_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordering report: documents ranked by token density
    (whitespace tokens per character — short-token-dense text first is
    the classic easy-to-hard proxy) and cut into 10 explicit-arithmetic
    deciles ``(rn−1)·10 div n + 1`` — NOT ntile(), whose remainder
    placement is engine-defined.  Per decile: doc count, density range,
    token budget — what a staged-training data loader consumes.

    The exact global rank is computed DISTRIBUTED (round-10 plan-audit
    fix — the earlier single-task rank window collapsed the whole
    corpus into one partition) via ``scale.binned_row_number``: density
    maps monotonically onto 4096 range buckets, a grouped count over
    the <=4096-row bucket spine yields each bucket's global offset,
    and the per-doc rank is offset + row_number PARTITIONED by
    bucket — identical to the global row_number over (density, doc_id)
    because the bucket function is monotone and equal densities share
    a bucket.  Ordering is fully deterministic (density, doc_id)."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    scored = docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("__toks"),
        (
            text.token_count("text").cast("double")
            / F.col("n_chars").cast("double")
        ).alias("__density"),
    )
    # shared distributed-rank ladder (caches its input, so the corpus
    # is scanned and tokenized once)
    total = scored.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranked = (
        scale.binned_row_number(
            scored,
            ["__density", "doc_id"],
            n_buckets=4096,
            out_col="__rn",
            # whitespace-token density is in (0, 1]: known bounds skip
            # the observed-min/max pass (out-of-range values would just
            # land in width_bucket's monotone 0 / n+1 overflow buckets)
            bounds=(0.0, 1.0),
        )
        .crossJoin(F.broadcast(total))
        .select("__toks", "__density", "__rn", "__n")
    )
    return (
        ranked.groupBy(
            (
                ((F.col("__rn") - 1) * 10).cast("long")
                / F.col("__n")
            )
            .cast("long")
            .alias("__d0")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.round(F.min("__density"), 6) + F.lit(0.0)).alias(
                "min_density"
            ),
            (F.round(F.max("__density"), 6) + F.lit(0.0)).alias(
                "max_density"
            ),
            F.sum("__toks").cast("long").alias("total_tokens"),
        )
        .select(
            (F.col("__d0") + 1).cast("int").alias("decile"),
            "n_docs",
            "min_density",
            "max_density",
            "total_tokens",
        )
        .orderBy("decile")
    )


def q_tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish tokens per whitespace
    word (the HF "fertility" metric — how much a subword tokenizer
    inflates a corpus) plus chars/token, the numbers a token-budget
    planner reads before mixing sources.  Pure size(regexp/split)
    aggregates — exact integers, two divisions per source."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per = docs.select(
        "source",
        text.token_count("text").cast("long").alias("__ws"),
        text.bpe_ish_token_count("text").cast("long").alias("__bpe"),
        F.length("text").cast("long").alias("__chars"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ws").cast("long").alias("ws_tokens"),
        F.sum("__bpe").cast("long").alias("bpe_tokens"),
        F.sum("__chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        (
            F.round(
                F.col("bpe_tokens").cast("double")
                / F.col("ws_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("fertility"),
        (
            F.round(
                F.col("n_chars").cast("double")
                / F.col("bpe_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("chars_per_token"),
    ).orderBy("source")


def q_timed_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: view → click within 1 HOUR of the first
    view → purchase within 24 HOURS of that click — the
    `funnel_view_click_purchase` shape with the real-world deadline
    semantics every growth team actually specifies.  All stage
    comparisons run in EXACT integer micros (CLAUDE.md timestamp rule);
    stage frames join on user_id (two key-partitioned joins of
    per-user minima, no window over the raw stream)."""
    events = _t(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("__v_us"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("__c_us")
    )
    first_click = (
        views.join(clicks, "user_id")
        .filter(
            (F.col("__c_us") > F.col("__v_us"))
            & (F.col("__c_us") <= F.col("__v_us") + F.lit(3_600_000_000))
        )
        .groupBy("user_id")
        .agg(F.min("__c_us").alias("__fc_us"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("__p_us")
    )
    converted = (
        first_click.join(purchases, "user_id")
        .filter(
            (F.col("__p_us") > F.col("__fc_us"))
            & (
                F.col("__p_us")
                <= F.col("__fc_us") + F.lit(86_400_000_000)
            )
        )
        .select("user_id")
        .distinct()
    )
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    nc = first_click.agg(
        F.count(F.lit(1)).cast("long").alias("n_click_1h")
    )
    np_ = converted.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchase_24h")
    )
    j = nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))
    return j.select(
        "n_viewers",
        "n_click_1h",
        "n_purchase_24h",
        (
            F.round(
                F.col("n_click_1h").cast("double")
                / F.col("n_viewers").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("click_rate_1h"),
        (
            F.round(
                F.col("n_purchase_24h").cast("double")
                / F.col("n_click_1h").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("purchase_rate_24h"),
    )


def q_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: pooled customer retention at
    month offsets 1-6 from the cohort matrix (`cohort_retention`'s
    frame), log-linear OLS ln r_k = a + b·k, reporting the monthly
    decay slope and implied half-life — the one-line summary a
    retention dashboard fits over the full matrix.  Pooling over all
    cohorts (right-edge truncation affects both numerator and
    denominator identically at this 6-year span; documented).  The six
    (k, ln r_k) points use exact integer entity counts; the closed-form
    OLS over K = 6 fixed abscissae is constant arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    matrix = analytics.cohort_retention(orders, "o_custkey", "o_orderdate")
    per_off = matrix.filter(F.col("month_offset") <= 6).groupBy(
        "month_offset"
    ).agg(F.sum("entities").cast("long").alias("__s"))
    base = per_off.filter(F.col("month_offset") == 0).select(
        F.col("__s").alias("__s0")
    )
    pts = (
        per_off.filter(F.col("month_offset") >= 1)
        .crossJoin(F.broadcast(base))
        .select(
            F.col("month_offset").cast("double").alias("k"),
            F.log(
                F.col("__s").cast("double") / F.col("__s0").cast("double")
            ).alias("y"),
        )
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("k").alias("__sk"),
        F.sum("y").alias("__sy"),
        F.sum(F.col("k") * F.col("y")).alias("__sky"),
        F.sum(F.col("k") * F.col("k")).alias("__skk"),
    )
    nk = F.col("n_points").cast("double")
    slope = (F.col("__sky") - F.col("__sk") * F.col("__sy") / nk) / (
        F.col("__skk") - F.col("__sk") * F.col("__sk") / nk
    )
    return agg.select(
        "n_points",
        (F.round(slope, 6) + F.lit(0.0)).alias("decay_slope"),
        (
            F.round(F.lit(-0.6931471805599453) / slope, 4) + F.lit(0.0)
        ).alias("half_life_months"),
    )


def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over the co-purchase graph (the
    "customers also bought" scorer): cos(u,v) = co_count /
    √(deg_u·deg_v) where deg counts the distinct orders containing the
    part — normalizing away hub popularity, which raw `part_cooccurrence`
    counts can't.  Top-20 by (rounded cosine, u, v) — fully
    deterministic.  Same Σ basket² guard as the link-prediction entry:
    baskets are capped at 50 lines before the pair join (no-op at
    TPC-H basket sizes, survival at skewed real-world ones)."""
    li = _t(spark, sf_dir, "lineitem")
    # r13: grouped in-place pair generation (the cooccurrence_pairs
    # strategy) replaces the basket self-join — one o_orderkey
    # repartition feeds the distinct, the basket collect (both
    # exchange-free on it, guide §2.4), and the ≤50-item baskets then
    # emit their C(k,2) pairs and per-part degrees without re-joining
    # the pair table against itself.  Basket-size semantics unchanged:
    # baskets over 50 DISTINCT parts are dropped entirely (a filter,
    # not the truncation cooccurrence_pairs' cap applies).
    baskets = cache.persist(
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_partkey")).alias("__items"))
        .filter(F.size("__items") <= 50)
    )
    deg = (
        baskets.select(F.explode("__items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    co = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(__items, (x, i) ->
                      transform(slice(__items, i + 2, size(__items)),
                                y -> struct(x AS a, y AS b))))
                    """
                )
            ).alias("__p")
        )
        .groupBy(
            F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("co_count"))
        .filter(F.col("co_count") >= 2)
    )
    withdeg = co.join(
        deg.select(F.col("l_partkey").alias("item_a"), F.col("deg").alias("deg_a")),
        "item_a",
    ).join(
        deg.select(F.col("l_partkey").alias("item_b"), F.col("deg").alias("deg_b")),
        "item_b",
    )
    cos = F.round(
        F.col("co_count").cast("double")
        / F.sqrt(
            F.col("deg_a").cast("double") * F.col("deg_b").cast("double")
        ),
        6,
    ) + F.lit(0.0)
    return (
        withdeg.select(
            "item_a", "item_b", "co_count", "deg_a", "deg_b",
            cos.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
        .limit(20)
    )


def q_kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on 1995 daily revenue — the
    null-of-stationary complement to Mann-Kendall/Hurst (KPSS rejects
    when a unit root is present; MK rejects on monotone trend):
    η = Σ S_t² / (n²·σ̂²_lrv) with S_t the partial sums of deviations
    and σ̂²_lrv the Bartlett-kernel long-run variance at bandwidth 7.

    Exactness: n·e_t = n·x_t − Σx is an EXACT integer (the CLAUDE.md
    cumulative-share trick), its cumulative sum is a deterministic-
    order window over the day spine, and every γ_k pairs those exact
    integers through the bounded idx self-join — only the ≤365-term
    double square-sums carry ~1e-13 relative noise against round-4
    outputs.  Flag at the 5% critical value 0.463 on the rounded
    statistic."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    stats = daily.agg(
        F.sum("cents").cast("long").alias("__tot"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    wi = Window.orderBy("day")
    base = daily.crossJoin(F.broadcast(stats)).select(
        F.row_number().over(wi).alias("i"),
        (F.col("__n") * F.col("cents") - F.col("__tot")).alias("__ne"),
        "__n",
    )
    w_upto = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scaled = cache.persist(
        base.select(
            "i",
            "__n",
            F.col("__ne").cast("double").alias("e"),
            F.sum("__ne").over(w_upto).cast("double").alias("s"),
        )
    )
    nd = F.col("__n").cast("double")
    # Σ S_t² and γ0 from the same frame; S and e carry the ×n scale,
    # which cancels in η (S²/n² vs γ·n²)
    g0 = scaled.agg(
        F.max("__n").alias("n_days"),
        F.sum(F.col("s") * F.col("s")).alias("__ss2"),
        F.sum(F.col("e") * F.col("e")).alias("__g0"),
    )
    lags = spark.createDataFrame([(k,) for k in range(1, 8)], "k long")
    gk = (
        scaled.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            scaled.alias("b"),
            F.col("b.i") == F.col("a.i") + F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum(F.col("a.e") * F.col("b.e")).alias("__gk"))
    )
    wsum = gk.select(
        (
            F.lit(2.0)
            * (F.lit(1.0) - F.col("k").cast("double") / F.lit(8.0))
            * F.col("__gk")
        ).alias("__wgk")
    ).agg(F.sum("__wgk").alias("__gsum"))
    j = g0.crossJoin(F.broadcast(wsum))
    n_days_d = F.col("n_days").cast("double")
    lrv = (F.col("__g0") + F.col("__gsum")) / n_days_d
    eta = F.round(
        (F.col("__ss2") / (n_days_d * n_days_d)) / lrv, 4
    ) + F.lit(0.0)
    return j.select(
        "n_days",
        eta.alias("kpss_eta"),
        F.when(eta > 0.463, F.lit("non-stationary"))
        .otherwise(F.lit("stationary"))
        .alias("verdict_5pct"),
    )


def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (no augmentation) on 1995 daily
    revenue: OLS of Δx_t on x_{t−1} with intercept, reporting β̂ and
    the DF t-statistic (compare to the τ_μ table; −2.87 at 5%) — the
    reject-direction twin of KPSS above.

    BIT-EXACT cross-engine: all five regression moments (Σx, Σy, Σxy,
    Σx², Σy², m) accumulate in DECIMAL(38,0)/HUGEINT — order-free exact
    integer sums (the haar lesson applied proactively) — and β̂/t are
    then elementwise double arithmetic on identical inputs, so even the
    catastrophic cancellation in Sxx is identical on both engines."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(F.row_number().over(wi).alias("i"), "cents")
    pairs = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("a.i") == F.col("b.i") + 1)
        .select(
            F.col("b.cents").alias("x"),
            (F.col("a.cents") - F.col("b.cents")).alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    mom = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("__sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("__sxx"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("__syy"),
    )
    md = F.col("m").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    cxx = sxx - sx * sx / md
    cxy = sxy - sx * sy / md
    cyy = syy - sy * sy / md
    beta = cxy / cxx
    rss = cyy - beta * cxy
    se = F.sqrt(rss / (md - F.lit(2.0)) / cxx)
    t = F.round(beta / se, 4) + F.lit(0.0)
    return mom.select(
        "m",
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        t.alias("df_t_stat"),
        F.when(t < -2.87, F.lit("reject-unit-root"))
        .otherwise(F.lit("unit-root-plausible"))
        .alias("verdict_5pct"),
    )


def q_vocab_chao1_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 nonparametric vocabulary-richness estimate per source:
    V̂ = V + F1(F1−1)/(2(F2+1)) from the observed type count and the
    singleton/doubleton frequencies — "how much vocabulary haven't we
    sampled yet", the capture-recapture answer to Heaps-law
    extrapolation (`heaps_law_fit`).  Exact integer counts end-to-end;
    one rational per source."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = docs.select(
        "source", F.explode(text.tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    chao = F.col("v_observed").cast("double") + (
        F.col("f1").cast("double") * (F.col("f1") - 1).cast("double")
    ) / (F.lit(2.0) * (F.col("f2") + 1).cast("double"))
    return agg.select(
        "source",
        "v_observed",
        "f1",
        "f2",
        (F.round(chao, 4) + F.lit(0.0)).alias("chao1_estimate"),
        (
            F.round(F.col("v_observed").cast("double") / chao, 6)
            + F.lit(0.0)
        ).alias("coverage"),
    ).orderBy("source")


def q_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing adjusted counts over the corpus BIGRAM frequency
    spectrum: for each raw count r ≤ 10, N_r and the Turing estimate
    r* = (r+1)·N_{r+1}/N_r, plus the probability mass each band
    carries — the smoothing table KN's fixed discount approximates and
    the standard coverage diagnostic for corpus sampling.  Bigrams, not
    unigrams: the synthetic corpus reuses a ~31-word vocabulary whose
    unigram counts all exceed 10 (empty spectrum), while its bigram
    table has a real low-count tail.  Exact integer
    frequency-of-frequencies; two divisions per row."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    tf = ngram_lm.bigram_counts(docs).withColumnRenamed("c12", "c")
    nr = tf.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    tot = tf.agg(F.sum("c").cast("long").alias("__N"))
    nxt = nr.select(
        (F.col("c") - 1).alias("c"), F.col("n_r").alias("__n_r1")
    )
    j = (
        nr.join(nxt, "c", "left")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("c") >= 1) & (F.col("c") <= 10))
    )
    r_star = (
        (F.col("c") + 1).cast("double")
        * F.coalesce(F.col("__n_r1"), F.lit(0)).cast("double")
        / F.col("n_r").cast("double")
    )
    return j.select(
        F.col("c").cast("long").alias("r"),
        "n_r",
        (F.round(r_star, 6) + F.lit(0.0)).alias("r_star"),
        (
            F.round(
                (F.col("c") * F.col("n_r")).cast("double")
                / F.col("__N").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("band_mass"),
    ).orderBy("r")


def q_streaming_abandoned_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming shape SEVEN: left-OUTER stream-stream join run to
    completion — purchases that had NO view in the preceding hour
    ("dark" conversions) next to the matched ones, per day.  Outer
    null rows emit only once the watermark proves no future match can
    arrive, so the deterministic comparable set is purchases strictly
    below the final horizon (max ts − 2 h watermark − 1 h window);
    BOTH the streaming result and the oracle restrict to it — inside
    the horizon Spark legitimately withholds, and that zone is
    excluded on both sides rather than approximated (the
    test_streaming leftOuter pins emit-below-horizon ⊆/⊇ exactly).
    State expires on both sides via the watermark + range condition —
    an unbounded outer join buffers forever."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        stream_stream_window_join,
    )

    stream, tag = _staged_event_stream(spark, sf_dir)
    p = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    v = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    joined = stream_stream_window_join(
        p, v, ["user_id"], "ts", "vts",
        window="1 hour", watermark="2 hours", how="leftOuter",
    ).select(
        F.col("__l.purchase_id").alias("purchase_id"),
        F.to_date("__l.ts").alias("purchase_date"),
        F.unix_micros("__l.ts").alias("p_us"),
        F.col("__r.view_id").alias("view_id"),
    )
    name = f"stream_abandon_{tag}"
    run_to_memory_sink(joined, name)
    rows = spark.table(name)
    events = _t(spark, sf_dir, "events")
    # the global watermark is the MIN across both input streams' maxima
    # (each side tracks its own), and Spark advances it at millisecond
    # grain with ±1 ms state-boundary adjustments — hence the extra
    # 10 ms margin: any horizon strictly inside the guaranteed-emit
    # zone works, because BOTH sides filter at the same constant
    horizon = events.filter(
        F.col("event_type").isin("purchase", "view")
    ).groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("__mx")
    ).agg(
        (F.min("__mx") - F.lit(10_800_000_000) - F.lit(10_000)).alias(
            "__h_us"
        )
    )
    per_p = (
        rows.crossJoin(F.broadcast(horizon))
        .filter(F.col("p_us") < F.col("__h_us"))
        .groupBy("purchase_id", "purchase_date")
        .agg(
            F.max(F.col("view_id").isNotNull().cast("int")).alias(
                "__matched"
            )
        )
    )
    return (
        per_p.groupBy("purchase_date")
        .agg(
            F.sum("__matched").cast("long").alias("n_matched"),
            F.sum(F.lit(1) - F.col("__matched"))
            .cast("long")
            .alias("n_abandoned"),
        )
        .select(
            "purchase_date",
            "n_matched",
            "n_abandoned",
            (
                F.round(
                    F.col("n_abandoned").cast("double")
                    / (F.col("n_matched") + F.col("n_abandoned")).cast(
                        "double"
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("abandon_rate"),
        )
        .orderBy("purchase_date")
    )


def q_diff_in_diff_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of per-purchase value between
    the parity segments across the mid-window cut (first 15 days =
    pre, rest = post): DiD = (Ā_post − Ā_pre) − (B̄_post − B̄_pre)
    with the four-cell pooled SE — the quasi-experimental workhorse
    when assignment isn't randomized per-exposure.  On this synthetic
    split the true effect is 0, making the entry a calibration check.

    Purchase values snap to EXACT integer cents first (the CLAUDE.md
    discipline), so each cell's Σ and Σ² are order-free integer /
    DECIMAL(38) sums and the estimate, SE, and t are elementwise
    double arithmetic on identical inputs — bit-stable at round 4."""
    events = _t(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.to_date("ts")).alias("__d0"))
    cells = (
        events.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(d0))
        .select(
            (F.col("user_id") % 2).cast("int").alias("seg"),
            F.when(
                F.to_date("ts") < F.date_add(F.col("__d0"), 15), 0
            )
            .otherwise(1)
            .alias("post"),
            F.floor(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)), 2) * 100
                + F.lit(0.5)
            )
            .cast("long")
            .alias("c"),
        )
    )
    cd = F.col("c").cast("decimal(19,0)")
    agg = cells.groupBy("seg", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("__s"),
        F.sum((cd * cd).cast("decimal(38,0)")).alias("__ss"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = (F.col("__ss").cast("double") - nd * mean * mean) / (
        nd - F.lit(1.0)
    )
    stats = agg.select(
        "seg", "post", "n", mean.alias("__m"), (var / nd).alias("__vn")
    )
    wide = stats.groupBy().pivot("seg", [0, 1]).agg(
        F.max(F.when(F.col("post") == 0, F.col("__m"))).alias("m_pre"),
        F.max(F.when(F.col("post") == 1, F.col("__m"))).alias("m_post"),
        F.sum("__vn").alias("vn"),
        F.sum("n").alias("n"),
    )
    did = (F.col("0_m_post") - F.col("0_m_pre")) - (
        F.col("1_m_post") - F.col("1_m_pre")
    )
    se = F.sqrt(F.col("0_vn") + F.col("1_vn"))
    return wide.select(
        (F.col("0_n") + F.col("1_n")).cast("long").alias("n_purchases"),
        (F.round(did / F.lit(100.0), 4) + F.lit(0.0)).alias(
            "did_estimate"
        ),
        (F.round(se / F.lit(100.0), 4) + F.lit(0.0)).alias("did_se"),
        (F.round(did / se, 4) + F.lit(0.0)).alias("did_t"),
    )


def q_perplexity_filter_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering: every document scored by its
    bits/bigram under the corpus-trained Kneser-Ney LM, cut into five
    explicit-arithmetic quality quintiles — the standard "keep the
    low-perplexity tail" stage of an LLM data pipeline, reported as
    the bucket table a mixture planner consumes (doc counts, bits
    range, token budget per bucket).

    Trained and scored on the same corpus, every bigram is in-vocab.
    Per-doc bits round at 6 BEFORE ranking (1e-14 summation noise vs
    the 1e-6 grain, doc_id tiebreak), so the quintile cuts are
    deterministic cross-engine.  Two bigram explodes (model + per-doc),
    vocabulary-sized joins — the lm_bits posture; the rank window sorts
    |docs| skinny rows."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    bc = cache.persist(ngram_lm.bigram_counts(docs))
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_follow"),
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_precede")
    )
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), text.tokens("text").alias("__t"))
        .filter(F.size("__t") >= 2)
    )
    per_doc_bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), i -> "
                "struct(element_at(__t, i) AS w1, "
                "element_at(__t, i + 1) AS w2))"
            )
        ).alias("__b"),
    ).groupBy("doc_id", "__b.w1", "__b.w2").agg(
        F.count(F.lit(1)).cast("long").alias("ec")
    )
    p_kn = (
        F.greatest(F.col("c12").cast("double") - F.lit(0.75), F.lit(0.0))
        / F.col("c1").cast("double")
        + F.lit(0.75)
        * F.col("n_follow").cast("double")
        / F.col("c1").cast("double")
        * (
            F.col("n_precede").cast("double")
            / F.col("n_types").cast("double")
        )
    )
    scored = (
        per_doc_bg.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.sum("ec").cast("long").alias("__n_bg"),
            F.sum(-F.col("ec").cast("double") * F.log(p_kn)).alias(
                "__nll"
            ),
        )
    )
    ln2 = 0.6931471805599453
    bits = F.round(
        F.col("__nll") / F.lit(ln2) / F.col("__n_bg").cast("double"), 6
    ) + F.lit(0.0)
    # distributed rank ladder (round 10): per-doc scores grow with the
    # corpus, so the quintile rank comes from binned_row_number, the
    # total from a scalar aggregate — no single-task sort
    per = scored.select("doc_id", "__n_bg", bits.alias("__bits"))
    n_tot = per.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranked = (
        scale.binned_row_number(per, ["__bits", "doc_id"], out_col="__rn")
        .crossJoin(F.broadcast(n_tot))
        .select("__n_bg", "__bits", "__rn", "__n")
    )
    return (
        ranked.groupBy(
            (((F.col("__rn") - 1) * 5).cast("long") / F.col("__n"))
            .cast("long")
            .alias("__q0")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.round(F.min("__bits"), 4) + F.lit(0.0)).alias("min_bits"),
            (F.round(F.max("__bits"), 4) + F.lit(0.0)).alias("max_bits"),
            F.sum("__n_bg").cast("long").alias("total_bigrams"),
        )
        .select(
            (F.col("__q0") + 1).cast("int").alias("quintile"),
            "n_docs",
            "min_bits",
            "max_bits",
            "total_bigrams",
        )
        .orderBy("quintile")
    )


def q_centroid_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit over the labeled
    embeddings: per-label centroids (round-6 snapped — the
    `embedding_centroids` precedent makes the snap the shared input to
    both engines), every vector assigned to its max-cosine centroid
    (round-6 cosine, label tiebreak), reported as the confusion-matrix
    rows — the quick "are these labels even separable" check before
    any classifier training.

    The centroid table is 10 labels × 64 dims — broadcast; scoring is
    one explode + equi-join on dim + per-(vec,label) aggregate: no
    cartesian over vectors."""
    configure_runtime(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "__v"),
    ).select(
        "vec_id", "label", "dim", F.col("__v").cast("double").alias("v")
    )
    cents = cache.persist(
        e.groupBy("label", "dim")
        .agg((F.round(F.avg("v"), 6) + F.lit(0.0)).alias("cv"))
        .withColumnRenamed("label", "c_label")
    )
    cnorm = cents.groupBy("c_label").agg(
        F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("__cn")
    )
    vnorm = e.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("__vn")
    )
    dots = (
        e.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("__dot"))
    )
    cos = (
        dots.join(F.broadcast(cnorm), "c_label")
        .join(vnorm, "vec_id")
        .select(
            "vec_id",
            "label",
            "c_label",
            (
                F.round(
                    F.col("__dot") / (F.col("__cn") * F.col("__vn")), 6
                )
                + F.lit(0.0)
            ).alias("__cos"),
        )
    )
    wbest = Window.partitionBy("vec_id").orderBy(
        F.desc("__cos"), F.asc("c_label")
    )
    assigned = cos.withColumn("__r", F.row_number().over(wbest)).filter(
        F.col("__r") == 1
    )
    return (
        assigned.groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("c_label").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


def q_mde_for_current_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at CURRENT traffic — the inverse of
    `ab_power_analysis`: given the observed per-arm n and baseline
    3-day conversion p̂, the smallest absolute lift detectable at
    α = 0.05 two-sided for power 0.8 and 0.9, via the pooled-variance
    approximation MDE = (z_{α/2}+z_β)·√(2·p̂(1−p̂)/n) — the "what CAN
    this experiment see" row every test-planning doc starts with.
    Exact integer counts into fixed z literals; elementwise doubles."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.when(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            <= F.min("ts") + F.expr("INTERVAL 3 DAY"),
            1,
        )
        .otherwise(0)
        .alias("__conv")
    )
    base = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__conv").cast("long").alias("n_conv"),
    )
    powers = spark.createDataFrame(
        [(0.8, 0.841621), (0.9, 1.281552)], "power double, zb double"
    )
    g = base.crossJoin(F.broadcast(powers))
    p = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    n_arm = (F.col("n_users") / 2).cast("long")
    mde = (F.lit(1.959964) + F.col("zb")) * F.sqrt(
        F.lit(2.0)
        * p
        * (F.lit(1.0) - p)
        / n_arm.cast("double")
    )
    return g.select(
        "power",
        n_arm.alias("n_per_arm"),
        (F.round(p, 6) + F.lit(0.0)).alias("baseline_rate"),
        (F.round(mde, 6) + F.lit(0.0)).alias("mde_abs"),
        F.when(
            p > 0, F.round(mde / p, 6) + F.lit(0.0)
        ).alias("mde_rel"),
    ).orderBy("power")


def q_breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on the 1995 daily-revenue
    time trend: OLS cents ~ day-index, then the auxiliary regression of
    squared residuals on the index; BP = n·R²_aux (χ² on 1 df, 3.841
    at 5%) — "is the variance itself trending", the check that decides
    whether the OLS band around `daily_trend_regression` is honest.

    First-stage moments are exact DECIMAL(38)/HUGEINT integer sums (the
    dickey_fuller pattern), so (a, b) are elementwise-identical doubles;
    residuals and the auxiliary moments are then identical elementwise
    arithmetic with ~1e-13 summation noise against round-4 outputs."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wi).cast("long").alias("i"), "cents"
    )
    xd = F.col("i").cast("decimal(19,0)")
    yd = F.col("cents").cast("decimal(19,0)")
    mom = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("__sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("__sxx"),
    )
    nd = F.col("n_days").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    beta = (sxy - sx * sy / nd) / (sxx - sx * sx / nd)
    alpha = sy / nd - beta * (sx / nd)
    fit = mom.select(
        "n_days", beta.alias("__b"), alpha.alias("__a"),
    )
    aux = idx.crossJoin(F.broadcast(fit)).select(
        "n_days",
        F.col("i").cast("double").alias("x"),
        (
            (
                F.col("cents").cast("double")
                - F.col("__a")
                - F.col("__b") * F.col("i").cast("double")
            )
        ).alias("__e"),
    ).select(
        "n_days", "x", (F.col("__e") * F.col("__e")).alias("u")
    )
    m2 = aux.agg(
        F.max("n_days").alias("n_days"),
        F.sum("x").alias("__ax"),
        F.sum("u").alias("__au"),
        F.sum(F.col("x") * F.col("u")).alias("__axu"),
        F.sum(F.col("x") * F.col("x")).alias("__axx"),
        F.sum(F.col("u") * F.col("u")).alias("__auu"),
    )
    nd2 = F.col("n_days").cast("double")
    cxx = F.col("__axx") - F.col("__ax") * F.col("__ax") / nd2
    cxu = F.col("__axu") - F.col("__ax") * F.col("__au") / nd2
    cuu = F.col("__auu") - F.col("__au") * F.col("__au") / nd2
    r2 = (cxu / cxx) * cxu / cuu
    bp = F.round(nd2 * r2, 4) + F.lit(0.0)
    return m2.select(
        "n_days",
        bp.alias("bp_stat"),
        F.when(bp > 3.841, F.lit("heteroskedastic"))
        .otherwise(F.lit("homoskedastic"))
        .alias("verdict_5pct"),
    )


def q_partial_corr_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily views and purchases CONTROLLING for
    daily signups: r_xy·z = (r_xy − r_xz·r_zy) / √((1−r_xz²)(1−r_zy²))
    — does the view→purchase relationship survive removing the shared
    traffic driver, the one-line causal sanity check on the funnel
    correlations `measure_corr_matrix` reports raw.

    Daily counts are exact integers; all three Pearson moments
    accumulate in DECIMAL(38), so every r and the partial are
    elementwise-identical doubles (round 6)."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("long")
        .alias("z"),
    )

    def dec(c):
        return F.col(c).cast("decimal(19,0)")

    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        *[
            F.sum(dec(c)).cast("decimal(38,0)").alias(f"__s{c}")
            for c in ("x", "y", "z")
        ],
        *[
            F.sum((dec(a) * dec(b)).cast("decimal(38,0)")).alias(
                f"__s{a}{b}"
            )
            for a, b in (
                ("x", "x"), ("y", "y"), ("z", "z"),
                ("x", "y"), ("x", "z"), ("y", "z"),
            )
        ],
    )
    nd = F.col("n_days").cast("double")

    def cov(a, b):
        return F.col(f"__s{min(a,b)}{max(a,b)}").cast("double") - F.col(
            f"__s{a}"
        ).cast("double") * F.col(f"__s{b}").cast("double") / nd

    rxy = cov("x", "y") / F.sqrt(cov("x", "x") * cov("y", "y"))
    rxz = cov("x", "z") / F.sqrt(cov("x", "x") * cov("z", "z"))
    rzy = cov("y", "z") / F.sqrt(cov("y", "y") * cov("z", "z"))
    partial = (rxy - rxz * rzy) / F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - rzy * rzy)
    )
    return mom.select(
        "n_days",
        (F.round(rxy, 6) + F.lit(0.0)).alias("r_view_purchase"),
        (F.round(partial, 6) + F.lit(0.0)).alias(
            "r_view_purchase_given_signup"
        ),
    )


def q_var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of the
    1995 day-over-day revenue CHANGE at the 5% tail — the risk framing
    of the volatility the anomaly tier flags pointwise.  Changes are
    exact integer cents; VaR interpolates identical doubles and is
    ROUNDED to 6 before the tail-selection comparison (the CLAUDE.md
    computed-threshold rule), so both engines select the same tail
    rows; CVaR then divides two exact integers."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(F.row_number().over(wi).alias("i"), "cents")
    chg = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("a.i") == F.col("b.i") + 1)
        .select((F.col("a.cents") - F.col("b.cents")).alias("d"))
    )
    chg = cache.persist(chg)
    var5 = chg.agg(
        (
            F.round(F.expr("percentile(d, 0.05)") / F.lit(100.0), 6)
            + F.lit(0.0)
        ).alias("var_5pct_usd"),
        F.count(F.lit(1)).cast("long").alias("n_changes"),
    )
    tail = chg.crossJoin(F.broadcast(var5)).filter(
        F.col("d").cast("double") / F.lit(100.0)
        <= F.col("var_5pct_usd")
    )
    cv = tail.agg(
        F.max("var_5pct_usd").alias("var_5pct_usd"),
        F.max("n_changes").alias("n_changes"),
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum("d").cast("long").alias("__tc"),
    )
    return cv.select(
        "n_changes",
        "n_tail",
        "var_5pct_usd",
        (
            F.round(
                F.col("__tc").cast("double")
                / F.col("n_tail").cast("double")
                / F.lit(100.0),
                4,
            )
            + F.lit(0.0)
        ).alias("cvar_5pct_usd"),
    )


def q_theil_decomposition_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-T inequality of customer lifetime revenue, decomposed
    EXACTLY into between-nation and within-nation components
    (T = T_between + Σ share_g·T_g — the additive decomposability that
    makes Theil, not Gini, the index you roll up a hierarchy with; the
    grand-total check is part of the output).  Revenue lands in exact
    integer cents; every ln argument is a ratio of exact integers;
    the ≤25-term between sum and per-nation sums round at 6."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("c")
        )
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    tot = per_cust.agg(
        F.sum("c").cast("long").alias("__T"),
        F.count(F.lit(1)).cast("long").alias("__N"),
    )
    g = per_cust.crossJoin(F.broadcast(tot))
    # per-customer Theil term: (c/T)·ln( (c/T) / (1/N) ) = (c/T)·ln(cN/T)
    term = (
        F.col("c").cast("double") / F.col("__T").cast("double")
    ) * F.log(
        F.col("c").cast("double")
        * F.col("__N").cast("double")
        / F.col("__T").cast("double")
    )
    per_nation = g.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("c").cast("long").alias("__cg"),
        F.max("__T").alias("__T"),
        F.max("__N").alias("__N"),
        F.sum(term).alias("__t_total_part"),
    )
    share = F.col("__cg").cast("double") / F.col("__T").cast("double")
    # between term: share_g · ln(share_g / (n_g/N))
    between = share * F.log(
        share
        * F.col("__N").cast("double")
        / F.col("n_cust").cast("double")
    )
    # within contribution of group g = total-part − between part
    out = per_nation.select(
        "c_nationkey",
        "n_cust",
        (F.round(share, 6) + F.lit(0.0)).alias("revenue_share"),
        (F.round(between, 6) + F.lit(0.0)).alias("theil_between_part"),
        (F.round(F.col("__t_total_part") - between, 6) + F.lit(0.0)).alias(
            "theil_within_part"
        ),
    )
    return out.orderBy("c_nationkey")


def q_dedup_cross_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for each ordered source
    pair (a < b), how many exact-content fingerprints appear in BOTH —
    the "who is scraping whom" audit that decides which source to keep
    in a mixture (within-source dups are `dedup_exact`'s job; leakage
    ACROSS sources is what contaminates held-out splits).  md5
    fingerprints (the `doc_fingerprint` normalization), one distinct
    (source, fp) frame self-joined on fp — bounded by distinct
    fingerprints, never the pairwise doc count.  The synthetic corpus
    has no exact cross-source copies at sf≤0.01 (0 rows is the correct
    answer, like `customers_without_orders`); sf0.1 has size-2
    clusters."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sf = docs.select(
        "source", text.fingerprint("text").alias("fp")
    ).distinct()
    a = sf.alias("a")
    b = sf.alias("b")
    return (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_docs"))
        .orderBy("source_a", "source_b")
    )


def q_ngram_coverage_eval_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram coverage of the held-out split by the train split: what
    share of eval bigram TOKENS (mass) and TYPES the train corpus has
    seen — the generalization-vs-memorization gauge read next to
    `kn_bigram_perplexity` (high coverage + low perplexity = the eval
    split is easy, not the model good).  Exact integer masses; two
    divisions."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    train_bg = ngram_lm.bigram_counts(
        docs.filter(F.col("doc_id") % 10 != 0)
    ).select("w1", "w2")
    eval_bg = ngram_lm.bigram_counts(
        docs.filter(F.col("doc_id") % 10 == 0)
    ).withColumnRenamed("c12", "ec")
    flagged = eval_bg.join(
        train_bg.withColumn("__seen", F.lit(1)), ["w1", "w2"], "left"
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("eval_types"),
        F.sum("ec").cast("long").alias("eval_tokens"),
        F.sum(F.when(F.col("__seen") == 1, 1).otherwise(0))
        .cast("long")
        .alias("covered_types"),
        F.sum(F.when(F.col("__seen") == 1, F.col("ec")).otherwise(0))
        .cast("long")
        .alias("covered_tokens"),
    )
    return agg.select(
        "eval_types",
        "covered_types",
        "eval_tokens",
        "covered_tokens",
        (
            F.round(
                F.col("covered_types").cast("double")
                / F.col("eval_types").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("type_coverage"),
        (
            F.round(
                F.col("covered_tokens").cast("double")
                / F.col("eval_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mass_coverage"),
    )


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gate on vector norms: per label, the median
    and MAD of ||v||, and how many vectors sit further than 3 scaled
    MADs from the median — degenerate (near-zero or exploded) vectors
    are the first thing a corpus embedding pass should quarantine.
    Norms are √(Σv²) over cast-double components (identical elementwise
    both engines); the outlier comparison uses the round-6-snapped
    threshold (CLAUDE.md computed-threshold rule)."""
    configure_runtime(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # norms SNAP to 6 decimals immediately: the 64-term fold order
    # differs between engines at ~1e-14, and every downstream stat
    # (median, MAD, outlier compare) must see identical inputs
    norms = emb.select(
        "label",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "embedding",
                        lambda v: v.cast("double") * v.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("nrm"),
    )
    norms = cache.persist(norms)
    med = norms.groupBy("label").agg(
        F.expr("percentile(nrm, 0.5)").alias("__med")
    )
    with_med = norms.join(F.broadcast(med), "label")
    mad = with_med.groupBy("label").agg(
        F.max("__med").alias("__med"),
        F.expr("percentile(abs(nrm - __med), 0.5)").alias("__mad"),
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
    )
    thresh = F.round(
        F.lit(3.0) * F.lit(1.4826) * F.col("__mad"), 6
    ) + F.lit(0.0)
    flagged = (
        norms.join(F.broadcast(mad.withColumn("__thr", thresh)), "label")
        .select(
            "label",
            "n_vectors",
            "__med",
            "__thr",
            (F.abs(F.col("nrm") - F.col("__med")) > F.col("__thr"))
            .cast("int")
            .alias("__out"),
        )
    )
    return (
        flagged.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.max("n_vectors").alias("n_vectors"),
            (F.round(F.max("__med"), 6) + F.lit(0.0)).alias(
                "median_norm"
            ),
            F.sum("__out").cast("long").alias("n_outliers"),
        )
        .orderBy("label")
    )


def q_dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: exact-content clusters
    (fingerprint groups) bucketed by size — the one-table "how bad is
    the duplication" summary (cluster-size tail decides whether exact
    dedup suffices or near-dup must run).  Also reports the docs
    REMOVED per bucket under keep-one dedup.  Exact integer counts.
    The synthetic corpus is duplicate-free at sf≤0.01 (one all-size-1
    bucket — the correct degenerate answer); sf0.1 has size-2
    clusters."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    clusters = docs.select(
        text.fingerprint("text").alias("fp")
    ).groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return (
        clusters.groupBy(
            F.when(F.col("sz") >= 5, F.lit(5))
            .otherwise(F.col("sz"))
            .cast("int")
            .alias("cluster_size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("n_removed_keep_one"),
        )
        .orderBy("cluster_size_bucket")
    )


# ---------------------------------------------------------------------------
# Round-9 tier
# ---------------------------------------------------------------------------


def q_streaming_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming shape eight: arbitrary-stateful TIMEOUT sessions
    (``applyInPandasWithState`` + ``EventTimeTimeout``) run to
    completion — the flatMapGroupsWithState pattern family's first
    hash-checked entry (round-8 VERDICT item 6).

    Emission set at stream end is deterministic: sessions closed by a
    successor event always emit (``closed_by='gap'``); the last open
    session per user emits via its event-time timer once the final
    watermark (max ts − 1 h) passes ``session_end + gap``
    (``closed_by='timeout'``).  Both sides restrict to
    ``session_end + gap + 10 ms margin <= horizon`` in exact integer
    micros, so the boundary rows the ms-granular watermark could
    resolve either way are excluded identically (the round-8
    streaming-join precedent).  Oracle: batch gaps-and-islands with
    ``closed_by`` derived from successor existence.
    """
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        timeout_sessionize,
    )

    gap_us = 1_800_000_000  # 30 min
    stream, tag = _staged_event_stream(spark, sf_dir)
    sess = timeout_sessionize(
        stream, gap_s=1800.0, watermark="1 hour"
    )
    name = f"stream_timeout_sessions_{tag}"
    run_to_memory_sink(sess, name)
    max_us = (
        _t(spark, sf_dir, "events")
        .agg(F.max(F.unix_micros("ts")).alias("m"))
        .collect()[0].m
    )
    horizon_us = max_us - 3_600_000_000  # final watermark, micros
    return (
        spark.table(name)
        .filter(
            F.col("session_end_us") + F.lit(gap_us) + F.lit(10_000)
            <= F.lit(horizon_us)
        )
        .select(
            "user_id", "session_start_us", "session_end_us",
            "n_events", "closed_by",
        )
    )


def q_jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on 1995 daily revenue: JB =
    n/6·(S² + (K−3)²/4) from EXPLICIT central moments (the
    higher_moments_report precedent — builtin skewness/kurtosis are
    not cross-engine comparable).  Mean is the exact integer-cents
    ratio, deviations are elementwise-identical doubles, the moment
    ratios are scale-free O(1) and round at 4.  χ²(2) 5% critical =
    5.991 (fixed literal).  Scale: the fact reduces to the ≤365-row
    day spine before any moment pass."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    mu = daily.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("__mu")
    )
    d = F.col("cents").cast("double") - F.col("__mu")
    m = daily.crossJoin(F.broadcast(mu)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg(d * d).alias("__m2"),
        F.avg(d * d * d).alias("__m3"),
        F.avg(d * d * d * d).alias("__m4"),
    )
    s = F.col("__m3") / F.pow(F.col("__m2"), 1.5)
    k = F.col("__m4") / (F.col("__m2") * F.col("__m2"))
    jb = (
        F.col("n_days").cast("double") / F.lit(6.0)
        * (s * s + (k - F.lit(3.0)) * (k - F.lit(3.0)) / F.lit(4.0))
    )
    return m.select(
        "n_days",
        (F.round(s, 4) + F.lit(0.0)).alias("skewness"),
        (F.round(k - F.lit(3.0), 4) + F.lit(0.0)).alias("excess_kurtosis"),
        (F.round(jb, 4) + F.lit(0.0)).alias("jb_stat"),
        F.when(F.round(jb, 4) > 5.991, F.lit("non_normal"))
        .otherwise(F.lit("normal"))
        .alias("verdict_5pct"),
    )


def q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation test on the residuals of the 1995
    daily-revenue time trend: DW = Σ(e_t−e_{t−1})² / Σe_t².  The OLS
    (a, b) comes from exact DECIMAL(38)/HUGEINT integer moments (the
    breusch_pagan/dickey_fuller pattern) so residuals are
    elementwise-identical doubles; the two quadratic sums carry ~1e-13
    relative noise and DW rounds at 4.  Conventional bands as fixed
    literals: <1.5 positive, >2.5 negative, else none."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wi = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wi).cast("long").alias("i"), "cents"
    )
    xd = F.col("i").cast("decimal(19,0)")
    yd = F.col("cents").cast("decimal(19,0)")
    mom = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("__sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("__sxx"),
    )
    nd = F.col("n_days").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    beta = (sxy - sx * sy / nd) / (sxx - sx * sx / nd)
    alpha = sy / nd - beta * (sx / nd)
    fit = mom.select("n_days", beta.alias("__b"), alpha.alias("__a"))
    res = idx.crossJoin(F.broadcast(fit)).select(
        "n_days",
        "i",
        (
            F.col("cents").cast("double")
            - F.col("__a")
            - F.col("__b") * F.col("i").cast("double")
        ).alias("__e"),
    )
    wl = Window.orderBy("i")
    lagged = res.select(
        "n_days", "__e", F.lag("__e").over(wl).alias("__ep")
    )
    agg = lagged.agg(
        F.max("n_days").alias("n_days"),
        F.sum(
            F.when(
                F.col("__ep").isNotNull(),
                (F.col("__e") - F.col("__ep")) * (F.col("__e") - F.col("__ep")),
            )
        ).alias("__num"),
        F.sum(F.col("__e") * F.col("__e")).alias("__den"),
    )
    dw = F.round(F.col("__num") / F.col("__den"), 4) + F.lit(0.0)
    return agg.select(
        "n_days",
        dw.alias("dw_stat"),
        F.when(dw < 1.5, F.lit("positive_autocorr"))
        .when(dw > 2.5, F.lit("negative_autocorr"))
        .otherwise(F.lit("none"))
        .alias("verdict"),
    )


def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on 1995 daily revenue vs its LOWER
    MEDIAN (explicit order statistic at position (n+1) div 2 — no
    engine-defined even-n averaging), days equal to the median
    excluded (standard).  Runs/n1/n2 are exact integers; the normal
    approximation z = (R − μ)/σ uses μ = 2·n1·n2/(n1+n2) + 1 and
    σ² = 2·n1·n2·(2·n1·n2 − n1 − n2)/((n1+n2)²·(n1+n2−1)) — double
    arithmetic over exact integers, identical cross-engine; round 4."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    wv = Window.orderBy("cents", "day")
    med = (
        daily.select(
            "cents",
            F.row_number().over(wv).alias("__rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("__n"),
        )
        .filter(F.col("__rn") == F.floor((F.col("__n") + F.lit(1)) / F.lit(2.0)))
        .select(F.col("cents").alias("__med"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("__med"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("__med"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__s"),
        )
    )
    wd = Window.orderBy("day")
    runs = signed.select(
        "__s",
        F.when(
            F.lag("__s").over(wd).isNull()
            | (F.lag("__s").over(wd) != F.col("__s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__brk"),
    ).agg(
        F.sum("__brk").cast("long").alias("n_runs"),
        F.sum("__s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("__s")).cast("long").alias("n_below"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    ntot = n1 + n2
    mu_r = F.lit(2.0) * n1 * n2 / ntot + F.lit(1.0)
    var_r = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (ntot * ntot * (ntot - F.lit(1.0)))
    )
    z = (F.col("n_runs").cast("double") - mu_r) / F.sqrt(var_r)
    return runs.select(
        "n_runs",
        "n_above",
        "n_below",
        (F.round(z, 4) + F.lit(0.0)).alias("z_stat"),
        F.when(F.abs(F.round(z, 4)) > 1.96, F.lit("non_random"))
        .otherwise(F.lit("random"))
        .alias("verdict_5pct"),
    )


def q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on 1995 daily revenue: Q = n(n+2)·
    Σ_{k=1..7} ρ_k²/(n−k) — "is there ANY autocorrelation in the first
    week of lags", the one-number complement to the per-lag ACF entry.
    Mean is the exact integer-cents ratio; per-lag products are
    elementwise-identical doubles (the daily_revenue_acf posture);
    ρ_k are O(1) ratios rounded into Q at 4.  χ²(7) 5% = 14.067.
    Scale: lags ride 7 window-lag columns over the ≤365-row spine —
    one pass, no self-join."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    mu = daily.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("__mu")
    )
    wd = Window.orderBy("day")
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("cents").cast("double") - F.col("__mu")).alias("__d")
    )
    lag_cols = [
        F.lag("__d", k).over(wd).alias(f"__d{k}") for k in range(1, 8)
    ]
    lagged = dev.select("__d", *lag_cols)
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("__d") * F.col("__d")).alias("__c0"),
        *[
            F.sum(F.col("__d") * F.col(f"__d{k}")).alias(f"__c{k}")
            for k in range(1, 8)
        ],
    )
    nd = F.col("n_days").cast("double")
    q_stat = (
        nd
        * (nd + F.lit(2.0))
        * sum(
            (F.col(f"__c{k}") / F.col("__c0"))
            * (F.col(f"__c{k}") / F.col("__c0"))
            / (nd - F.lit(float(k)))
            for k in range(1, 8)
        )
    )
    return agg.select(
        "n_days",
        (F.round(q_stat, 4) + F.lit(0.0)).alias("lb_stat"),
        F.when(F.round(q_stat, 4) > 14.067, F.lit("autocorrelated"))
        .otherwise(F.lit("white_noise"))
        .alias("verdict_5pct"),
    )


def q_grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style max-deviation outlier screen on 1995 daily
    revenue: G = max|x − x̄| / s (sample stddev), reporting the
    arg-max day (deterministic |dev| desc, day asc tiebreak).  Mean
    is the exact integer-cents ratio; s² uses the n−1 divisor from
    the same elementwise deviations.  Verdict against the fixed
    operational 3.0 threshold (3-sigma rule) rather than the n-dependent
    t-quantile (no t tables cross-engine).  Scale: two passes over the
    ≤365-row spine."""
    daily = cache.persist(_daily_cents_1995(spark, sf_dir))
    mu = daily.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("__mu"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    d = F.col("cents").cast("double") - F.col("__mu")
    devs = daily.crossJoin(F.broadcast(mu)).select(
        "day", "n_days", d.alias("__d"), (d * d).alias("__d2")
    )
    s2 = devs.agg(
        F.max("n_days").alias("n_days"),
        (
            F.sum("__d2")
            / (F.max("n_days").cast("double") - F.lit(1.0))
        ).alias("__s2"),
    )
    top = (
        devs.select("day", F.abs(F.col("__d")).alias("__ad"))
        .orderBy(F.desc("__ad"), F.asc("day"))
        .limit(1)
        .select(F.col("day").alias("outlier_day"), "__ad")
    )
    g = F.col("__ad") / F.sqrt(F.col("__s2"))
    return s2.crossJoin(F.broadcast(top)).select(
        "n_days",
        "outlier_day",
        (F.round(g, 4) + F.lit(0.0)).alias("g_stat"),
        F.when(F.round(g, 4) > 3.0, F.lit("outlier"))
        .otherwise(F.lit("clean"))
        .alias("verdict_3sigma"),
    )


def q_kruskal_wallis_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA: do order values differ across the
    customer's region?  Ranks are never materialized per row — the fact
    reduces to a (region, cents) grouped frame, the global average rank
    of each tied value comes from a value-level cumulative count, and
    the doubled rank-sum 2R_j = Σ t_rc·(2·below + t_all + 1) stays an
    exact BIGINT, so both engines divide identical integers.  H gets
    the standard tie correction 1 − Σ(t³−t)/(N³−N) from exact integer
    tie sums.  χ²(4) 5% critical = 9.488 (fixed literal).

    Scale: rank assignment is O(distinct values) after a grouped
    reduction of the fact — no global row-level sort, no window over
    the raw orders (the house rule for rank statistics at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    labeled = (
        orders.select("o_custkey", cents.alias("cents"))
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("r_name", "cents")
    )
    by_rc = cache.persist(
        labeled.groupBy("r_name", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t_rc"))
    )
    by_c = by_rc.groupBy("cents").agg(
        F.sum("t_rc").cast("long").alias("t_all")
    )
    # distributed prefix ladder (round 10): distinct order cents are
    # ~|orders| at scale — the below-count rides the range-bucket
    # ladder, not a single-task window
    ranked = scale.binned_running_sum(
        by_c, ["cents"], "t_all", out_col="__cum_incl"
    ).select(
        "cents",
        "t_all",
        (F.col("__cum_incl") - F.col("t_all")).cast("long").alias("below"),
    )
    # rank-sum accumulates in DECIMAL(38,0): at the 100 TB posture a
    # region's doubled rank-sum is ~5e19 and would silently overflow
    # int64 (round-9 ADVICE) — same pattern as q_granger's moment matrix
    per_region = (
        by_rc.join(ranked, "cents")
        .groupBy("r_name")
        .agg(
            F.sum("t_rc").cast("long").alias("n_orders"),
            F.sum(
                F.col("t_rc").cast("decimal(38,0)")
                * (F.lit(2) * F.col("below") + F.col("t_all") + F.lit(1))
            )
            .cast("decimal(38,0)")
            .alias("__two_r"),
        )
    )
    r_dbl = F.col("__two_r").cast("double") / F.lit(2.0)
    glob = per_region.agg(
        F.sum("n_orders").cast("long").alias("__n"),
        F.sum(r_dbl * r_dbl / F.col("n_orders").cast("double")).alias(
            "__sum_r2n"
        ),
    )
    # t³ exceeds int64 once a tie group passes ~2.1M rows — keep the
    # whole tie sum in DECIMAL(38,0) (HUGEINT on the DuckDB side)
    t_dec = F.col("t_all").cast("decimal(38,0)")
    tie = by_c.agg(
        F.sum(t_dec * t_dec * t_dec - t_dec)
        .cast("decimal(38,0)")
        .alias("__tie_sum")
    )
    nn = F.col("__n").cast("double")
    h_unadj = (
        F.lit(12.0) / (nn * (nn + F.lit(1.0))) * F.col("__sum_r2n")
        - F.lit(3.0) * (nn + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__tie_sum").cast("double") / (
        nn * nn * nn - nn
    )
    h = h_unadj / corr
    scalar = glob.crossJoin(F.broadcast(tie)).select(
        (F.round(h, 4) + F.lit(0.0)).alias("h_stat"),
        F.when(F.round(h, 4) > 9.488, F.lit("reject_equal"))
        .otherwise(F.lit("no_difference"))
        .alias("verdict_5pct"),
    )
    return (
        per_region.crossJoin(F.broadcast(scalar))
        .select(
            "r_name",
            "n_orders",
            (F.round(r_dbl / F.col("n_orders").cast("double"), 4) + F.lit(0.0))
            .alias("avg_rank"),
            "h_stat",
            "verdict_5pct",
        )
        .orderBy("r_name")
    )


def q_brown_forsythe_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test: is daily-revenue
    spread equal across the seven weekdays?  z = |cents − group
    median|; medians of exact integer cents interpolate to the .5 grid
    (< 2^53, so per-group z sums are EXACT in any accumulation order),
    and the one-way ANOVA F on z uses direct positive-term deviation
    sums (no cancellation), rounded at 4.  F(6, ~358) 5% critical ≈
    2.12 (fixed literal).  Day-of-week parity: Spark weekday()+1 ==
    DuckDB isodow (CLAUDE.md).  Scale: all stages over the ≤365-row
    day spine."""
    daily = cache.persist(
        _daily_cents_1995(spark, sf_dir)
        .select(
            (F.weekday("day") + F.lit(1)).cast("int").alias("isodow"),
            "cents",
        )
    )
    med = daily.groupBy("isodow").agg(
        F.expr("percentile(cents, 0.5)").alias("__med")
    )
    z = cache.persist(
        daily.join(F.broadcast(med), "isodow")
        .select(
            "isodow",
            F.abs(F.col("cents").cast("double") - F.col("__med")).alias("__z"),
        )
    )
    grp = z.groupBy("isodow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("__z").alias("__sz"),
    )
    grp = grp.select(
        "isodow",
        "n_days",
        (F.col("__sz") / F.col("n_days").cast("double")).alias("__zbar"),
    )
    within = (
        z.join(F.broadcast(grp), "isodow")
        .agg(
            F.sum(
                (F.col("__z") - F.col("__zbar"))
                * (F.col("__z") - F.col("__zbar"))
            ).alias("__ssw")
        )
    )
    tot = grp.agg(
        F.sum(F.col("__zbar") * F.col("n_days").cast("double")).alias("__tz"),
        F.sum("n_days").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    gbar = F.col("__tz") / F.col("__n").cast("double")
    between = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n_days").cast("double")
                * (F.col("__zbar") - gbar)
                * (F.col("__zbar") - gbar)
            ).alias("__ssb"),
            F.max("__n").alias("__n"),
            F.max("__k").alias("__k"),
        )
    )
    fstat = (
        F.col("__ssb")
        / (F.col("__k").cast("double") - F.lit(1.0))
        / (
            F.col("__ssw")
            / (F.col("__n").cast("double") - F.col("__k").cast("double"))
        )
    )
    scalar = between.crossJoin(F.broadcast(within)).select(
        (F.round(fstat, 4) + F.lit(0.0)).alias("bf_f_stat"),
        F.when(F.round(fstat, 4) > 2.12, F.lit("heteroscedastic"))
        .otherwise(F.lit("homoscedastic"))
        .alias("verdict_5pct"),
    )
    return (
        grp.crossJoin(F.broadcast(scalar))
        .select(
            "isodow",
            "n_days",
            (F.round(F.col("__zbar"), 2) + F.lit(0.0)).alias("mean_abs_dev"),
            "bf_f_stat",
            "verdict_5pct",
        )
        .orderBy("isodow")
    )


def q_overdispersion_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen per event type: dispersion index
    D = var/mean of the observed daily event counts (the
    count-modelling gate before any Poisson-rate assumption).  Sample
    variance assembles from EXACT integer moments — n·Σx² − (Σx)² in
    DECIMAL(38,0)/HUGEINT, divided ONCE by n(n−1) in double (the
    breusch_pagan precedent) — so both engines divide identical
    integers.  Defined over observed (type, day) pairs; D > 1.2 flags
    overdispersed (operational threshold).  Scale: the fact reduces to
    ≤ types×days rows before any moment pass."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    xd = F.col("x").cast("decimal(19,0)")
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("__sxx"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    num = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    mean = F.col("__sx").cast("double") / F.col("n_days").cast("double")
    var = num / (
        F.col("n_days").cast("double")
        * (F.col("n_days").cast("double") - F.lit(1.0))
    )
    d = var / mean
    return mom.select(
        "event_type",
        "n_days",
        (F.round(mean, 4) + F.lit(0.0)).alias("mean_daily"),
        (F.round(var, 4) + F.lit(0.0)).alias("var_daily"),
        (F.round(d, 4) + F.lit(0.0)).alias("dispersion_index"),
        F.when(F.round(d, 4) > 1.2, F.lit("overdispersed"))
        .otherwise(F.lit("poisson_like"))
        .alias("verdict"),
    ).orderBy("event_type")


def q_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test on 1995 daily revenue: count
    interior days that are strict local extrema (peak or trough) of
    the integer-cents series; under i.i.d. randomness E[T] = 2(n−2)/3
    and var(T) = (16n−29)/90 — z from exact integers, rounded at 4.
    Strict inequalities make ties deterministic.  Complements the
    runs/Ljung-Box entries (magnitude-free local-shape randomness).
    Scale: lag/lead over the ≤365-row day spine."""
    daily = _daily_cents_1995(spark, sf_dir)
    wd = Window.orderBy("day")
    lagged = daily.select(
        "cents",
        F.lag("cents").over(wd).alias("__p"),
        F.lead("cents").over(wd).alias("__f"),
    )
    is_tp = (
        ((F.col("__p") < F.col("cents")) & (F.col("cents") > F.col("__f")))
        | ((F.col("__p") > F.col("cents")) & (F.col("cents") < F.col("__f")))
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("__p").isNotNull() & F.col("__f").isNotNull() & is_tp,
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("turning_points"),
    )
    nn = F.col("n_days").cast("double")
    expd = F.lit(2.0) * (nn - F.lit(2.0)) / F.lit(3.0)
    var = (F.lit(16.0) * nn - F.lit(29.0)) / F.lit(90.0)
    zz = (F.col("turning_points").cast("double") - expd) / F.sqrt(var)
    return agg.select(
        "n_days",
        "turning_points",
        (F.round(expd, 4) + F.lit(0.0)).alias("expected_tp"),
        (F.round(zz, 4) + F.lit(0.0)).alias("z_stat"),
        F.when(F.abs(F.round(zz, 4)) > 1.96, F.lit("non_random"))
        .otherwise(F.lit("random"))
        .alias("verdict_5pct"),
    )


def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics stickiness: per calendar month, average daily
    active users over active days divided by monthly active users
    (exact COUNT DISTINCT on both sides — the engagement-depth KPI
    PMs read next to WAU).  avg_dau divides two exact integers; the
    ratio rounds at 6.  Scale: two grouped exact-distinct passes over
    the events fact, both keyed on (month[, day]) — partial aggregation
    does the heavy lifting map-side."""
    events = _t(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts")).cast("date")
    dau = (
        events.groupBy(
            month.alias("month"), F.to_date("ts").alias("day")
        )
        .agg(F.countDistinct("user_id").cast("long").alias("__dau"))
        .groupBy("month")
        .agg(
            F.sum("__dau").cast("long").alias("__dau_sum"),
            F.count(F.lit(1)).cast("long").alias("active_days"),
        )
    )
    mau = events.groupBy(month.alias("month")).agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    avg_dau = F.col("__dau_sum").cast("double") / F.col(
        "active_days"
    ).cast("double")
    return (
        dau.join(mau, "month")
        .select(
            "month",
            "active_days",
            "mau",
            (F.round(avg_dau, 2) + F.lit(0.0)).alias("avg_dau"),
            (
                F.round(avg_dau / F.col("mau").cast("double"), 6)
                + F.lit(0.0)
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by first-order
    year, cumulative revenue per cohort member by account age in years
    (the LTV complement of cohort_retention, which tracks presence, not
    value).  Cohort assignment is a window min over the customer key —
    ONE shuffle on o_custkey serves cohorting, sizing, and the revenue
    rollup; the cumulative window then runs over the ≤ years² grid.
    Cents stay exact integers until the single terminal division, with
    the operand order (cents → /100 → /size) written identically in
    both engines."""
    orders = _t(spark, sf_dir, "orders")
    wcust = Window.partitionBy("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    o2 = cache.persist(
        orders.select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("__yr"),
            cents.alias("__cents"),
        )
        .withColumn(
            "cohort_year", F.min("__yr").over(wcust).cast("int")
        )
    )
    sizes = o2.groupBy("cohort_year").agg(
        F.countDistinct("o_custkey").cast("long").alias("cohort_size")
    )
    rev = o2.groupBy(
        "cohort_year",
        (F.col("__yr") - F.col("cohort_year")).cast("int").alias("age_years"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("__cents").cast("long").alias("__cents"),
    )
    wc = Window.partitionBy("cohort_year").orderBy("age_years")
    cum = F.sum("__cents").over(wc).cast("long")
    ltv = (
        cum.cast("double")
        / F.lit(100.0)
        / F.col("cohort_size").cast("double")
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            "cohort_size",
            "n_orders",
            (F.round(cum.cast("double") / F.lit(100.0), 2) + F.lit(0.0))
            .alias("cum_revenue"),
            (F.round(ltv, 2) + F.lit(0.0)).alias("ltv_per_customer"),
        )
        .orderBy("cohort_year", "age_years")
    )


def q_rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value migration: monetary quintile in the 1995-1997
    half vs the 1998+ half (the segment-transition view next to the
    static rfm_segments).  Quintiles are ntile(5) over the PER-CUSTOMER
    spend frame with a unique (cents DESC, custkey ASC) ordering —
    deterministic and identical ntile bucket-split semantics in both
    engines; quintile 0 marks customers absent from that half.  Scale
    (round 10): quintiles come from the distributed ``binned_ntile``
    ladder (DESC spend rides the negated key) — the customer frame
    grows with data, so no single-task ntile window."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def half(pred, out):
        per = (
            orders.filter(pred)
            .groupBy("o_custkey")
            .agg(F.sum(cents).cast("long").alias("__cents"))
            .withColumn("__negc", -F.col("__cents"))
        )
        return scale.binned_ntile(
            per, ["__negc", "o_custkey"], 5, out_col=out
        ).select("o_custkey", F.col(out).cast("int").alias(out))

    h1 = half(F.year("o_orderdate") <= 1997, "q_h1")
    h2 = half(F.year("o_orderdate") >= 1998, "q_h2")
    return (
        h1.join(h2, "o_custkey", "full_outer")
        .select(
            F.coalesce("q_h1", F.lit(0)).cast("int").alias("q_h1"),
            F.coalesce("q_h2", F.lit(0)).cast("int").alias("q_h2"),
        )
        .groupBy("q_h1", "q_h2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("q_h1", "q_h2")
    )


def q_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy rate per source: conditional bigram entropy
    H(w₂|w₁) = Σ c₁₂·ln(c₁/c₁₂) / (N·ln 2) bits — the LM-difficulty
    number that sits between unigram entropy and the KN model (a
    low-entropy source is repetitive; curriculum and mixture weights
    read this).  Tokenization and the ≥2-token gate mirror the KN
    bigram entries; adjacency comes from a lead window inside each
    doc (one shuffle on doc_id).  All counts are exact integers; the
    single log-sum divides once by N·ln2.  Scale: grouped bigram
    counts, nothing row-level past the first reduction."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.filter(
        F.col("text").isNotNull() & (F.size(toks) >= 2)
    ).select("source", "doc_id", toks.alias("__t"))
    ex = base.select(
        "source", "doc_id", F.posexplode("__t").alias("__i", "__w")
    )
    wd = Window.partitionBy("doc_id").orderBy("__i")
    bg = ex.select(
        "source",
        F.col("__w").alias("__w1"),
        F.lead("__w").over(wd).alias("__w2"),
    ).filter(F.col("__w2").isNotNull())
    c12 = cache.persist(
        bg.groupBy("source", "__w1", "__w2")
        .agg(F.count(F.lit(1)).cast("long").alias("__c12"))
    )
    wc1 = Window.partitionBy("source", "__w1")
    terms = c12.select(
        "source",
        "__c12",
        F.sum("__c12").over(wc1).cast("long").alias("__c1"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("__c12").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_bigrams"),
        F.sum(
            F.col("__c12").cast("double")
            * F.log(
                F.col("__c1").cast("double") / F.col("__c12").cast("double")
            )
        ).alias("__hsum"),
    )
    h_bits = F.col("__hsum") / (
        F.col("n_bigrams").cast("double") * F.log(F.lit(2.0))
    )
    return agg.select(
        "source",
        "n_bigrams",
        "distinct_bigrams",
        (F.round(h_bits, 6) + F.lit(0.0)).alias("cond_entropy_bits"),
    ).orderBy("source")


def q_unigram_sampling_075(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling distribution: p(tok) ∝
    count^0.75 (the 3/4-power smoothing every embedding trainer uses to
    damp head tokens).  The 0.75 power is exp(0.75·ln c) in BOTH
    engines (non-integer pow is not cross-engine safe — CLAUDE.md);
    ranking uses the exact integer count with a token tiebreak (the
    power is monotone in c, so the float never orders).  Top 20 with
    smoothed vs raw probability.  Scale: one grouped count of the
    corpus, a broadcast scalar for the normalizer."""
    docs = _t(spark, sf_dir, "documents")
    counts = cache.persist(
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wgt = F.exp(F.lit(0.75) * F.log(F.col("c").cast("double")))
    tot = counts.agg(
        F.sum(wgt).alias("__wsum"),
        F.sum("c").cast("long").alias("__csum"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(20)
        .select(
            "tok",
            "c",
            (F.round(F.col("c").cast("double") / F.col("__csum").cast("double"), 6)
             + F.lit(0.0)).alias("p_raw"),
            (F.round(wgt / F.col("__wsum"), 6) + F.lit(0.0)).alias(
                "p_smoothed"
            ),
        )
    )


def q_embedding_isotropy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy probe: the average pairwise cosine of
    the L2-normalized vectors via the sum-vector identity
    (‖Σu‖² − n) / (n(n−1)) — O(n·d) with NO pair materialization (the
    anisotropy smell test run before any cosine-threshold dedup, whose
    calibration the mean offset silently shifts).  Also reports the
    mean-vector norm (0 = isotropic, →1 = collapsed).  Scale: one
    explode + two grouped sums; the identity replaces the O(n²) pair
    join outright."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("__i", "__v")
    ).select("vec_id", "__i", F.col("__v").cast("double").alias("__v"))
    norms = e.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("__v") * F.col("__v"))).alias("__nrm")
    )
    u = e.join(norms, "vec_id").select(
        "__i", (F.col("__v") / F.col("__nrm")).alias("__u")
    )
    dims = u.groupBy("__i").agg(
        F.sum("__u").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    agg = dims.agg(
        F.max("__n").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ssq"),
    )
    nn = F.col("n_vectors").cast("double")
    avg_cos = (F.col("__ssq") - nn) / (nn * (nn - F.lit(1.0)))
    return agg.select(
        "n_vectors",
        "n_dims",
        (F.round(avg_cos, 6) + F.lit(0.0)).alias("avg_pairwise_cosine"),
        (F.round(F.sqrt(F.col("__ssq")) / nn, 6) + F.lit(0.0)).alias(
            "mean_vector_norm"
        ),
    )


def q_streaming_running_totals_complete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming shape NINE: COMPLETE output mode — the unwatermarked
    running-totals family (every prior streaming entry is append-mode
    closed windows).  The file source is throttled to 4 files per
    trigger, so the memory sink is rewritten across MANY microbatches
    and the final table is the incrementally-accumulated global
    aggregate — which must equal the batch GROUP BY exactly because
    the value sum is carried as exact integer cents (doubles would
    drift with accumulation order across batch boundaries).  Scale
    posture: complete mode is for LOW-cardinality dashboards (per-type
    totals, k rows); the state is one row per key, not per event."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
    )

    stream, tag = _staged_event_stream_throttled(
        spark, sf_dir, max_files_per_trigger=4
    )
    cents = F.floor(
        F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)
    ).cast("long")
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("__cents"),
    )
    name = f"stream_totals_{tag}"
    run_to_memory_sink(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            "event_type",
            "n_events",
            (
                F.round(
                    F.col("__cents").cast("double") / F.lit(100.0), 2
                )
                + F.lit(0.0)
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


def q_streaming_two_source_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming shape TEN: UNION of two streaming sources (the events
    fact split by user parity into two file streams) merged under one
    watermark into tumbling daily per-type counts — the multi-source
    ingestion topology (e.g. two regional kafka topics feeding one
    fact).  Append mode emits exactly the windows the final global
    watermark closed (window_end <= max(ts) − 1 h — the union's
    watermark tracks the max event time across BOTH sources), which
    the oracle mirrors with the standard HAVING horizon.  Value sums
    ride as exact integer cents."""
    configure_runtime(spark)
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
    )

    a, b, tag = _staged_event_stream_split(spark, sf_dir)
    cents = F.floor(
        F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)
    ).cast("long")
    agg = (
        a.unionByName(b)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("__cents"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "event_type",
            "n_events",
            "__cents",
        )
    )
    name = f"stream_union_{tag}"
    run_to_memory_sink(agg, name)
    return (
        spark.table(name)
        .select(
            "date",
            "event_type",
            "n_events",
            (
                F.round(
                    F.col("__cents").cast("double") / F.lit(100.0), 2
                )
                + F.lit(0.0)
            ).alias("total_value"),
        )
        .orderBy("date", "event_type")
    )


def q_pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily purchase revenue at lags 1-4 —
    the AR-order identification table next to daily_revenue_acf (an
    AR(p) shows PACF cutting off after p where the ACF tails).  The
    Durbin-Levinson recursion is UNROLLED to four fixed levels with
    identical parenthesization in both engines, fed by the unrounded
    lag correlations; PACF rounds at 5 (one division per level bounds
    ulp growth).  Scale: everything past the day-spine reduction is
    scalar algebra on one row."""
    daily = _daily_purchase_cents(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        "cents",
        *[F.lag("cents", k).over(w).alias(f"l{k}") for k in range(1, 5)],
    )
    wide = lagged.agg(
        *[F.corr("cents", f"l{k}").alias(f"r{k}") for k in range(1, 5)]
    )
    r1, r2, r3, r4 = (F.col(f"r{k}") for k in range(1, 5))
    p1 = r1
    p2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    a21 = r1 - p2 * r1
    p3 = (r3 - (a21 * r2 + p2 * r1)) / (
        F.lit(1.0) - (a21 * r1 + p2 * r2)
    )
    a31 = a21 - p3 * p2
    a32 = p2 - p3 * a21
    p4 = (r4 - (a31 * r3 + a32 * r2 + p3 * r1)) / (
        F.lit(1.0) - (a31 * r1 + a32 * r2 + p3 * r3)
    )
    cols = wide.select(
        *[
            (F.round(F.col(f"r{k}"), 6) + F.lit(0.0)).alias(f"c{k}")
            for k in range(1, 5)
        ],
        *[
            (F.round(p, 5) + F.lit(0.0)).alias(f"p{k}")
            for k, p in ((1, p1), (2, p2), (3, p3), (4, p4))
        ],
    )
    stack = ", ".join(f"{k}, c{k}, p{k}" for k in range(1, 5))
    return cols.selectExpr(
        f"stack(4, {stack}) AS (lag, acf, pacf)"
    ).orderBy("lag")


def q_cramers_v_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for two categorical pairs on the events fact:
    Cramér's V = √(χ²/(n·(min(r,c)−1))) for event_type × weekday and
    event_type × value band (fixed 25-point bands — no global sort at
    scale, unlike a quantile cut).  χ² from exact integer observed
    counts against row·col/n expecteds; the magnitude-free V is what
    makes the two pairs comparable.  Scale: two grouped counts of the
    fact; the contingency algebra runs on ≤ r·c rows."""
    events = _t(spark, sf_dir, "events")

    def one(label: str, col):
        cells = (
            events.select(
                F.col("event_type").alias("__a"), col.alias("__b")
            )
            .groupBy("__a", "__b")
            .agg(F.count(F.lit(1)).cast("long").alias("__o"))
        )
        cells = cache.persist(cells)
        wa = Window.partitionBy("__a")
        wb = Window.partitionBy("__b")
        tot = cells.select(
            "__o",
            F.sum("__o").over(wa).cast("long").alias("__ra"),
            F.sum("__o").over(wb).cast("long").alias("__rb"),
        )
        n_expr = cells.agg(
            F.sum("__o").cast("long").alias("__n"),
            F.countDistinct("__a").cast("long").alias("__r"),
            F.countDistinct("__b").cast("long").alias("__c"),
        )
        chi = tot.crossJoin(F.broadcast(n_expr)).agg(
            F.max("__n").alias("__n"),
            F.max("__r").alias("__r"),
            F.max("__c").alias("__c"),
            F.sum(
                (
                    F.col("__o").cast("double")
                    - F.col("__ra").cast("double")
                    * F.col("__rb").cast("double")
                    / F.col("__n").cast("double")
                )
                * (
                    F.col("__o").cast("double")
                    - F.col("__ra").cast("double")
                    * F.col("__rb").cast("double")
                    / F.col("__n").cast("double")
                )
                / (
                    F.col("__ra").cast("double")
                    * F.col("__rb").cast("double")
                    / F.col("__n").cast("double")
                )
            ).alias("__chi2"),
        )
        v = F.sqrt(
            F.col("__chi2")
            / (
                F.col("__n").cast("double")
                * (
                    F.least(F.col("__r"), F.col("__c")).cast("double")
                    - F.lit(1.0)
                )
            )
        )
        return chi.select(
            F.lit(label).alias("pair"),
            F.col("__n").alias("n_events"),
            (F.col("__r") * F.col("__c")).cast("long").alias("n_cells"),
            (F.round(F.col("__chi2"), 4) + F.lit(0.0)).alias("chi2"),
            (F.round(v, 6) + F.lit(0.0)).alias("cramers_v"),
        )

    band = F.least(
        F.lit(3),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / F.lit(25.0)),
    ).cast("int")
    return one("type_x_weekday", (F.weekday("ts") + F.lit(1)).cast("int")).unionByName(
        one("type_x_value_band", band)
    ).orderBy("pair")


def q_kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance: do the seven weekdays agree on the
    ranking of event types by traffic?  Each weekday ranks the types
    by its event count (deterministic count DESC, type ASC); W =
    12·S/(m²(n³−n)) from the EXACT integer rank sums (S is an exact
    integer times 4 — computed in integer quarters so both engines
    divide identical integers).  The χ² approximation m(n−1)W gates
    the verdict.  Scale: one grouped count, then algebra on the
    ≤ m·n rank grid."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    wr = Window.partitionBy("isodow").orderBy(
        F.desc("__cnt"), F.asc("event_type")
    )
    ranked = counts.select(
        "isodow",
        "event_type",
        F.row_number().over(wr).cast("long").alias("__rank"),
    )
    sums = cache.persist(
        ranked.groupBy("event_type")
        .agg(F.sum("__rank").cast("long").alias("rank_sum"))
    )
    tot = sums.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("rank_sum").cast("long").alias("__t"),
    )
    # S·n² = Σ(n·R_j − T)² stays exact integer, so W divides exact ints
    s_n2 = (
        sums.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("__n") * F.col("rank_sum") - F.col("__t"))
                * (F.col("__n") * F.col("rank_sum") - F.col("__t"))
            )
            .cast("long")
            .alias("__s_n2"),
            F.max("__n").alias("__n"),
        )
    )
    m = F.lit(7.0)
    nn = F.col("__n").cast("double")
    w_stat = (
        F.lit(12.0)
        * (F.col("__s_n2").cast("double") / (nn * nn))
        / (m * m * (nn * nn * nn - nn))
    )
    chi2 = m * (nn - F.lit(1.0)) * w_stat
    scalar = s_n2.select(
        (F.round(w_stat, 6) + F.lit(0.0)).alias("kendall_w"),
        (F.round(chi2, 4) + F.lit(0.0)).alias("chi2_approx"),
        F.when(F.round(chi2, 4) > 9.488, F.lit("concordant"))
        .otherwise(F.lit("no_agreement"))
        .alias("verdict_5pct"),
    )
    return (
        sums.crossJoin(F.broadcast(scalar))
        .select(
            "event_type", "rank_sum", "kendall_w", "chi2_approx",
            "verdict_5pct",
        )
        .orderBy("event_type")
    )


def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-level quantile treatment effect: order values split by
    the customer-parity pseudo-variant (the cuped/ab_test assignment
    precedent), ntile(10) WITHIN each variant over a deterministic
    (cents, orderkey) order, and the per-decile mean difference — the
    distributional view an average treatment effect hides (does the
    'treatment' move the tails or the middle?).  Means divide exact
    integer cents once per side.  Scale: the ntile sorts within
    2 variants — same accepted posture as the percentile family."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.select(
        F.pmod(F.col("o_custkey"), F.lit(2)).cast("int").alias("__v"),
        cents.alias("__cents"),
        "o_orderkey",
    )
    wq = Window.partitionBy("__v").orderBy(
        F.asc("__cents"), F.asc("o_orderkey")
    )
    dec = base.select(
        "__v", "__cents", F.ntile(10).over(wq).cast("int").alias("decile")
    )
    per = dec.groupBy("__v", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__cents").cast("long").alias("__s"),
    )
    mean = F.col("__s").cast("double") / F.col("__n").cast("double") / F.lit(
        100.0
    )
    a = per.filter(F.col("__v") == 0).select(
        "decile",
        F.col("__n").alias("n_control"),
        mean.alias("__m0"),
    )
    b = per.filter(F.col("__v") == 1).select(
        "decile",
        F.col("__n").alias("n_treated"),
        mean.alias("__m1"),
    )
    return (
        a.join(b, "decile")
        .select(
            "decile",
            "n_control",
            "n_treated",
            (F.round(F.col("__m0"), 2) + F.lit(0.0)).alias("mean_control"),
            (F.round(F.col("__m1"), 2) + F.lit(0.0)).alias("mean_treated"),
            (F.round(F.col("__m1") - F.col("__m0"), 2) + F.lit(0.0)).alias(
                "qte"
            ),
        )
        .orderBy("decile")
    )


def q_lift_table_purchase_propensity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gains/lift table for a deterministic propensity score: users
    scored by first-half-month view count, labeled by ANY second-half
    purchase, cut into score deciles (ntile over the bounded USER
    frame, score DESC / user ASC), reporting per-decile conversion,
    lift, and cumulative capture — the standard model-eval operator,
    here over a transparent heuristic score.  Lift = pos·total_users /
    (n·total_pos) is a ratio of exact integer products; capture
    cumulates exact integers.  Scale: everything past the two grouped
    passes runs on the user-level frame."""
    events = _t(spark, sf_dir, "events")
    obs = events.filter(F.dayofmonth("ts") <= 15)
    out = events.filter(F.dayofmonth("ts") > 15)
    score = obs.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("__score")
    )
    label = out.filter(F.col("event_type") == "purchase").select(
        "user_id"
    ).distinct().withColumn("__pos", F.lit(1).cast("long"))
    users = score.join(label, "user_id", "left").select(
        "user_id",
        "__score",
        F.coalesce("__pos", F.lit(0)).cast("long").alias("__pos"),
    )
    # distributed ntile ladder (round 10): DESC score on the negated
    # key — the user frame grows with data, no single-task window
    dec = scale.binned_ntile(
        users.withColumn("__negs", -F.col("__score")),
        ["__negs", "user_id"],
        10,
        out_col="decile",
    ).select(
        F.col("decile").cast("int").alias("decile"), "__score", "__pos"
    )
    per = cache.persist(
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("__pos").cast("long").alias("n_pos"),
            F.sum("__score").cast("long").alias("__ssum"),
        )
    )
    tot = per.agg(
        F.sum("n_users").cast("long").alias("__tu"),
        F.sum("n_pos").cast("long").alias("__tp"),
    )
    wcum = Window.orderBy("decile")
    cum_pos = F.sum("n_pos").over(wcum).cast("long")
    lift = (
        (F.col("n_pos") * F.col("__tu")).cast("double")
        / (F.col("n_users") * F.col("__tp")).cast("double")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_pos",
            (
                F.round(
                    F.col("__ssum").cast("double")
                    / F.col("n_users").cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("avg_score"),
            (
                F.round(
                    F.col("n_pos").cast("double")
                    / F.col("n_users").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("conversion"),
            (F.round(lift, 6) + F.lit(0.0)).alias("lift"),
            (
                F.round(
                    cum_pos.cast("double") / F.col("__tp").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


def q_er_blocking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking PLANNER: block-size distribution for
    the (brand, size) key fuzzy_part_names compares under — per size
    bucket, how many blocks / records / candidate pairs Σb(b−1)/2 the
    key yields (the number that decides whether a blocking key is
    usable before anyone runs the quadratic comparison).  Exact
    integers throughout.  Scale: one grouped count of the dim, then a
    ≤distinct-sizes frame."""
    part = _t(spark, sf_dir, "part")
    blocks = part.groupBy("p_brand", "p_size").agg(
        F.count(F.lit(1)).cast("long").alias("__b")
    )
    bucket = (
        F.when(F.col("__b") >= 5, F.lit(5)).otherwise(F.col("__b"))
    ).cast("int")
    return (
        blocks.groupBy(bucket.alias("block_size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("__b").cast("long").alias("n_records"),
            F.sum(F.col("__b") * (F.col("__b") - F.lit(1)) / F.lit(2))
            .cast("long")
            .alias("n_candidate_pairs"),
        )
        .orderBy("block_size_bucket")
    )


def q_doc_outlier_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence length outliers per source: q1/q3 of n_chars (exact
    interpolated percentiles over integers — both engines land on the
    same exact .25-grid doubles), 1.5·IQR fences, and the outlier
    counts each side — the length screen run before any quality model
    sees the corpus.  Scale: percentile over the per-source grouped
    column, one pass to count violations."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.25)").alias("__q1"),
        F.expr("percentile(n_chars, 0.75)").alias("__q3"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    iqr = F.col("__q3") - F.col("__q1")
    lo = F.col("__q1") - F.lit(1.5) * iqr
    hi = F.col("__q3") + F.lit(1.5) * iqr
    joined = docs.join(F.broadcast(q), "source")
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            (F.round(F.max("__q1"), 2) + F.lit(0.0)).alias("q1_chars"),
            (F.round(F.max("__q3"), 2) + F.lit(0.0)).alias("q3_chars"),
            F.sum(
                F.when(F.col("n_chars").cast("double") < lo, F.lit(1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_short_outliers"),
            F.sum(
                F.when(F.col("n_chars").cast("double") > hi, F.lit(1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_long_outliers"),
        )
        .orderBy("source")
    )


def q_embedding_dim_variance_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-zero-variance dimension screen over the embedding matrix:
    per dimension, mean and sample variance (direct positive-term
    deviation sums), flagged against 0.5× the average dimension
    variance — the feature-pruning pass before PQ/IVF codebooks waste
    bits on dead dimensions.  Scale: one explode + grouped moments;
    the flag threshold is a broadcast scalar."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("dim", "__v")
    ).select("dim", F.col("__v").cast("double").alias("__v"))
    mom = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.avg("__v").alias("__mu"),
    )
    dev = e.join(F.broadcast(mom), "dim")
    var_col = (
        F.sum(
            (F.col("__v") - F.col("__mu")) * (F.col("__v") - F.col("__mu"))
        )
        / (F.max("__n").cast("double") - F.lit(1.0))
    )
    per_dim = cache.persist(
        dev.groupBy("dim")
        .agg(
            F.max("__n").cast("long").alias("n_vectors"),
            F.max("__mu").alias("__mu"),
            var_col.alias("__var"),
        )
    )
    thr = per_dim.agg(
        (
            F.sum("__var") / F.count(F.lit(1)).cast("double") * F.lit(0.5)
        ).alias("__thr")
    )
    return (
        per_dim.crossJoin(F.broadcast(thr))
        .select(
            "dim",
            "n_vectors",
            (F.round(F.col("__mu"), 6) + F.lit(0.0)).alias("mean"),
            (F.round(F.col("__var"), 6) + F.lit(0.0)).alias("variance"),
            F.when(
                F.col("__var") < F.col("__thr"), F.lit("low_variance")
            )
            .otherwise(F.lit("ok"))
            .alias("flag"),
        )
        .orderBy("dim")
    )


def q_shingle_df_stopword_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stop-shingle planner for the Jaccard dedup family: the top-15
    4-gram shingles by DOCUMENT frequency with their df ratio and the
    max_df=0.5 stop flag — the table that justifies dedup_ngram's
    stop-shingle guard (a shingle in half the corpus carries no dedup
    signal but quadratic join cost).  Shingles form from three lead
    windows inside each doc; df counts distinct docs.  Scale: grouped
    distinct count per shingle, top-k via deterministic (df, shingle)
    order."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.filter(
        F.col("text").isNotNull() & (F.size(toks) >= 4)
    ).select("doc_id", toks.alias("__t"))
    ex = base.select("doc_id", F.posexplode("__t").alias("__i", "__w"))
    wd = Window.partitionBy("doc_id").orderBy("__i")
    sh = ex.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("__w"),
            F.lead("__w", 1).over(wd),
            F.lead("__w", 2).over(wd),
            F.lead("__w", 3).over(wd),
        ).alias("shingle"),
        F.lead("__w", 3).over(wd).alias("__last"),
    ).filter(F.col("__last").isNotNull())
    df_counts = sh.groupBy("shingle").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n_docs = base.agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    return (
        df_counts.crossJoin(F.broadcast(n_docs))
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(15)
        .select(
            "shingle",
            "df",
            (
                F.round(
                    F.col("df").cast("double") / F.col("__nd").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("df_ratio"),
            F.when(
                F.col("df").cast("double")
                > F.lit(0.5) * F.col("__nd").cast("double"),
                F.lit("stop_shingle"),
            )
            .otherwise(F.lit("keep"))
            .alias("verdict_maxdf_05"),
        )
    )


def q_sessionized_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per session date: share of 30-minute-gap sessions
    containing a single event — the engagement-quality KPI on top of
    the sessionizer (same gap/tiebreak discipline as session_stats).
    Counts are exact integers; the rate divides once.  Scale: one
    shuffle on user_id for the gaps-and-islands pass, then a grouped
    reduce on session_date."""
    events = _t(spark, sf_dir, "events")
    stats = temporal.session_stats(
        events, "user_id", "ts", tiebreakers=["event_id"]
    )
    per_day = stats.groupBy(
        F.to_date("session_start_ts").alias("session_date")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(
            F.when(F.col("n_events") == 1, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_bounces"),
    )
    return per_day.select(
        "session_date",
        "n_sessions",
        "n_bounces",
        (
            F.round(
                F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("bounce_rate"),
    ).orderBy("session_date")


def q_mmd_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy per label vs the rest of
    the corpus: MMD² = ‖μ_label − μ_rest‖² — the distribution-shift
    number behind "did this class drift away from the corpus?", exact
    under the linear kernel with NO pair enumeration (mean embeddings
    only, the same O(n·d) posture as the isotropy probe).  Rest-means
    come from global-minus-label sums, so the fact is scanned once.
    Scale: one explode + one grouped sum per (label, dim)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim", "__v")
    ).select("label", "dim", F.col("__v").cast("double").alias("__v"))
    per = cache.persist(
        e.groupBy("label", "dim")
        .agg(
            F.sum("__v").alias("__s"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
    )
    glob = per.groupBy("dim").agg(
        F.sum("__s").alias("__gs"),
        F.sum("__n").cast("long").alias("__gn"),
    )
    j = per.join(glob, "dim")
    mu_l = F.col("__s") / F.col("__n").cast("double")
    mu_r = (F.col("__gs") - F.col("__s")) / (
        F.col("__gn") - F.col("__n")
    ).cast("double")
    return (
        j.groupBy("label")
        .agg(
            F.max("__n").cast("long").alias("n_vectors"),
            F.sum((mu_l - mu_r) * (mu_l - mu_r)).alias("__mmd2"),
        )
        .select(
            "label",
            "n_vectors",
            (F.round(F.col("__mmd2"), 6) + F.lit(0.0)).alias(
                "mmd2_linear"
            ),
        )
        .orderBy("label")
    )


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top
    k=100 order statistics: γ̂ = (1/k)Σ ln(x_(i)/x_(k+1)), α̂ = 1/γ̂ —
    the heavy-tail gate before anyone assumes finite variance of
    revenue (α ≤ 2 breaks CLT-based CIs; the VaR/newsvendor entries
    care).  Order statistics come from a deterministic TakeOrdered
    (cents DESC, orderkey ASC); logs are unary over exact integer
    ratios and average once.  Scale: top-k of the fact, everything
    after is a 101-row frame."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    top = (
        orders.select(cents.alias("__cents"), "o_orderkey")
        .orderBy(F.desc("__cents"), F.asc("o_orderkey"))
        .limit(101)
    )
    wr = Window.orderBy(F.desc("__cents"), F.asc("o_orderkey"))
    ranked = top.select(
        "__cents", F.row_number().over(wr).cast("int").alias("__r")
    )
    thr = ranked.filter(F.col("__r") == 101).select(
        F.col("__cents").alias("__thr")
    )
    gamma = (
        ranked.filter(F.col("__r") <= 100)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_top"),
            F.avg(
                F.log(
                    F.col("__cents").cast("double")
                    / F.col("__thr").cast("double")
                )
            ).alias("__gamma"),
            F.max(F.col("__thr")).alias("__thr"),
        )
    )
    return gamma.select(
        "k_top",
        (
            F.round(F.col("__thr").cast("double") / F.lit(100.0), 2)
            + F.lit(0.0)
        ).alias("threshold_value"),
        (F.round(F.col("__gamma"), 6) + F.lit(0.0)).alias("hill_gamma"),
        (F.round(F.lit(1.0) / F.col("__gamma"), 4) + F.lit(0.0)).alias(
            "tail_alpha"
        ),
        F.when(
            F.round(F.lit(1.0) / F.col("__gamma"), 4) <= 2.0,
            F.lit("infinite_variance_regime"),
        )
        .otherwise(F.lit("finite_variance"))
        .alias("verdict"),
    )


def q_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of the
    true user population from the two month halves: N̂ = n₁n₂/m and
    the bias-corrected Chapman (n₁+1)(n₂+1)/(m+1) − 1 — the estimator
    for "how many users exist that we never saw" (the audience-sizing
    twin of Chao1, which the vocab entries use for tokens).  All
    inputs are exact distinct counts; each estimate divides once.
    Scale: two grouped distincts + one semi-join-shaped overlap
    count."""
    events = _t(spark, sf_dir, "events")
    h1 = events.filter(F.dayofmonth("ts") <= 15).select("user_id").distinct()
    h2 = events.filter(F.dayofmonth("ts") > 15).select("user_id").distinct()
    n1 = h1.agg(F.count(F.lit(1)).cast("long").alias("n1_first_half"))
    n2 = h2.agg(F.count(F.lit(1)).cast("long").alias("n2_second_half"))
    m = (
        h1.join(h2, "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("m_recaptured"))
    )
    seen = events.agg(
        F.countDistinct("user_id").cast("long").alias("n_observed")
    )
    base = (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(seen))
    )
    lp = (
        F.col("n1_first_half") * F.col("n2_second_half")
    ).cast("double") / F.col("m_recaptured").cast("double")
    chap = (
        (F.col("n1_first_half") + F.lit(1))
        * (F.col("n2_second_half") + F.lit(1))
    ).cast("double") / (F.col("m_recaptured") + F.lit(1)).cast(
        "double"
    ) - F.lit(1.0)
    return base.select(
        "n1_first_half",
        "n2_second_half",
        "m_recaptured",
        "n_observed",
        (F.round(lp, 2) + F.lit(0.0)).alias("lincoln_petersen_n"),
        (F.round(chap, 2) + F.lit(0.0)).alias("chapman_n"),
    )


def q_shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value conversion attribution over the four
    non-purchase channels (view/click/signup/error): users reduce to
    a 16-row coalition lattice (touch-set bitmask → conversion rate,
    absent coalitions valued 0), and each channel's Shapley value is
    the weighted sum of its 8 marginal contributions with the exact
    k=4 weights {1/4, 1/12, 1/12, 1/4} — the game-theoretic
    attribution the last-touch entry (touch_attribution) approximates.
    Rates divide exact integers; weights are written as identical
    literal expressions in both engines.  Scale: ONE grouped pass over
    the fact; the lattice algebra is 16 rows."""
    events = _t(spark, sf_dir, "events")

    def has(t):
        return F.max(
            F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
        )

    per_user = events.groupBy("user_id").agg(
        has("view").alias("__v"),
        has("click").alias("__c"),
        has("signup").alias("__s"),
        has("error").alias("__e"),
        has("purchase").alias("__p"),
    )
    mask = (
        F.col("__v")
        + F.col("__c") * 2
        + F.col("__s") * 4
        + F.col("__e") * 8
    ).cast("int")
    counts = per_user.groupBy(mask.alias("mask")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__p").cast("long").alias("__conv"),
    )
    spine = spark.range(16).select(F.col("id").cast("int").alias("mask"))
    full = cache.persist(
        spine.join(F.broadcast(counts), "mask", "left")
        .select(
            "mask",
            F.coalesce("__n", F.lit(0)).cast("long").alias("__n"),
            F.when(
                F.coalesce("__n", F.lit(0)) > 0,
                F.coalesce("__conv", F.lit(0)).cast("double")
                / F.col("__n").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("__rate"),
        )
    )
    chans = [(1, "view"), (2, "click"), (4, "signup"), (8, "error")]
    out = None
    for bit, name in chans:
        a = full.filter(
            F.col("mask").bitwiseAND(F.lit(bit)) == 0
        ).select(
            F.col("mask").alias("__ma"), F.col("__rate").alias("__ra")
        )
        b = full.select(
            F.col("mask").alias("__mb"), F.col("__rate").alias("__rb")
        )
        pairs = a.join(
            F.broadcast(b), F.col("__mb") == F.col("__ma") + F.lit(bit)
        )
        sz = F.bit_count(F.col("__ma"))
        wgt = F.when(
            (sz == 0) | (sz == 3), F.lit(0.25)
        ).otherwise(F.lit(1.0) / F.lit(12.0))
        phi = pairs.agg(
            F.sum(wgt * (F.col("__rb") - F.col("__ra"))).alias("__phi")
        ).select(
            F.lit(name).alias("channel"),
            (F.round(F.col("__phi"), 6) + F.lit(0.0)).alias(
                "shapley_value"
            ),
        )
        out = phi if out is None else out.unionByName(phi)
    overall = per_user.agg(
        (
            F.sum("__p").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__oc")
    ).select((F.round(F.col("__oc"), 6) + F.lit(0.0)).alias("overall_conv"))
    return (
        out.crossJoin(F.broadcast(overall))
        .select("channel", "shapley_value", "overall_conv")
        .orderBy("channel")
    )


def q_weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric Weibull fit of the time-to-purchase survival curve by
    the ln(−ln S) ~ ln t regression over the Kaplan-Meier points
    (0 < S < 1, t > 0): slope = shape k̂ (k < 1 ⇒ decreasing hazard),
    scale λ̂ = exp(−intercept/k̂) — the parametric summary the KM
    table can't give (extrapolation, hazard shape).  Both engines
    regress the SAME rounded KM survival values with regr_* (the
    zipf_slope precedent).  Scale: regression over the ≤31-row risk
    table."""
    km = q_purchase_survival_km(spark, sf_dir)
    pts = km.filter(
        (F.col("survival") > 0) & (F.col("survival") < 1) & (F.col("t") > 0)
    ).select(
        F.log(F.col("t").cast("double")).alias("__x"),
        F.log(-F.log(F.col("survival"))).alias("__y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.regr_slope(F.col("__y"), F.col("__x")).alias("__k"),
        F.regr_intercept(F.col("__y"), F.col("__x")).alias("__b"),
        F.regr_r2(F.col("__y"), F.col("__x")).alias("__r2"),
    )
    lam = F.exp(-F.col("__b") / F.col("__k"))
    return agg.select(
        "n_points",
        (F.round(F.col("__k"), 4) + F.lit(0.0)).alias("weibull_shape"),
        (F.round(lam, 2) + F.lit(0.0)).alias("weibull_scale_days"),
        (F.round(F.col("__r2"), 4) + F.lit(0.0)).alias("fit_r2"),
        F.when(F.round(F.col("__k"), 4) < 1.0, F.lit("decreasing_hazard"))
        .otherwise(F.lit("increasing_hazard"))
        .alias("hazard_shape"),
    )


def q_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution over per-customer revenue —
    the curve behind the Gini already in revenue_concentration (which
    point of the distribution carries the inequality).  Deciles are
    ntile(10) over the CUSTOMER-level frame (cents ASC, custkey ASC);
    shares divide exact integer cents by the exact total.  Scale
    (round 10): the customer frame grows with data, so the decile cut
    uses the distributed ``binned_row_number`` ladder plus explicit
    integer arithmetic that REPLICATES ntile's remainder rule (the
    first n%10 buckets get one extra row) — output identical to the
    single-task ntile window, no single-task sort."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    per = orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("long").alias("__cents")
    )
    dec = scale.binned_ntile(
        per, ["__cents", "o_custkey"], 10, out_col="decile"
    ).select("decile", "__cents")
    agg = cache.persist(
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("__cents").cast("long").alias("__s"),
        )
    )
    tot = agg.agg(F.sum("__s").cast("long").alias("__t"))
    wc = Window.orderBy("decile")
    cum = F.sum("__s").over(wc).cast("long")
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            (
                F.round(
                    F.col("__s").cast("double") / F.col("__t").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("revenue_share"),
            (
                F.round(cum.cast("double") / F.col("__t").cast("double"), 6)
                + F.lit(0.0)
            ).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


def q_granger_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger causality test — do yesterday's views help
    predict today's purchases beyond yesterday's purchases?  Restricted
    (y ~ y₋₁) vs unrestricted (y ~ y₋₁ + x₋₁) OLS, F = ΔRSS/(RSS_u/
    (n−3)).  Daily counts are exact integers, the centered moment
    matrix assembles in DECIMAL(38) n-scaled exact integers, and both
    engines cast the SAME exact decimals to double before the identical
    closed-form 2-regressor algebra — no engine-side covariance
    algorithm in the loop.  F(1, n−3) 5% critical ≈ 4.21 (fixed
    literal).  Scale: the fact reduces to the ≤days-row spine before
    any lag or product."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("__x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("__y"),
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        "__y",
        F.lag("__y").over(wd).alias("__y1"),
        F.lag("__x").over(wd).alias("__x1"),
    ).filter(F.col("__y1").isNotNull())
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(d("__y")).cast("decimal(38,0)").alias("__sy"),
        F.sum(d("__y1")).cast("decimal(38,0)").alias("__s1"),
        F.sum(d("__x1")).cast("decimal(38,0)").alias("__s2"),
        F.sum(d("__y") * d("__y")).cast("decimal(38,0)").alias("__syy"),
        F.sum(d("__y1") * d("__y1")).cast("decimal(38,0)").alias("__s11"),
        F.sum(d("__x1") * d("__x1")).cast("decimal(38,0)").alias("__s22"),
        F.sum(d("__y1") * d("__x1")).cast("decimal(38,0)").alias("__s12"),
        F.sum(d("__y") * d("__y1")).cast("decimal(38,0)").alias("__s1y"),
        F.sum(d("__y") * d("__x1")).cast("decimal(38,0)").alias("__s2y"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    # n-scaled centered moments, exact DECIMAL(38) -> double once
    c11 = (n * F.col("__s11") - F.col("__s1") * F.col("__s1")).cast("double")
    c22 = (n * F.col("__s22") - F.col("__s2") * F.col("__s2")).cast("double")
    c12 = (n * F.col("__s12") - F.col("__s1") * F.col("__s2")).cast("double")
    c1y = (n * F.col("__s1y") - F.col("__s1") * F.col("__sy")).cast("double")
    c2y = (n * F.col("__s2y") - F.col("__s2") * F.col("__sy")).cast("double")
    cyy = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    det = c11 * c22 - c12 * c12
    b_u = (c1y * c22 - c2y * c12) / det
    c_u = (c2y * c11 - c1y * c12) / det
    rss_u = cyy - b_u * c1y - c_u * c2y  # n-scaled
    rss_r = cyy - c1y * c1y / c11
    nn = F.col("n_days").cast("double")
    f_stat = (rss_r - rss_u) / (rss_u / (nn - F.lit(3.0)))
    return mom.select(
        "n_days",
        (F.round(b_u, 6) + F.lit(0.0)).alias("coef_lag_purchases"),
        (F.round(c_u, 6) + F.lit(0.0)).alias("coef_lag_views"),
        (F.round(f_stat, 4) + F.lit(0.0)).alias("granger_f"),
        F.when(F.round(f_stat, 4) > 4.21, F.lit("views_granger_cause"))
        .otherwise(F.lit("no_evidence"))
        .alias("verdict_5pct"),
    )


def _jaccard_pairs_04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the dedup-tuning entries: exact 3-gram Jaccard
    pairs at the low 0.05 floor (so the planner sees the low-similarity
    tail), max_df=100 stop-shingle guard — same machinery as the
    headline dedup_ngram_jaccard, jaccard rounded at 4 on both
    engines."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.0, n=3, max_df=100
    )
    return pairs.select(
        "doc_id_a", "doc_id_b", F.round("jaccard", 4).alias("__j")
    ).filter(F.col("__j") >= 0.05)


#: DuckDB twin of _jaccard_pairs_04 (the dedup_ngram_jaccard oracle's
#: CTE chain at the 0.05 floor)
_JACCARD_PAIRS_04_SQL = """
    tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok,
             generate_subscripts(string_split_regex(trim(lower(text)),
                                                    '\\s+'), 1) AS i
      FROM documents),
    sh0 AS (
      SELECT doc_id,
             concat_ws(' ', tok,
                       lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i),
                       lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i))
               AS shingle,
             lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t3
      FROM tok),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE t3 IS NOT NULL),
    shf AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY count(*) OVER (PARTITION BY shingle) <= 100),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS n_common
      FROM shf a JOIN shf b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jpairs AS (
      SELECT doc_id_a, doc_id_b,
             round(CAST(n_common AS DOUBLE)
                   / (sa.sz + sb.sz - n_common), 4) AS j
      FROM inter
      JOIN sizes sa ON doc_id_a = sa.doc_id
      JOIN sizes sb ON doc_id_b = sb.doc_id
      WHERE round(CAST(n_common AS DOUBLE)
                  / (sa.sz + sb.sz - n_common), 4) >= 0.05)
"""


def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning curve: the exact Jaccard pair
    distribution bucketed at the operating thresholds (0.05-0.3-0.5-
    0.7-0.9), with the pairs-at-or-above cumulative — the table that
    decides where the near-dup cut goes before anyone pays for a
    threshold change.  Buckets cut on the ROUNDED jaccard so boundary
    pairs land identically in both engines.  Scale: same guarded
    single-pass pair generation as the headline jaccard entry."""
    pairs = _jaccard_pairs_04(spark, sf_dir)
    bucket = (
        F.when(F.col("__j") >= 0.9, F.lit("0.9+"))
        .when(F.col("__j") >= 0.7, F.lit("0.7-0.9"))
        .when(F.col("__j") >= 0.5, F.lit("0.5-0.7"))
        .when(F.col("__j") >= 0.3, F.lit("0.3-0.5"))
        .otherwise(F.lit("0.05-0.3"))
    )
    agg = pairs.groupBy(bucket.alias("jaccard_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    wc = Window.orderBy(F.desc("jaccard_bucket"))
    return agg.select(
        "jaccard_bucket",
        "n_pairs",
        F.sum("n_pairs").over(wc).cast("long").alias("n_pairs_at_or_above"),
    ).orderBy("jaccard_bucket")


def q_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH band planner grounded in the OBSERVED similarity
    distribution: for each (bands, rows) config, the S-curve catch
    probability p(s) = 1−(1−s^r)^b evaluated over the exact Jaccard
    pairs — expected candidate count, recall among true near-dups
    (s ≥ 0.7), and leakage among clear non-dups (s < 0.3).  The powers
    unroll to explicit multiplication chains (identical in both
    engines; no non-integer pow).  This turns the usual rule-of-thumb
    (b, r) choice into a measured trade-off.  Scale: one pass over the
    guarded pair frame per config (3 configs, unioned plans)."""
    pairs = cache.persist(_jaccard_pairs_04(spark, sf_dir))
    s = F.col("__j")
    s2 = s * s
    s4 = s2 * s2
    s8 = s4 * s4
    s16 = s8 * s8

    def curve(sr, b):
        t = F.lit(1.0) - sr
        t2 = t * t
        t4 = t2 * t2
        t8 = t4 * t4
        t16 = t8 * t8
        t32 = t16 * t16
        tb = {8: t8, 16: t16, 32: t32}[b]
        return F.lit(1.0) - tb

    configs = [("b32_r4", curve(s4, 32)), ("b16_r8", curve(s8, 16)),
               ("b8_r16", curve(s16, 8))]
    out = None
    for name, p in configs:
        row = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.round(F.sum(p), 2) + F.lit(0.0)).alias(
                "expected_candidates"
            ),
            (
                F.round(
                    F.sum(F.when(s >= 0.7, p).otherwise(F.lit(0.0)))
                    / F.sum(
                        F.when(s >= 0.7, F.lit(1.0)).otherwise(F.lit(0.0))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("recall_near_dups"),
            (
                F.round(
                    F.sum(F.when(s < 0.3, p).otherwise(F.lit(0.0)))
                    / F.sum(
                        F.when(s < 0.3, F.lit(1.0)).otherwise(F.lit(0.0))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("leakage_non_dups"),
        ).select(
            F.lit(name).alias("config"),
            "n_pairs",
            "expected_candidates",
            "recall_near_dups",
            "leakage_non_dups",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("config")


def q_interpurchase_gamma_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments Gamma fit of the inter-purchase gap
    distribution: k̂ = μ²/s², θ̂ = s²/μ over per-user consecutive
    purchase gaps in EXACT integer seconds (micros div 10⁶ — integer
    division, identical both engines; squares stay < 2⁵³ because gaps
    are bounded by the observed span, not data volume).  k < 1 ⇒
    bursty (clustered purchases), k ≈ 1 ⇒ memoryless.  Scale: one
    shuffle on user_id for the lag, then exact integer moments."""
    events = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    gaps = (
        p.select(
            F.floor(
                (
                    F.unix_micros("ts")
                    - F.unix_micros(F.lag("ts").over(wu))
                ).cast("double")
                / F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("__gap_s")
        )
        .filter(F.col("__gap_s").isNotNull())
    )
    gd = F.col("__gap_s").cast("decimal(19,0)")
    mom = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(gd).cast("decimal(38,0)").alias("__s"),
        F.sum(gd * gd).cast("decimal(38,0)").alias("__ss"),
    )
    n = F.col("n_gaps").cast("decimal(38,0)")
    mu = F.col("__s").cast("double") / F.col("n_gaps").cast("double")
    var = (n * F.col("__ss") - F.col("__s") * F.col("__s")).cast(
        "double"
    ) / (
        F.col("n_gaps").cast("double")
        * (F.col("n_gaps").cast("double") - F.lit(1.0))
    )
    k = mu * mu / var
    theta = var / mu
    return mom.select(
        "n_gaps",
        (F.round(mu, 2) + F.lit(0.0)).alias("mean_gap_s"),
        (F.round(k, 4) + F.lit(0.0)).alias("gamma_shape"),
        (F.round(theta, 2) + F.lit(0.0)).alias("gamma_scale_s"),
        F.when(F.round(k, 4) < 1.0, F.lit("bursty"))
        .otherwise(F.lit("regular"))
        .alias("arrival_pattern"),
    )


def q_hhi_yearly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration TREND: yearly Herfindahl-Hirschman index of
    brand revenue (Σ share²) with the year-over-year delta — the
    dynamic view of the static HHI in revenue_concentration (is the
    brand market concentrating?).  Shares divide exact integer cents;
    HHI sums ≤ |brands| squared doubles.  Scale: one lineitem⋈part
    equi-join, then a grouped reduce to the (year, brand) frame."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    by_brand = (
        lineitem.select("l_partkey", F.year("l_shipdate").alias("yr"),
                        cents.alias("__c"))
        .join(part.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("yr", "p_brand")
        .agg(F.sum("__c").cast("long").alias("__bc"))
    )
    wy = Window.partitionBy("yr")
    shares = by_brand.select(
        "yr",
        (
            F.col("__bc").cast("double")
            / F.sum("__bc").over(wy).cast("double")
        ).alias("__sh"),
    )
    hhi = shares.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum(F.col("__sh") * F.col("__sh")).alias("__hhi"),
    )
    wt = Window.orderBy("yr")
    return hhi.select(
        "yr",
        "n_brands",
        (F.round(F.col("__hhi"), 6) + F.lit(0.0)).alias("hhi"),
        (
            F.round(
                F.col("__hhi") - F.lag("__hhi").over(wt), 6
            )
            + F.lit(0.0)
        ).alias("hhi_delta"),
    ).orderBy("yr")


def q_forecast_skill_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast skill as MASE: MAE of the seasonal-naive (d−7)
    forecast scaled by MAE of the one-step naive (d−1) over the SAME
    evaluation days — the scale-free skill score that says whether
    weekly seasonality actually beats persistence (MASE < 1 ⇒ it
    does).  Absolute errors are exact integer cents; the two means
    snap through DECIMAL(18,6) (few-fixed-decimal averages) and the
    ratio divides the exact integer error sums directly.  Scale: two
    self-equi-joins on the shifted day spine."""
    daily = cache.persist(_daily_purchase_cents(spark, sf_dir))
    s7 = daily.select(
        F.date_add("day", 7).alias("day"), F.col("cents").alias("__f7")
    )
    s1 = daily.select(
        F.date_add("day", 1).alias("day"), F.col("cents").alias("__f1")
    )
    j = daily.join(s7, "day").join(s1, "day")
    ae7 = F.abs(F.col("cents") - F.col("__f7"))
    ae1 = F.abs(F.col("cents") - F.col("__f1"))
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(ae7).cast("long").alias("__e7"),
        F.sum(ae1).cast("long").alias("__e1"),
    )
    mase = F.col("__e7").cast("double") / F.col("__e1").cast("double")
    snap = lambda c: (  # noqa: E731
        F.round(
            (c.cast("double") / F.col("n_days").cast("double")).cast(
                "decimal(18,6)"
            ),
            2,
        )
        .cast("double")
    )
    return agg.select(
        "n_days",
        snap(F.col("__e7")).alias("mae_seasonal_cents"),
        snap(F.col("__e1")).alias("mae_naive_cents"),
        (F.round(mase, 4) + F.lit(0.0)).alias("mase"),
        F.when(F.round(mase, 4) < 1.0, F.lit("seasonal_skillful"))
        .otherwise(F.lit("persistence_wins"))
        .alias("verdict"),
    )


def q_recsys_ndcg_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 for the popularity baseline on the leave-last-order-out
    split — the GRADED ranking metric next to recsys_eval_popularity's
    hit-rate (a hit at rank 1 should beat a hit at rank 19).  Per
    customer DCG sums 1/log2(1+rank) over holdout items found in the
    ranked top-20; IDCG normalizes by the ideal min(|holdout|, 20)
    prefix; customers with zero hits stay in the mean.  Deterministic
    popularity ranking (count DESC, partkey ASC); logs are unary over
    exact integer ranks.  Scale: same bounded top-k + user-frame joins
    as the hit-rate entry."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    wc = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(wc).alias("__r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("__n"),
    ).filter(F.col("__n") >= 2)
    holdout = ranked.filter(F.col("__r") == 1).select(
        "o_custkey", "o_orderkey"
    )
    train = ranked.filter(F.col("__r") > 1).select("o_orderkey")
    pairs = li.select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
    ).distinct()
    wt = Window.orderBy(F.desc("__c"), F.asc("l_partkey"))
    top20 = (
        train.join(pairs, "o_orderkey")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("l_partkey"))
        .limit(20)
        .select(
            "l_partkey", F.row_number().over(wt).cast("int").alias("__rank")
        )
    )
    test_items = cache.persist(
        holdout.join(pairs, "o_orderkey")
        .select("o_custkey", "l_partkey")
    )
    gain = F.lit(1.0) / (
        F.log(F.col("__rank").cast("double") + F.lit(1.0))
        / F.log(F.lit(2.0))
    )
    dcg = (
        test_items.join(F.broadcast(top20), "l_partkey")
        .groupBy("o_custkey")
        .agg(F.sum(gain).alias("__dcg"))
    )
    igain = F.lit(1.0) / (
        F.log(F.col("__i").cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))
    )
    wh = Window.partitionBy("o_custkey").orderBy("l_partkey")
    idcg = (
        test_items.select(
            "o_custkey", F.row_number().over(wh).cast("long").alias("__i")
        )
        .filter(F.col("__i") <= 20)
        .groupBy("o_custkey")
        .agg(F.sum(igain).alias("__idcg"))
    )
    per_user = idcg.join(dcg, "o_custkey", "left").select(
        (
            F.coalesce("__dcg", F.lit(0.0)) / F.col("__idcg")
        ).alias("__ndcg")
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.round(F.avg("__ndcg"), 6) + F.lit(0.0)).alias("mean_ndcg_20"),
        F.sum(F.when(F.col("__ndcg") > 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_with_hits"),
    )


def q_markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Next-event prediction eval: train a first-order Markov argmax
    predictor on first-half transitions (count DESC, type ASC
    tiebreak), score top-1 accuracy on second-half transitions — the
    sequence-model baseline every session-LSTM/transformer must beat,
    with the same train/eval discipline as the recsys entries.
    Transitions build within each half (no cross-boundary pair).
    Exact integer counts; accuracy divides once.  Scale: one shuffle
    per half on user_id, then vocabulary-sized frames."""
    events = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def transitions(half):
        return (
            half.select(
                "user_id",
                F.col("event_type").alias("__prev"),
                F.lead("event_type").over(wu).alias("__next"),
            )
            .filter(F.col("__next").isNotNull())
            .select("__prev", "__next")
        )

    train = transitions(events.filter(F.dayofmonth("ts") <= 15))
    evalh = transitions(events.filter(F.dayofmonth("ts") > 15))
    wp = Window.partitionBy("__prev").orderBy(
        F.desc("__cnt"), F.asc("__next")
    )
    model = (
        train.groupBy("__prev", "__next")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        .select(
            "__prev",
            "__next",
            F.row_number().over(wp).cast("int").alias("__r"),
        )
        .filter(F.col("__r") == 1)
        .select("__prev", F.col("__next").alias("predicted_next"))
    )
    scored = evalh.join(F.broadcast(model), "__prev", "left")
    return (
        scored.groupBy(F.col("__prev").alias("prev_event"))
        .agg(
            F.max("predicted_next").alias("predicted_next"),
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum(
                F.when(
                    F.col("__next") == F.col("predicted_next"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "prev_event",
            "predicted_next",
            "n_transitions",
            "n_correct",
            (
                F.round(
                    F.col("n_correct").cast("double")
                    / F.col("n_transitions").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("top1_accuracy"),
        )
        .orderBy("prev_event")
    )


def q_dp_laplace_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy utility planner: for per-type event counts
    (sensitivity 1) at ε ∈ {0.1, 1.0}, the Laplace scale b = 1/ε, the
    expected absolute noise (= b), the 95th-percentile noise bound
    b·ln(1/0.05), and the relative error b/count — the table that says
    which published counts survive which privacy budget (the planning
    complement to the k-anonymity gate).  Counts are exact; every
    derived column is a literal-over-exact-integer expression.  Scale:
    one grouped count + a 2-row broadcast."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    eps = spark.createDataFrame(
        [("0.1",), ("1.0",)], "eps_str string"
    ).select(F.col("eps_str").cast("double").alias("epsilon"))
    b = F.lit(1.0) / F.col("epsilon")
    return (
        counts.crossJoin(F.broadcast(eps))
        .select(
            "event_type",
            "epsilon",
            "true_count",
            (F.round(b, 2) + F.lit(0.0)).alias("laplace_scale"),
            (
                F.round(b * F.log(F.lit(1.0) / F.lit(0.05)), 4)
                + F.lit(0.0)
            ).alias("noise_p95"),
            (
                F.round(b / F.col("true_count").cast("double"), 6)
                + F.lit(0.0)
            ).alias("relative_error"),
        )
        .orderBy("event_type", "epsilon")
    )


def q_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time + median survival from the KM
    curve: RMST(τ) = Σ S(tᵢ)·(t_{i+1}−tᵢ) over the step function up to
    the last observed event time, and the first time S ≤ 0.5 — the two
    scalar summaries regulators ask for when hazards aren't
    proportional.  Both reduce the already-deterministic KM table
    (survival rounded at 6 identically in both engines) with exact
    integer day-widths.  Scale: arithmetic over the ≤31-row KM
    frame."""
    km = cache.persist(q_purchase_survival_km(spark, sf_dir))
    wt = Window.orderBy("t")
    steps = km.select(
        "t",
        "survival",
        (F.lead("t").over(wt) - F.col("t")).cast("long").alias("__w"),
    )
    rmst = steps.agg(
        F.sum(
            F.col("survival") * F.col("__w").cast("double")
        ).alias("__rmst"),
        F.max("t").cast("long").alias("horizon_days"),
    )
    med = (
        km.filter(F.col("survival") <= 0.5)
        .orderBy("t")
        .limit(1)
        .select(F.col("t").cast("long").alias("median_survival_days"))
    )
    return rmst.crossJoin(F.broadcast(med)).select(
        "horizon_days",
        "median_survival_days",
        (F.round(F.col("__rmst"), 4) + F.lit(0.0)).alias(
            "rmst_days"
        ),
    )


def q_stump_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature selection: information gain of three
    binary user features (has_view, has_click, has_signup) against the
    purchase label — IG = H(y) − Σ p(side)·H(y|side) from EXACT
    integer counts, the split-quality primitive under every tree
    ensemble.  Entropies use ln over exact integer ratios and divide
    by ln 2 once.  Scale: one grouped pass to the user frame, then an
    8-row lattice per feature."""
    events = _t(spark, sf_dir, "events")

    def has(t):
        return F.max(
            F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
        )

    users = cache.persist(
        events.groupBy("user_id")
        .agg(
            has("view").alias("__fv"),
            has("click").alias("__fc"),
            has("signup").alias("__fs"),
            has("purchase").alias("__y"),
        )
    )

    def h_bits(pos, n):
        p = pos.cast("double") / n.cast("double")
        q = F.lit(1.0) - p
        term = lambda x: F.when(  # noqa: E731
            (x > 0) & (x < 1), -x * F.log(x)
        ).otherwise(F.lit(0.0))
        return (term(p) + term(q)) / F.log(F.lit(2.0))

    out = None
    for col, name in (("__fv", "has_view"), ("__fc", "has_click"),
                      ("__fs", "has_signup")):
        sides = users.groupBy(F.col(col).alias("__side")).agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__y").cast("long").alias("__pos"),
        )
        tot = sides.agg(
            F.sum("__n").cast("long").alias("__tn"),
            F.sum("__pos").cast("long").alias("__tpos"),
        )
        cond = (
            sides.crossJoin(F.broadcast(tot))
            .agg(
                F.max("__tn").alias("__tn"),
                F.max("__tpos").alias("__tpos"),
                F.sum(
                    F.col("__n").cast("double")
                    / F.col("__tn").cast("double")
                    * h_bits(F.col("__pos"), F.col("__n"))
                ).alias("__hcond"),
            )
        )
        ig = h_bits(F.col("__tpos"), F.col("__tn")) - F.col("__hcond")
        row = cond.select(
            F.lit(name).alias("feature"),
            (F.round(h_bits(F.col("__tpos"), F.col("__tn")), 6)
             + F.lit(0.0)).alias("label_entropy_bits"),
            (F.round(ig, 6) + F.lit(0.0)).alias("information_gain_bits"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("feature")


def q_priority_return_odds_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2x2 odds ratio with the Woolf confidence interval: do
    high-priority orders change the odds of a returned line?
    OR = (a.d)/(b.c) from exact cell counts, ln OR +/- 1.96.sqrt(Sum 1/n)
    -- the epidemiology-standard effect report next to the chi-square
    tests.  (The user-level signup x purchase pair saturates in the
    synthetic events -- every user has both -- so the fact-side pair
    carries the operator.)  Scale: one equi-join + a 4-cell
    aggregate."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    flags = (
        lineitem.select("l_orderkey", "l_returnflag")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("__hp"),
            F.when(F.col("l_returnflag") == "R", F.lit(1))
            .otherwise(F.lit(0))
            .alias("__ret"),
        )
    )
    cells = flags.agg(
        F.sum(
            F.when((F.col("__hp") == 1) & (F.col("__ret") == 1), F.lit(1))
            .otherwise(F.lit(0))
        ).cast("long").alias("a_hp_ret"),
        F.sum(
            F.when((F.col("__hp") == 1) & (F.col("__ret") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).cast("long").alias("b_hp"),
        F.sum(
            F.when((F.col("__hp") == 0) & (F.col("__ret") == 1), F.lit(1))
            .otherwise(F.lit(0))
        ).cast("long").alias("c_ret"),
        F.sum(
            F.when((F.col("__hp") == 0) & (F.col("__ret") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).cast("long").alias("d_none"),
    )
    a, b = F.col("a_hp_ret").cast("double"), F.col("b_hp").cast("double")
    c, dd = F.col("c_ret").cast("double"), F.col("d_none").cast("double")
    orr = (a * dd) / (b * c)
    se = F.sqrt(
        F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / dd
    )
    return cells.select(
        "a_hp_ret",
        "b_hp",
        "c_ret",
        "d_none",
        (F.round(orr, 4) + F.lit(0.0)).alias("odds_ratio"),
        (F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 4) + F.lit(0.0))
        .alias("ci_low"),
        (F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 4) + F.lit(0.0))
        .alias("ci_high"),
        F.when(
            (F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 4) > 1.0)
            | (F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 4) < 1.0),
            F.lit("significant"),
        )
        .otherwise(F.lit("not_significant"))
        .alias("verdict_5pct"),
    )


def q_quasi_id_uniqueness_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Re-identification risk ladder: the share of customers UNIQUE on
    each successively finer quasi-identifier (nation → +balance
    bucket → +market segment) — the uniqueness curve behind the
    k-anonymity gate (it shows WHICH attribute blows the anonymity
    budget).  Exact integer counts throughout.  Scale: three grouped
    counts of the dim."""
    customer = _t(spark, sf_dir, "customer")
    base = cache.persist(
        customer.select(
            "c_custkey",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("__bal"),
            "c_mktsegment",
        )
    )
    levels = [
        ("nation", ["c_nationkey"]),
        ("nation+bal_bucket", ["c_nationkey", "__bal"]),
        ("nation+bal_bucket+segment",
         ["c_nationkey", "__bal", "c_mktsegment"]),
    ]
    out = None
    for name, keys in levels:
        grp = base.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("__sz")
        )
        row = grp.agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(
                F.when(F.col("__sz") == 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_unique"),
            F.sum("__sz").cast("long").alias("__n"),
            F.min("__sz").cast("long").alias("min_class_size"),
        ).select(
            F.lit(name).alias("quasi_id"),
            "n_classes",
            "n_unique",
            "min_class_size",
            (
                F.round(
                    F.col("n_unique").cast("double")
                    / F.col("__n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("unique_share"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("quasi_id")


def q_kfold_balance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation split diagnostics: deterministic 5-fold
    assignment (custkey mod 5) with per-fold size, mean order value,
    and the fold-mean coefficient of variation — the pre-training gate
    that catches a skewed split before it poisons every CV score.
    Means divide exact integer cents; the between-fold CV reduces the
    5-row fold frame.  Scale: one grouped pass over orders."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    folds = cache.persist(
        orders.groupBy(
            F.pmod(F.col("o_custkey"), F.lit(5)).cast("int").alias("fold")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("__s"),
        )
    )
    mean = F.col("__s").cast("double") / F.col("n_orders").cast("double") / F.lit(100.0)
    spread = folds.select(mean.alias("__m")).agg(
        F.avg("__m").alias("__mm"),
        F.stddev_samp("__m").alias("__sd"),
    )
    cv = F.col("__sd") / F.col("__mm")
    scalar = spread.select(
        (F.round(cv, 6) + F.lit(0.0)).alias("fold_mean_cv"),
        F.when(F.round(cv, 6) < 0.05, F.lit("balanced"))
        .otherwise(F.lit("skewed"))
        .alias("verdict"),
    )
    return (
        folds.crossJoin(F.broadcast(scalar))
        .select(
            "fold",
            "n_orders",
            (F.round(mean, 2) + F.lit(0.0)).alias("mean_order_value"),
            "fold_mean_cv",
            "verdict",
        )
        .orderBy("fold")
    )


def q_bloom_fpp_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing table for the contamination path: with the
    OBSERVED distinct 3-gram count n, the expected false-positive rate
    (1 − e^{−kn/m})^k and total megabytes for the standard
    (bits-per-key, optimal-k) ladder {8→k5, 12→k8, 16→k11} — the
    capacity plan behind `contamination` at 100 TB (the exact set is
    the small side; the Bloom swap is the big-side story, and this is
    its cost/accuracy curve).  Powers unroll to explicit multiply
    chains over the identical exp expression.  Scale: one distinct
    count, then a 3-row literal frame."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.filter(
        F.col("text").isNotNull() & (F.size(toks) >= 3)
    ).select("doc_id", toks.alias("__t"))
    ex = base.select("doc_id", F.posexplode("__t").alias("__i", "__w"))
    wd = Window.partitionBy("doc_id").orderBy("__i")
    sh = ex.select(
        F.concat_ws(
            " ",
            F.col("__w"),
            F.lead("__w", 1).over(wd),
            F.lead("__w", 2).over(wd),
        ).alias("__sh"),
        F.lead("__w", 2).over(wd).alias("__l"),
    ).filter(F.col("__l").isNotNull())
    n = sh.agg(F.countDistinct("__sh").cast("long").alias("n_distinct"))
    configs = spark.createDataFrame(
        [(8, 5), (12, 8), (16, 11)], "bits_per_key int, k_hashes int"
    )
    m_over_n = F.col("bits_per_key").cast("double")
    kk = F.col("k_hashes").cast("double")
    base_p = F.lit(1.0) - F.exp(-kk / m_over_n)

    def powi(x):
        # x^k by explicit squaring chain for k in {5, 8, 11}
        x2 = x * x
        x4 = x2 * x2
        x8 = x4 * x4
        return (
            F.when(F.col("k_hashes") == 5, x4 * x)
            .when(F.col("k_hashes") == 8, x8)
            .otherwise(x8 * x2 * x)
        )

    fpp = powi(base_p)
    return (
        n.crossJoin(F.broadcast(configs))
        .select(
            "n_distinct",
            "bits_per_key",
            "k_hashes",
            (F.round(fpp, 8) + F.lit(0.0)).alias("expected_fpp"),
            (
                F.round(
                    F.col("n_distinct").cast("double")
                    * m_over_n
                    / F.lit(8.0)
                    / F.lit(1048576.0),
                    4,
                )
                + F.lit(0.0)
            ).alias("filter_mb"),
        )
        .orderBy("bits_per_key")
    )


def q_topk_stability_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-stability drift check: Jaccard overlap of the top-20
    revenue parts between the 1995-1997 and 1998+ halves — the cheap
    canary that says whether a 'top sellers' surface is stable enough
    to cache (and the set-overlap twin of the PSI/JSD value-drift
    entries).  Deterministic top-k (cents DESC, partkey ASC) on both
    halves; counts are exact.  Scale: two grouped top-k reductions."""
    lineitem = _t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")

    def topk(pred):
        return (
            lineitem.filter(pred)
            .groupBy("l_partkey")
            .agg(F.sum(cents).cast("long").alias("__c"))
            .orderBy(F.desc("__c"), F.asc("l_partkey"))
            .limit(20)
            .select("l_partkey")
        )

    h1 = topk(F.year("l_shipdate") <= 1997)
    h2 = topk(F.year("l_shipdate") >= 1998)
    common = h1.join(h2, "l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    jac = F.col("n_common").cast("double") / (
        F.lit(40.0) - F.col("n_common").cast("double")
    )
    return common.select(
        F.lit(20).cast("int").alias("k"),
        "n_common",
        (F.round(jac, 6) + F.lit(0.0)).alias("topk_jaccard"),
        F.when(F.round(jac, 6) >= 0.5, F.lit("stable"))
        .otherwise(F.lit("churning"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_daily_plays_trend(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry of every implemented query, keyed by stable name.

    Dict ORDER is deliberate: the driver's correctness gate samples the
    first 50 entries in dict order.  Rounds 1-3 each verified their own
    front-loaded 50 (r3 = ``_WINDOW_R3``, r4 = ``_WINDOW_R4`` — both in
    git history, both 50/50 driver-green).  Rows-only approximates (no
    oracle by design — see CLAUDE.md) stay at the very end so every
    in-window slot is a full hash-checked comparison.
    ``_WINDOW_R14`` below executes the round-13 VERDICT's item 1
    (override of the plain staleness walk): slots 1-19 are the
    oracle-backed query paths REWRITTEN in the r13/r14 optimization
    rounds whose post-rewrite outputs the driver oracle has not yet
    (re-)checked — the 16 r13 rewrites (doc_novelty .. brand_part_ppr,
    plus truncated_dim_recall for continuity) and the 3 r14-touched
    entries (dedup_winnow, dedup_winnow_incremental,
    jaccard_threshold_sweep) — and slots 20-50 continue the staleness
    rotation exactly as round 13's plan prescribed: the remaining 30
    round-7-tier entries (``fact_engagement_build`` onward, staleness
    order) plus the first 1 of the round-8 tier (``pricing_summary``).
    Recomputed from all thirteen CORRECTNESS artifacts against the live
    registry: after round 13 the recency histogram over the 330
    oracle-backed entries is {round 7: 30, rounds 8-13: 50 each}.
    ``_WINDOW_R3``..``_WINDOW_R13`` are in git history, each 50/50
    driver-green in its round.
    ROTATION PLAN for round 15: the remaining 49 round-8-tier entries
    (staleness order) plus 1 of the round-9 tier, skipping rows-only —
    keep cycling so every oracle-backed entry re-earns a driver green
    row every ~2-3 rounds.
    """
    core = {
        # --- round-2 additions + round-1 driver-UNVERIFIED tier (window) ---
        "gold_fact_decimal": q_gold_fact_decimal,
        "priority_value_spread": q_priority_value_spread,
        "regional_revenue": q_regional_revenue,
        "orders_above_customer_avg": q_orders_above_customer_avg,
        "user_event_type_sets": q_user_event_type_sets,
        "top_event_type_per_user": q_top_event_type_per_user,
        "balance_segment_report": q_balance_segment_report,
        "customers_no_final_orders": q_customers_no_final_orders,
        "order_value_percent_rank": q_order_value_percent_rank,
        "doc_split_assignment": q_doc_split_assignment,
        "user_first_last_event": q_user_first_last_event,
        "embedding_quantize": q_embedding_quantize,
        "vocab_coverage": q_vocab_coverage,
        "rolling_7day_range_revenue": q_rolling_7day_range_revenue,
        "daily_value_locf": q_daily_value_locf,
        "orders_rerun_diff": q_orders_rerun_diff,
        "benford_first_digit": q_benford_first_digit,
        "rfm_segments": q_rfm_segments,
        "top_entry_paths": q_top_entry_paths,
        "weekday_profile": q_weekday_profile,
        "event_expectations": q_event_expectations,
        "event_transitions": q_event_transitions,
        "fuzzy_part_names": q_fuzzy_part_names,
        "revenue_share_by_brand": q_revenue_share_by_brand,
        "daily_anomaly_zscore": q_daily_anomaly_zscore,
        "cumulative_unique_users": q_cumulative_unique_users,
        "scd2_customer_batch": q_scd2_customer_batch,
        "multimodal_metadata": q_multimodal_metadata,
        "frame_grid": q_frame_grid,
        "streaming_daily_engagement": q_streaming_daily_engagement,
    }
    core.update(dedup.queries())
    core.update(text.queries())
    core.update(similarity.queries())
    core.update(cleaning.queries())
    core.update(corpus.queries())
    core.update(graph.queries())
    core.update(langid.queries())
    # --- round-1 driver-VERIFIED tier (green rows in CORRECTNESS_r01) ---
    core.update({
        "daily_plays_trend": q_daily_plays_trend,
        "fact_engagement_build": q_fact_engagement_build,
        "engagement_kpis": q_engagement_kpis,
        "tumbling_hourly": q_tumbling_hourly,
        "rollup_type_daily": q_rollup_type_daily,
        "cube_type_daily": q_cube_type_daily,
        "json_props_extract": q_json_props_extract,
        "dim_media_conform": q_dim_media_conform,
        "dim_visitor_conform": q_dim_visitor_conform,
        "pk_repair": q_pk_repair,
        "null_empty_audit": q_null_empty_audit,
        "keep_first_dedup": q_keep_first_dedup,
        "duplicate_audit": q_duplicate_audit,
        "uniqueness_report": q_uniqueness_report,
        "plays_by_channel": q_plays_by_channel,
        "customers_without_orders": q_customers_without_orders,
        "order_priority_counts": q_order_priority_counts,
        "top10_media": q_top10_media,
        "rank_in_channel": q_rank_in_channel,
        "trailing_7day_plays": q_trailing_7day_plays,
        "new_vs_returning": q_new_vs_returning,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "forecast_revenue_change": q_forecast_revenue_change,
        "returned_item_report": q_returned_item_report,
        "asof_prev_order": q_asof_prev_order,
        "session_stats": q_session_stats,
        "dense_daily_purchases": q_dense_daily_purchases,
        "funnel_view_click_purchase": q_funnel_view_click_purchase,
        "pivot_type_daily": q_pivot_type_daily,
        "unpivot_type_daily": q_unpivot_type_daily,
        "viewers_vs_purchasers": q_viewers_vs_purchasers,
        "value_percentiles": q_value_percentiles,
        "stats_report": q_stats_report,
        "value_distribution": q_value_distribution,
        "approx_distinct_users": q_approx_distinct_users,
        "embedding_centroids": q_embedding_centroids,
        "daily_plays_vs_purchases": q_daily_plays_vs_purchases,
        "grouping_sets_report": q_grouping_sets_report,
        "heavy_hitter_users": q_heavy_hitter_users,
        "union_schema_drift": q_union_schema_drift,
        "cohort_retention": q_cohort_retention,
        "mom_revenue_growth": q_mom_revenue_growth,
        "latest_order_per_customer": q_latest_order_per_customer,
        "order_value_histogram": q_order_value_histogram,
        "above_avg_spenders": q_above_avg_spenders,
        "part_cooccurrence": q_part_cooccurrence,
        "nations_per_region": q_nations_per_region,
        "view_purchase_conversion": q_view_purchase_conversion,
        # mid-round-2 additions, past the window (round-3 rotation front-
        # loads them with the other unverified entries)
        "key_skew_report": q_key_skew_report,
        "purchase_view_coincidence": q_purchase_view_coincidence,
        "daily_value_interp": q_daily_value_interp,
        "cdc_orders_snapshot": q_cdc_orders_snapshot,
        "rolling_7day_median_revenue": q_rolling_7day_median_revenue,
        "orders_table_profile": q_orders_table_profile,
        "quality_budget_select": q_quality_budget_select,
        "weekday_adjusted_anomaly": q_weekday_adjusted_anomaly,
        "weekly_active_users": q_weekly_active_users,
        "weekly_active_users_hll": q_weekly_active_users_hll,
        "value_quantiles_kll": q_value_quantiles_kll,
        "segment_overlap_theta": q_segment_overlap_theta,
        "decayed_engagement": q_decayed_engagement,
        "session_type_cooccurrence": q_session_type_cooccurrence,
        "event_lateness_report": q_event_lateness_report,
        "time_to_purchase": q_time_to_purchase,
        "nation_market_share": q_nation_market_share,
        "dormant_high_balance": q_dormant_high_balance,
        "promo_revenue_share": q_promo_revenue_share,
        "disjunctive_branch_revenue": q_disjunctive_branch_revenue,
        "top_supplier_per_quarter": q_top_supplier_per_quarter,
        "large_volume_orders": q_large_volume_orders,
        "nation_pair_trade": q_nation_pair_trade,
        "order_count_distribution": q_order_count_distribution,
        "late_shipment_rate": q_late_shipment_rate,
        # round-3 additions (rotate into the window in round 4)
        "streaming_sessions": q_streaming_sessions,
        "nation_year_profit": q_nation_year_profit,
        "small_quantity_revenue": q_small_quantity_revenue,
        "sole_late_supplier": q_sole_late_supplier,
        "event_pattern_match": q_event_pattern_match,
        "cusum_changepoint": q_cusum_changepoint,
        "daily_trend_regression": q_daily_trend_regression,
        "null_safe_join": q_null_safe_join,
        "trimmed_mean_order_value": q_trimmed_mean_order_value,
        "yearly_customer_setops": q_yearly_customer_setops,
        "variant_props_extract": q_variant_props_extract,
        "lateral_top_customers": q_lateral_top_customers,
        "event_id_gaps": q_event_id_gaps,
        "safe_arithmetic_report": q_safe_arithmetic_report,
        "abc_customer_classes": q_abc_customer_classes,
        "mad_outlier_days": q_mad_outlier_days,
        "nation_share_of_region": q_nation_share_of_region,
        "value_psi_report": q_value_psi_report,
        "rolling_view_purchase_corr": q_rolling_view_purchase_corr,
        "revenue_concentration": q_revenue_concentration,
        "min_cost_supplier": q_min_cost_supplier,
        "important_part_stock": q_important_part_stock,
        "ship_latency_priority": q_ship_latency_priority,
        "supplier_count_by_part": q_supplier_count_by_part,
        "excess_shipped_suppliers": q_excess_shipped_suppliers,
        "clamped_quarterly_balance": q_clamped_quarterly_balance,
        "priority_status_listagg": q_priority_status_listagg,
        "daily_unique_users_bitmap": q_daily_unique_users_bitmap,
        "value_percentile_disc": q_value_percentile_disc,
        "incremental_kpi_refresh": q_incremental_kpi_refresh,
        "ewma_daily_revenue": q_ewma_daily_revenue,
        "higher_moments_report": q_higher_moments_report,
        "centroid_drift": q_centroid_drift,
        "activity_streaks": q_activity_streaks,
        "user_event_histogram_map": q_user_event_histogram_map,
        "user_behavior_entropy": q_user_behavior_entropy,
        "bpe_merges": q_bpe_merges,
        "measure_corr_matrix": q_measure_corr_matrix,
        "scd2_point_in_time": q_scd2_point_in_time,
        "touch_attribution": q_touch_attribution,
        "winsorized_order_stats": q_winsorized_order_stats,
        "token_pmi": q_token_pmi,
        "top_nations_with_other": q_top_nations_with_other,
        "purchase_survival_km": q_purchase_survival_km,
        "ab_test_report": q_ab_test_report,
        "mann_whitney_order_values": q_mann_whitney_order_values,
        "chi_square_type_weekday": q_chi_square_type_weekday,
        "daily_revenue_decomposition": q_daily_revenue_decomposition,
        "incremental_join_view": q_incremental_join_view,
        "k_anonymity_customers": q_k_anonymity_customers,
        "label_effective_rank": q_label_effective_rank,
        "embedding_mahalanobis": q_embedding_mahalanobis,
        "streaming_sliding_traffic": q_streaming_sliding_traffic,
        "ship_business_days": q_ship_business_days,
        "daily_revenue_acf": q_daily_revenue_acf,
        "seasonal_naive_backtest": q_seasonal_naive_backtest,
        "event_association_rules": q_event_association_rules,
        "holt_revenue_trend": q_holt_revenue_trend,
        "ar2_revenue_forecast": q_ar2_revenue_forecast,
        "region_balance_boxplot": q_region_balance_boxplot,
        "pca_explained_variance": q_pca_explained_variance,
        "event_markov_stationary": q_event_markov_stationary,
        "quality_classifier_train": q_quality_classifier_train,
        # round-5 additions
        "streaming_view_purchase_join": q_streaming_view_purchase_join,
        "ks_test_order_values": q_ks_test_order_values,
        # round-6 additions (front-load _WINDOW_R7 per the docstring)
        "theilsen_revenue_trend": q_theilsen_revenue_trend,
        "spearman_price_qty": q_spearman_price_qty,
        "kendall_tau_daily": q_kendall_tau_daily,
        "sequential_pattern_support": q_sequential_pattern_support,
        "unigram_tokenizer_train": unigram.q_unigram_tokenizer_train,
        "als_part_recommender": als.q_als_part_recommender,
        "haar_revenue_wavelet": q_haar_revenue_wavelet,
        "revenue_periodogram": q_revenue_periodogram,
        "isotonic_late_by_price": q_isotonic_late_by_price,
        "brand_price_elasticity": q_brand_price_elasticity,
        "embedding_whiten_check": q_embedding_whiten_check,
        "conformal_revenue_interval": q_conformal_revenue_interval,
        "peak_concurrency_daily": q_peak_concurrency_daily,
        "circadian_profile": q_circadian_profile,
        "cuped_adjusted_ab": q_cuped_adjusted_ab,
        # round-7 additions (front-load _WINDOW_R8 per the docstring)
        "binseg_changepoints": q_binseg_changepoints,
        "hurst_rs_daily": q_hurst_rs_daily,
        "sentence_length_stats": q_sentence_length_stats,
        "kneser_ney_bigram": ngram_lm.q_kneser_ney_bigram,
        "rake_keyphrases": keyphrase.q_rake_keyphrases,
        "copurchase_link_prediction": q_copurchase_link_prediction,
        "growth_accounting_weekly": q_growth_accounting_weekly,
        "ab_power_analysis": q_ab_power_analysis,
        "cochran_armitage_trend": q_cochran_armitage_trend,
        "source_log_odds_words": q_source_log_odds_words,
        "streaming_dedup_report": q_streaming_dedup_report,
        "revenue_anova_factors": q_revenue_anova_factors,
        "categorical_mi_matrix": q_categorical_mi_matrix,
        "lexical_diversity_report": q_lexical_diversity_report,
        "streaming_static_enrich": q_streaming_static_enrich,
        "inequality_indices": q_inequality_indices,
        "views_purchases_ccf": q_views_purchases_ccf,
        "newsvendor_stock_levels": q_newsvendor_stock_levels,
        "user_interarrival_stats": q_user_interarrival_stats,
        "residual_diagnostics": q_residual_diagnostics,
        "als_ann_recommender": als.q_als_ann_recommender,
        "embedding_fd_sketch": linalg.q_embedding_fd_sketch,
        "mann_kendall_trend": q_mann_kendall_trend,
        "srm_check": q_srm_check,
        "sprt_conversion_test": q_sprt_conversion_test,
        "bootstrap_ci_daily_revenue": q_bootstrap_ci_daily_revenue,
        "recsys_eval_popularity": q_recsys_eval_popularity,
        # round-8 additions (front-load _WINDOW_R9 per the docstring)
        "logrank_purchase_segments": q_logrank_purchase_segments,
        "nelson_aalen_hazard": q_nelson_aalen_hazard,
        "wilcoxon_halfyear_revenue": q_wilcoxon_halfyear_revenue,
        "bh_fdr_event_shares": q_bh_fdr_event_shares,
        "theil_u2_seasonal_naive": q_theil_u2_seasonal_naive,
        "spectral_entropy_revenue": q_spectral_entropy_revenue,
        "seasonal_strength_weekly": q_seasonal_strength_weekly,
        "value_drift_jsd": q_value_drift_jsd,
        "kn_bigram_perplexity": q_kn_bigram_perplexity,
        "curriculum_deciles": q_curriculum_deciles,
        "tokenizer_fertility_by_source": q_tokenizer_fertility_by_source,
        "timed_funnel_conversion": q_timed_funnel_conversion,
        "retention_decay_fit": q_retention_decay_fit,
        "item_item_cosine": q_item_item_cosine,
        "kpss_stationarity": q_kpss_stationarity,
        "dickey_fuller": q_dickey_fuller,
        "vocab_chao1_by_source": q_vocab_chao1_by_source,
        "good_turing_counts": q_good_turing_counts,
        "streaming_abandoned_purchases": q_streaming_abandoned_purchases,
        "diff_in_diff_purchases": q_diff_in_diff_purchases,
        "perplexity_filter_buckets": q_perplexity_filter_buckets,
        "centroid_label_confusion": q_centroid_label_confusion,
        "mde_for_current_traffic": q_mde_for_current_traffic,
        "breusch_pagan_daily": q_breusch_pagan_daily,
        "partial_corr_funnel": q_partial_corr_funnel,
        "var_cvar_daily": q_var_cvar_daily,
        "theil_decomposition_nations": q_theil_decomposition_nations,
        "dedup_cross_source_report": q_dedup_cross_source_report,
        "ngram_coverage_eval_train": q_ngram_coverage_eval_train,
        "embedding_norm_outliers": q_embedding_norm_outliers,
        "dup_cluster_size_hist": q_dup_cluster_size_hist,
        # round-9 additions (front-load _WINDOW_R10 per the docstring)
        "streaming_timeout_sessions": q_streaming_timeout_sessions,
        "jarque_bera_daily": q_jarque_bera_daily,
        "durbin_watson_daily": q_durbin_watson_daily,
        "runs_test_daily": q_runs_test_daily,
        "ljung_box_daily": q_ljung_box_daily,
        "grubbs_outlier_daily": q_grubbs_outlier_daily,
        "kruskal_wallis_regions": q_kruskal_wallis_regions,
        "brown_forsythe_weekday": q_brown_forsythe_weekday,
        "overdispersion_daily_events": q_overdispersion_daily_events,
        "turning_points_test": q_turning_points_test,
        "dau_mau_stickiness": q_dau_mau_stickiness,
        "cohort_ltv_curve": q_cohort_ltv_curve,
        "rfm_migration_matrix": q_rfm_migration_matrix,
        "bigram_entropy_rate": q_bigram_entropy_rate,
        "unigram_sampling_075": q_unigram_sampling_075,
        "embedding_isotropy_probe": q_embedding_isotropy_probe,
        "streaming_running_totals_complete":
            q_streaming_running_totals_complete,
        "streaming_two_source_union": q_streaming_two_source_union,
        "pacf_daily_revenue": q_pacf_daily_revenue,
        "cramers_v_pairs": q_cramers_v_pairs,
        "kendall_w_concordance": q_kendall_w_concordance,
        "quantile_treatment_effect": q_quantile_treatment_effect,
        "lift_table_purchase_propensity": q_lift_table_purchase_propensity,
        "er_blocking_report": q_er_blocking_report,
        "doc_outlier_lengths": q_doc_outlier_lengths,
        "embedding_dim_variance_screen": q_embedding_dim_variance_screen,
        "shingle_df_stopword_report": q_shingle_df_stopword_report,
        "sessionized_bounce_rate": q_sessionized_bounce_rate,
        "mmd_drift_embeddings": q_mmd_drift_embeddings,
        "hill_tail_index": q_hill_tail_index,
        "capture_recapture_users": q_capture_recapture_users,
        "shapley_channel_attribution": q_shapley_channel_attribution,
        "weibull_survival_fit": q_weibull_survival_fit,
        "lorenz_curve_deciles": q_lorenz_curve_deciles,
        "granger_views_purchases": q_granger_views_purchases,
        "jaccard_threshold_sweep": q_jaccard_threshold_sweep,
        "lsh_band_planner": q_lsh_band_planner,
        "interpurchase_gamma_fit": q_interpurchase_gamma_fit,
        "hhi_yearly_trend": q_hhi_yearly_trend,
        "forecast_skill_mase": q_forecast_skill_mase,
        "recsys_ndcg_popularity": q_recsys_ndcg_popularity,
        "markov_next_event_accuracy": q_markov_next_event_accuracy,
        "dp_laplace_utility": q_dp_laplace_utility,
        "survival_rmst": q_survival_rmst,
        "stump_information_gain": q_stump_information_gain,
        "priority_return_odds_ratio": q_priority_return_odds_ratio,
        "quasi_id_uniqueness_ladder": q_quasi_id_uniqueness_ladder,
        "kfold_balance_check": q_kfold_balance_check,
        "bloom_fpp_planner": q_bloom_fpp_planner,
        "topk_stability_halves": q_topk_stability_halves,
    })
    # --- round-14 rotation: reorder so the driver's 50-entry window ---
    ordered = {name: core[name] for name in _WINDOW_R14}
    ordered.update((n, f) for n, f in core.items() if n not in ordered)
    # rows-only approximates (no oracle by design) go last: a window
    # slot spent on them yields only a weak rows-only driver check
    for _rows_only in ("dedup_minhash_lsh", "dedup_simhash", "ann_lsh",
                       "ann_ivf", "ann_pq", "ann_ivf_pq",
                       "semantic_dedup_lsh", "pack_sequences", "bpe_merges",
                       "approx_distinct_users", "weekly_active_users_hll",
                       "value_quantiles_kll", "segment_overlap_theta",
                       "pca_explained_variance", "event_markov_stationary",
                       "label_effective_rank", "embedding_mahalanobis",
                       "holt_revenue_trend", "doc_novelty_hashed",
                       "duplicated_spans_hashed",
                       "quality_classifier_train", "langid_train",
                       "ann_mmr", "unigram_tokenizer_train",
                       "als_part_recommender", "als_ann_recommender",
                       "embedding_fd_sketch", "part_communities",
                       "isotonic_late_by_price", "embedding_whiten_check"):
        ordered[_rows_only] = ordered.pop(_rows_only)
    return ordered


#: Round-14 driver window — executes round-13 VERDICT item 1: the
#: oracle-backed entries rewritten in the r13/r14 optimization rounds
#: first (post-rewrite driver re-verification), then the staleness
#: rotation (remaining round-7 tier + 1 of round-8).  Recomputed from
#: all thirteen CORRECTNESS artifacts against the live registry;
#: ``_WINDOW_R3``..``_WINDOW_R13`` are in git history, each 50/50
#: driver-green in its round.
_WINDOW_R14 = [
    # --- 1-19: r13/r14 optimization rewrites, oracle-backed ---
    "doc_novelty",
    "dedup_containment",
    "dsir_importance",
    "duplicated_spans",
    "token_pmi",
    "clamped_quarterly_balance",
    "sole_late_supplier",
    "item_item_cosine",
    "copurchase_link_prediction",
    "copurchase_triangles",
    "copurchase_core3",
    "copurchase_powerlaw",
    "copurchase_assortativity",
    "part_pagerank",
    "brand_part_ppr",
    "truncated_dim_recall",
    "dedup_winnow",
    "dedup_winnow_incremental",
    "jaccard_threshold_sweep",
    # --- 20-49: round-7 tier remainder, staleness order ---
    "fact_engagement_build",
    "engagement_kpis",
    "tumbling_hourly",
    "rollup_type_daily",
    "cube_type_daily",
    "json_props_extract",
    "dim_media_conform",
    "dim_visitor_conform",
    "pk_repair",
    "null_empty_audit",
    "keep_first_dedup",
    "duplicate_audit",
    "uniqueness_report",
    "plays_by_channel",
    "customers_without_orders",
    "order_priority_counts",
    "top10_media",
    "rank_in_channel",
    "trailing_7day_plays",
    "new_vs_returning",
    "theilsen_revenue_trend",
    "spearman_price_qty",
    "kendall_tau_daily",
    "sequential_pattern_support",
    "revenue_periodogram",
    "brand_price_elasticity",
    "conformal_revenue_interval",
    "peak_concurrency_daily",
    "circadian_profile",
    "cuped_adjusted_ab",
    # --- 50: round-8 tier, staleness order ---
    "pricing_summary",
]


def oracle_sql() -> dict[str, str]:
    sql = {
        "daily_plays_trend": """
            SELECT CAST(ts AS DATE) AS event_date,
                   count(*) AS plays,
                   round(sum(value), 2) AS total_value
            FROM events WHERE event_type = 'view'
            GROUP BY 1 ORDER BY 1
        """,
        "fact_engagement_build": """
            SELECT user_id, CAST(ts AS DATE) AS date,
                   count(*) AS play_count,
                   round(count(*) / 10.0, 2) AS play_rate,
                   round(sum(coalesce(value, 0.0)), 2) AS total_watch_time_seconds,
                   CAST(round(CAST(avg(coalesce(value, 0.0)) AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS avg_percent_watched
            FROM events WHERE event_type = 'view'
            GROUP BY 1, 2
        """,
        "gold_fact_decimal": """
            WITH fact AS (
              SELECT user_id, CAST(ts AS DATE) AS date,
                     count(*) AS play_count,
                     round(count(*) / 10.0, 2) AS play_rate_d,
                     round(sum(coalesce(value, 0.0)), 2) AS watch_d,
                     CAST(round(CAST(avg(coalesce(value, 0.0)) AS DECIMAL(18,6)), 2) AS DOUBLE)
                       AS pct_d
              FROM events WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT user_id, date, play_count,
                   CAST(CAST(least(greatest(play_rate_d, CAST(-999.99 AS DOUBLE)),
                                   CAST(999.99 AS DOUBLE)) AS DECIMAL(5,2))
                        AS DOUBLE) AS play_rate,
                   CAST(floor(watch_d + 0.5) AS INT) AS total_watch_time,
                   CAST(CAST(least(greatest(pct_d, CAST(-999.99 AS DOUBLE)),
                                   CAST(999.99 AS DOUBLE)) AS DECIMAL(5,2))
                        AS DOUBLE) AS watched_percent
            FROM fact
        """,
        "engagement_kpis": """
            WITH fact AS (
              SELECT user_id, CAST(ts AS DATE) AS date,
                     count(*) AS play_count,
                     round(sum(coalesce(value, 0.0)), 2) AS total_watch_time_seconds,
                     CAST(round(CAST(avg(coalesce(value, 0.0)) AS DECIMAL(18,6)), 2) AS DOUBLE)
                       AS avg_percent_watched
              FROM events WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT CAST(sum(play_count) AS BIGINT) AS total_plays,
                   CAST(round(CAST(avg(avg_percent_watched) AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS avg_completion,
                   round(sum(total_watch_time_seconds) / 3600.0, 2) AS total_watch_hours,
                   round(sum(play_count) / CAST(count(DISTINCT user_id) AS DOUBLE), 4)
                     AS engagement_rate
            FROM fact
        """,
        "tumbling_hourly": """
            SELECT date_trunc('hour', ts) AS hour_start,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1
        """,
        "rollup_type_daily": """
            SELECT event_type, CAST(ts AS DATE) AS event_date,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        """,
        "cube_type_daily": """
            SELECT event_type, CAST(ts AS DATE) AS event_date,
                   count(*) AS n_events
            FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))
        """,
        "json_props_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "dim_media_conform": """
            SELECT DISTINCT
                   CAST(p_partkey AS VARCHAR) AS media_id,
                   p_name AS title,
                   CASE WHEN contains(lower(coalesce(p_type, '')), 'promo') THEN 'Promo'
                        WHEN contains(lower(coalesce(p_type, '')), 'economy') THEN 'Budget'
                        WHEN contains(lower(coalesce(p_type, '')), 'large') THEN 'Premium'
                        ELSE 'Standard' END AS channel,
                   concat('https://fast.wistia.net/embed/iframe/',
                          CAST(p_partkey AS VARCHAR)) AS url
            FROM part
        """,
        "dim_visitor_conform": """
            SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS visitor_id,
                   c_name AS name,
                   coalesce(c_mktsegment, 'Unknown') AS segment
            FROM customer
        """,
        "pk_repair": """
            WITH d AS (
              SELECT doc_id, text,
                     CASE WHEN source = 'src0' THEN NULL ELSE source END AS source_key
              FROM documents)
            SELECT doc_id,
                   CASE WHEN source_key IS NULL OR trim(source_key) = ''
                        THEN concat('doc_', sha256(concat_ws(chr(31), coalesce(CAST(text AS VARCHAR), ''))))
                        ELSE source_key END AS source_key
            FROM d
        """,
        "null_empty_audit": """
            WITH t AS (
              SELECT count(*) AS total_count,
                     CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                     CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS e1,
                     CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                     CAST(sum(CASE WHEN trim(lang) = '' THEN 1 ELSE 0 END) AS BIGINT) AS e2
              FROM documents)
            SELECT 'doc_id' AS col_name, n0 AS null_count,
                   CAST(0 AS BIGINT) AS empty_count, total_count FROM t
            UNION ALL
            SELECT 'text', n1, e1, total_count FROM t
            UNION ALL
            SELECT 'lang', n2, e2, total_count FROM t
        """,
        "keep_first_dedup": """
            SELECT event_id, user_id, event_type, ts FROM (
              SELECT event_id, user_id, event_type, ts,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts ASC NULLS LAST,
                                                 event_id ASC NULLS LAST) AS rn
              FROM events) WHERE rn = 1
        """,
        "duplicate_audit": """
            SELECT l_orderkey, count(*) AS dup_count
            FROM lineitem GROUP BY 1 HAVING count(*) > 1
        """,
        "uniqueness_report": """
            SELECT count(*) AS row_count,
                   count(DISTINCT o_orderkey) AS distinct_o_orderkey,
                   count(DISTINCT o_custkey) AS distinct_o_custkey
            FROM orders
        """,
        "plays_by_channel": """
            SELECT p_brand, count(*) AS plays,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "order_priority_counts": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY 1
        """,
        "top10_media": """
            SELECT l_partkey, count(*) AS plays,
                   round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY 1
            ORDER BY plays DESC, l_partkey ASC LIMIT 10
        """,
        "rank_in_channel": """
            SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     rank() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
              FROM part) WHERE rnk <= 3
        """,
        "trailing_7day_plays": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS event_date, count(*) AS plays
              FROM events WHERE event_type = 'view' GROUP BY 1)
            SELECT event_date, plays,
                   CAST(sum(plays) OVER (ORDER BY event_date
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS plays_7d
            FROM daily ORDER BY event_date
        """,
        "new_vs_returning": """
            WITH visits AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date FROM events),
            labeled AS (
              SELECT event_date,
                     CASE WHEN event_date = min(event_date) OVER (PARTITION BY user_id)
                          THEN 'new' ELSE 'returning' END AS visitor_status
              FROM visits)
            SELECT event_date, visitor_status, count(*) AS visitors
            FROM labeled GROUP BY 1, 2
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 2) AS avg_qty,
                   round(avg(l_extendedprice), 2) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "shipping_priority": """
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                   o_orderpriority, revenue FROM (
              SELECT o_orderkey, o_orderdate, o_orderpriority,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY 1, 2, 3)
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        "forecast_revenue_change": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.03 AND 0.05
              AND l_quantity < 24
        """,
        "returned_item_report": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "asof_prev_order": """
            WITH r AS (
              SELECT o_custkey, o_orderdate,
                     round(max(o_totalprice), 2) AS last_price
              FROM orders GROUP BY 1, 2)
            SELECT l.o_orderkey, l.o_custkey,
                   CAST(l.o_orderdate AS DATE) AS order_date, r.last_price
            FROM orders l
            ASOF LEFT JOIN r
              ON l.o_custkey = r.o_custkey AND l.o_orderdate >= r.o_orderdate
        """,
        "session_stats": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS session_start
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sessions AS (
              SELECT user_id, ts,
                     sum(session_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
                     AS duration_seconds,
                   CAST(min(ts) AS DATE) AS session_date
            FROM sessions GROUP BY 1, 2
        """,
        "dense_daily_purchases": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS d, count(*) AS purchases
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
            spine AS (
              SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                       AS event_date
              FROM bounds)
            SELECT event_date, coalesce(purchases, 0) AS purchases
            FROM spine LEFT JOIN daily ON event_date = d
        """,
        "funnel_view_click_purchase": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
            SELECT 1 AS step, 'view' AS step_name,
                   (SELECT count(*) FROM s1) AS entities
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        """,
        "pivot_type_daily": """
            SELECT CAST(ts AS DATE) AS event_date,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS "view"
            FROM events GROUP BY 1
        """,
        "unpivot_type_daily": """
            SELECT CAST(ts AS DATE) AS event_date, event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
            UNION ALL
            -- stack() emits every (date, type) pair, including zero cells
            SELECT d.event_date, t.event_type, 0 AS n_events
            FROM (SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events) d
            CROSS JOIN (SELECT DISTINCT event_type FROM events) t
            WHERE NOT EXISTS (
              SELECT 1 FROM events e
              WHERE CAST(e.ts AS DATE) = d.event_date
                AND e.event_type = t.event_type)
        """,
        "viewers_vs_purchasers": """
            SELECT user_id, 'view_and_purchase' AS cohort FROM (
              SELECT user_id FROM events WHERE event_type = 'view'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase')
            UNION ALL
            SELECT user_id, 'view_only' FROM (
              SELECT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'purchase')
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY 1
        """,
        "stats_report": """
            SELECT l_returnflag,
                   round(stddev_samp(l_quantity), 4) + 0.0 AS qty_stddev,
                   round(corr(l_quantity, l_extendedprice), 3) + 0.0 AS qty_price_corr,
                   round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0
                     AS qty_price_covar,
                   count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "value_distribution": """
            WITH by_val AS (
              SELECT value, count(*) AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1),
            cum AS (
              SELECT value, c,
                     sum(c) OVER (ORDER BY value) AS cum,
                     sum(c) OVER () AS total
              FROM by_val)
            SELECT CAST((10 * (cum - c)) // total + 1 AS INT) AS decile,
                   CAST(sum(c) AS BIGINT) AS n,
                   round(min(value), 2) AS lo,
                   round(max(value), 2) AS hi
            FROM cum GROUP BY 1
        """,
        "embedding_centroids": """
            WITH e AS (
              SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings)
            SELECT label, dim, round(avg(v), 6) + 0.0 AS centroid_v
            FROM e GROUP BY 1, 2
        """,
        "daily_plays_vs_purchases": """
            WITH v AS (
              SELECT CAST(ts AS DATE) AS event_date, count(*) AS views
              FROM events WHERE event_type = 'view' GROUP BY 1),
            p AS (
              SELECT CAST(ts AS DATE) AS event_date, count(*) AS purchases
              FROM events WHERE event_type = 'purchase' GROUP BY 1)
            SELECT coalesce(v.event_date, p.event_date) AS event_date,
                   coalesce(views, 0) AS views,
                   coalesce(purchases, 0) AS purchases
            FROM v FULL OUTER JOIN p ON v.event_date = p.event_date
        """,
        "grouping_sets_report": """
            SELECT event_type, CAST(ts AS DATE) AS event_date,
                   count(*) AS n_events,
                   CAST(grouping(event_type) * 2 + grouping(CAST(ts AS DATE))
                        AS BIGINT) AS gid
            FROM events
            GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
                                    (event_type), ())
        """,
        "heavy_hitter_users": """
            SELECT user_id, count(*) AS n_events
            FROM events GROUP BY user_id HAVING count(*) >= 70
        """,
        "scd2_customer_batch": """
            WITH cur AS (
              SELECT c_custkey, c_name, c_acctbal FROM customer),
            upd AS (
              SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
              FROM customer WHERE c_custkey % 10 = 0
              UNION ALL
              SELECT 9000001, 'Brand New Customer', 42.0),
            changed AS (
              SELECT u.c_custkey FROM upd u JOIN cur c USING (c_custkey)
              WHERE u.c_name IS DISTINCT FROM c.c_name
                 OR u.c_acctbal IS DISTINCT FROM c.c_acctbal),
            new_keys AS (
              SELECT u.c_custkey FROM upd u
              WHERE u.c_custkey NOT IN (SELECT c_custkey FROM cur))
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
                   TIMESTAMP '2024-01-01' AS valid_from,
                   TIMESTAMP '2024-02-01' AS valid_to,
                   FALSE AS is_current
            FROM cur WHERE c_custkey IN (SELECT c_custkey FROM changed)
            UNION ALL
            SELECT c_custkey, c_name, round(c_acctbal, 2),
                   TIMESTAMP '2024-01-01', NULL, TRUE
            FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
            UNION ALL
            SELECT c_custkey, c_name, round(c_acctbal, 2),
                   TIMESTAMP '2024-02-01', NULL, TRUE
            FROM upd
            WHERE c_custkey IN (SELECT c_custkey FROM changed)
               OR c_custkey IN (SELECT c_custkey FROM new_keys)
        """,
        "multimodal_metadata": """
            SELECT doc_id AS asset_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'video'
                        WHEN doc_id % 3 = 1 THEN 'image'
                        ELSE 'audio' END AS media_type,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   sha256(text) AS content_sha256
            FROM documents
        """,
        "frame_grid": """
            SELECT doc_id AS asset_id,
                   unnest(range(0, CAST(greatest(n_chars * 10 - 1, 0) AS BIGINT) + 1,
                                5000)) AS frame_ms
            FROM documents WHERE doc_id % 3 = 0
        """,
        "streaming_daily_engagement": """
            SELECT CAST(ts AS DATE) AS date, user_id,
                   count(*) AS play_count,
                   round(sum(coalesce(value, 0.0)), 2) AS total_watch_time_seconds,
                   CAST(round(CAST(avg(coalesce(value, 0.0)) AS DECIMAL(18,6)), 2)
                        AS DOUBLE) AS avg_percent_watched
            FROM events
            WHERE event_type = 'view'
            GROUP BY 1, 2
            HAVING CAST(ts AS DATE) + INTERVAL 1 DAY
                     <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        """,
        "revenue_concentration": """
            WITH per_cust AS (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
              FROM orders GROUP BY 1),
            cents AS (
              SELECT o_custkey,
                     CAST(round(rev * 100) AS BIGINT) AS c
              FROM per_cust),
            ranked AS (
              SELECT c, row_number() OVER (ORDER BY c ASC, o_custkey ASC)
                       AS i
              FROM cents),
            gini AS (
              SELECT 'gini_customer_revenue' AS metric,
                     round(2.0 * CAST(sum(i * c) AS DOUBLE)
                             / (count(*) * CAST(sum(c) AS DOUBLE))
                           - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6)
                       AS value
              FROM ranked),
            per_brand AS (
              SELECT CAST(round(round(sum(l_extendedprice), 2) * 100)
                          AS BIGINT) AS c
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM per_brand),
            hhi AS (
              SELECT 'hhi_brand_revenue' AS metric,
                     round(sum((c / t) * (c / t)), 6) AS value
              FROM per_brand CROSS JOIN tot)
            SELECT * FROM gini UNION ALL SELECT * FROM hhi
        """,
        "rolling_view_purchase_corr": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS date,
                     CAST(sum(CASE WHEN event_type = 'view'
                              THEN 1 ELSE 0 END) AS DOUBLE) AS v,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS DOUBLE) AS p
              FROM events GROUP BY 1)
            SELECT date,
                   CAST(v AS BIGINT) AS views,
                   CAST(p AS BIGINT) AS purchases,
                   CASE WHEN count(*) OVER w = 7
                        THEN round(corr(v, p) OVER w, 4)
                             + CAST(0.0 AS DOUBLE) END AS corr_7d
            FROM daily
            WINDOW w AS (ORDER BY date
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "min_cost_supplier": """
            WITH eu_supp AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'),
            costs AS (
              SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
                     min(l_extendedprice / l_quantity) AS unit_cost_raw
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN eu_supp ON l_suppkey = s_suppkey
              WHERE p_type = 'SMALL' AND p_size <= 15
              GROUP BY 1, 2, 3, 4, 5, 6),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY p_partkey
                       ORDER BY unit_cost_raw, s_suppkey) AS rn
              FROM costs)
            SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
                   p_partkey, p_name,
                   round(unit_cost_raw, 2) AS unit_cost
            FROM ranked WHERE rn = 1
            ORDER BY round(s_acctbal, 2) DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        "important_part_stock": """
            WITH pv AS (
              SELECT n_name, l_partkey,
                     CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS part_cents
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY 1, 2),
            tot AS (
              SELECT *, sum(part_cents) OVER (PARTITION BY n_name)
                          AS nation_cents
              FROM pv)
            SELECT n_name, l_partkey,
                   round(part_cents / CAST(100.0 AS DOUBLE), 2) AS part_value
            FROM tot WHERE part_cents * 200 > nation_cents
            ORDER BY part_value DESC, n_name, l_partkey
        """,
        "ship_latency_priority": """
            SELECT CASE
                     WHEN datediff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) <= 30 THEN 'FAST'
                     WHEN datediff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) <= 90 THEN 'MEDIUM'
                     ELSE 'SLOW' END AS latency_class,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                     AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1
        """,
        "supplier_count_by_part": """
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
              WHERE l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM pairs JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 9, 15, 23, 31, 37, 45)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "excess_shipped_suppliers": """
            WITH red_parts AS (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
            sq AS (
              SELECT l_suppkey, l_partkey,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS supp_qty
              FROM lineitem JOIN red_parts ON l_partkey = p_partkey
              WHERE year(l_shipdate) = 1996
              GROUP BY 1, 2),
            wt AS (
              SELECT *, sum(supp_qty) OVER (PARTITION BY l_partkey)
                          AS part_qty
              FROM sq),
            excess AS (
              SELECT DISTINCT l_suppkey FROM wt
              WHERE supp_qty * 4 > part_qty)
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal, n_name
            FROM excess JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_name
        """,
        "clamped_quarterly_balance": """
            WITH RECURSIVE quarterly AS (
              SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE)
                       AS quarter,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS BIGINT) AS spend_cents
              FROM orders GROUP BY 1),
            numbered AS (
              SELECT *, row_number() OVER (ORDER BY quarter) AS rn
              FROM quarterly),
            bal AS (
              SELECT rn, quarter, spend_cents,
                     CAST(greatest(0, 14100000000 - spend_cents) AS BIGINT)
                       AS balance_cents
              FROM numbered WHERE rn = 1
              UNION ALL
              SELECT m.rn, m.quarter, m.spend_cents,
                     CAST(greatest(0, b.balance_cents + 14100000000
                                      - m.spend_cents) AS BIGINT)
              FROM bal b JOIN numbered m ON m.rn = b.rn + 1)
            SELECT quarter,
                   round(spend_cents / CAST(100.0 AS DOUBLE), 2) AS spend,
                   round(balance_cents / CAST(100.0 AS DOUBLE), 2) AS balance
            FROM bal ORDER BY quarter
        """,
        "priority_status_listagg": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   string_agg(DISTINCT o_orderstatus, ','
                              ORDER BY o_orderstatus) AS statuses
            FROM orders
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "user_behavior_entropy": """
            WITH counts AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events GROUP BY 1, 2),
            probs AS (
              SELECT user_id, n,
                     n / CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE)
                       AS p
              FROM counts)
            SELECT user_id,
                   round(sum(-p * ln(p)), 4) + CAST(0.0 AS DOUBLE)
                     AS entropy_nats,
                   CAST(sum(n) AS BIGINT) AS n_events
            FROM probs GROUP BY 1 ORDER BY 1
        """,
        "user_event_histogram_map": """
            WITH counts AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events GROUP BY 1, 2)
            SELECT user_id,
                   '{' || string_agg('"' || event_type || '":' || n, ','
                                     ORDER BY event_type) || '}' AS histogram,
                   CAST(sum(n) AS BIGINT) AS n_events
            FROM counts GROUP BY 1 ORDER BY 1
        """,
        "activity_streaks": """
            WITH days AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
            islands AS (
              SELECT user_id, day,
                     day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
              FROM days),
            per_island AS (
              SELECT user_id, grp, count(*) AS len
              FROM islands GROUP BY 1, 2)
            SELECT user_id,
                   CAST(sum(len) AS BIGINT) AS n_active_days,
                   CAST(max(len) AS BIGINT) AS longest_streak,
                   CAST(count(*) AS BIGINT) AS n_streaks
            FROM per_island GROUP BY 1
        """,
        "centroid_drift": """
            WITH e AS (
              SELECT label, vec_id % 2 = 0 AS a,
                     generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
            per_dim AS (
              SELECT label, dim,
                     avg(CASE WHEN a THEN v END) AS ca,
                     avg(CASE WHEN NOT a THEN v END) AS cb
              FROM e GROUP BY 1, 2)
            SELECT label,
                   round(sum(ca * cb)
                         / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 4)
                     + CAST(0.0 AS DOUBLE) AS cosine_sim,
                   round(sqrt(sum((ca - cb) * (ca - cb))), 4)
                     + CAST(0.0 AS DOUBLE) AS l2_dist
            FROM per_dim GROUP BY 1 ORDER BY 1
        """,
        "higher_moments_report": """
            WITH mu AS (
              SELECT o_orderpriority AS p, avg(o_totalprice) AS m
              FROM orders GROUP BY 1),
            mom AS (
              SELECT o_orderpriority,
                     count(*) AS n_orders,
                     avg((o_totalprice - m) * (o_totalprice - m)) AS m2,
                     avg((o_totalprice - m) * (o_totalprice - m)
                         * (o_totalprice - m)) AS m3,
                     avg((o_totalprice - m) * (o_totalprice - m)
                         * (o_totalprice - m) * (o_totalprice - m)) AS m4
              FROM orders JOIN mu ON o_orderpriority = p
              GROUP BY 1)
            SELECT o_orderpriority, n_orders,
                   round(m3 / pow(m2, CAST(1.5 AS DOUBLE)), 4)
                     + CAST(0.0 AS DOUBLE) AS skewness,
                   round(m4 / (m2 * m2) - CAST(3.0 AS DOUBLE), 4)
                     + CAST(0.0 AS DOUBLE) AS excess_kurtosis
            FROM mom ORDER BY 1
        """,
        "ar2_revenue_forecast": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS day,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS BIGINT) / CAST(100.0 AS DOUBLE) AS rev
              FROM orders GROUP BY 1),
            lagged AS (
              SELECT day, rev,
                     lag(rev, 1) OVER (ORDER BY day) AS x1,
                     lag(rev, 2) OVER (ORDER BY day) AS x2
              FROM daily),
            reg AS (SELECT * FROM lagged WHERE x2 IS NOT NULL),
            means AS (SELECT avg(rev) AS my, avg(x1) AS m1, avg(x2) AS m2
                      FROM reg),
            cs AS (
              SELECT sum((x1 - m1) * (x1 - m1)) AS s11,
                     sum((x1 - m1) * (x2 - m2)) AS s12,
                     sum((x2 - m2) * (x2 - m2)) AS s22,
                     sum((x1 - m1) * (rev - my)) AS b1,
                     sum((x2 - m2) * (rev - my)) AS b2,
                     max_by(rev, day) AS rn,
                     max_by(x1, day) AS rn1
              FROM reg CROSS JOIN means),
            sol AS (
              SELECT (b1 * s22 - b2 * s12) / (s11 * s22 - s12 * s12) AS p1,
                     (s11 * b2 - s12 * b1) / (s11 * s22 - s12 * s12) AS p2,
                     rn, rn1
              FROM cs),
            ic AS (SELECT p1, p2, rn, rn1,
                          my - p1 * m1 - p2 * m2 AS c
                   FROM sol CROSS JOIN means),
            fc1 AS (SELECT p1, p2, c, rn,
                           c + p1 * rn + p2 * rn1 AS f1 FROM ic),
            fc2 AS (SELECT p1, p2, c, f1,
                           c + p1 * f1 + p2 * rn AS f2 FROM fc1)
            SELECT round(p1, 4) + CAST(0.0 AS DOUBLE) AS phi1,
                   round(p2, 4) + CAST(0.0 AS DOUBLE) AS phi2,
                   round(c, 2) + CAST(0.0 AS DOUBLE) AS intercept,
                   round(f1, 2) AS forecast_1,
                   round(f2, 2) AS forecast_2,
                   round(c + p1 * f2 + p2 * f1, 2) AS forecast_3
            FROM fc2
        """,
        "ewma_daily_revenue": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS day,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS BIGINT) / CAST(100.0 AS DOUBLE) AS rev
              FROM orders GROUP BY 1)
            SELECT a.day AS day,
                   round(max(CASE WHEN a.day = b.day THEN b.rev END), 2)
                     AS revenue,
                   round(sum(b.rev * pow(CAST(0.7 AS DOUBLE),
                                         CAST(datediff('day', b.day, a.day)
                                              AS DOUBLE)))
                         / sum(pow(CAST(0.7 AS DOUBLE),
                                   CAST(datediff('day', b.day, a.day)
                                        AS DOUBLE))), 4)
                     + CAST(0.0 AS DOUBLE) AS ewma_revenue
            FROM daily a JOIN daily b
              ON datediff('day', b.day, a.day) BETWEEN 0 AND 13
            GROUP BY 1 ORDER BY 1
        """,
        "incremental_kpi_refresh": """
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(CAST(floor(coalesce(value, 0.0) * 100 + 0.5)
                                  AS BIGINT)) / CAST(100.0 AS DOUBLE), 2)
                     AS total_value,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "daily_unique_users_bitmap": """
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "value_percentile_disc": """
            SELECT event_type,
                   count(*) AS n_values,
                   round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value),
                         4) AS p25,
                   round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value),
                         4) AS p50,
                   round(percentile_disc(0.75) WITHIN GROUP (ORDER BY value),
                         4) AS p75
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type ORDER BY event_type
        """,
        "value_psi_report": """
            WITH binned AS (
              SELECT year(o_orderdate) AS yr,
                     CAST(least(floor(o_totalprice
                                      / CAST(60000.0 AS DOUBLE)) + 1, 10)
                          AS BIGINT) AS bin
              FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
            counts AS (
              SELECT bin,
                     CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_1995,
                     CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_1996
              FROM binned GROUP BY 1),
            totals AS (
              SELECT CAST(sum(n_1995) + 10 AS DOUBLE) AS t95,
                     CAST(sum(n_1996) + 10 AS DOUBLE) AS t96
              FROM counts),
            contrib AS (
              SELECT bin, n_1995, n_1996,
                     ((n_1995 + 1) / t95 - (n_1996 + 1) / t96)
                       * ln(((n_1995 + 1) / t95) / ((n_1996 + 1) / t96))
                       AS raw
              FROM counts CROSS JOIN totals)
            SELECT bin, n_1995, n_1996,
                   round(raw, 6) + CAST(0.0 AS DOUBLE) AS psi_contribution,
                   round(sum(raw) OVER (), 6) + CAST(0.0 AS DOUBLE)
                     AS psi_total
            FROM contrib
        """,
        "mad_outlier_days": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS date,
                     round(sum(coalesce(value, 0.0)), 2) AS v
              FROM events GROUP BY 1),
            med AS (SELECT median(v) AS m FROM daily),
            mad AS (
              SELECT median(abs(v - m)) AS d
              FROM daily CROSS JOIN med)
            SELECT date, v,
                   round(CAST(0.6745 AS DOUBLE) * (v - m) / d, 4)
                     + CAST(0.0 AS DOUBLE) AS robust_z,
                   abs(CAST(0.6745 AS DOUBLE) * (v - m) / d) > 3.5
                     AS is_outlier
            FROM daily CROSS JOIN med CROSS JOIN mad
        """,
        "nation_share_of_region": """
            WITH per_nation AS (
              SELECT r_name, n_name,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY 1, 2)
            SELECT r_name, n_name, revenue,
                   round(revenue / sum(revenue) OVER (PARTITION BY r_name), 4)
                     AS share_of_region
            FROM per_nation
        """,
        "abc_customer_classes": """
            WITH per_cust AS (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY 1),
            cents AS (
              SELECT o_custkey, revenue,
                     CAST(round(revenue * 100) AS BIGINT) AS c
              FROM per_cust),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_c FROM cents),
            ranked AS (
              SELECT revenue, c, total_c,
                     sum(c) OVER (ORDER BY c DESC, o_custkey ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_c
              FROM cents CROSS JOIN tot)
            SELECT CASE WHEN cum_c * 100 <= total_c * 80 THEN 'A'
                        WHEN cum_c * 100 <= total_c * 95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   count(*) AS n_customers,
                   round(sum(revenue), 2) AS class_revenue
            FROM ranked GROUP BY 1
        """,
        "event_id_gaps": """
            WITH ids AS (SELECT DISTINCT event_id FROM events
                         WHERE event_id % 997 <> 0),
            nxt AS (
              SELECT event_id,
                     lead(event_id) OVER (ORDER BY event_id) AS n
              FROM ids)
            SELECT event_id + 1 AS gap_start,
                   n - 1 AS gap_end,
                   n - event_id - 1 AS n_missing
            FROM nxt WHERE n > event_id + 1
        """,
        "safe_arithmetic_report": """
            WITH m AS (
              SELECT l_returnflag,
                     CASE WHEN l_quantity - CAST(1.0 AS DOUBLE) = 0 THEN NULL
                          ELSE (l_extendedprice
                                * (CAST(1 AS DOUBLE) - l_discount))
                               / (l_quantity - CAST(1.0 AS DOUBLE)) END
                       AS um
              FROM lineitem)
            SELECT l_returnflag, count(*) AS n_rows,
                   CAST(sum(CASE WHEN um IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_undefined,
                   round(sum(coalesce(um, 0.0)), 2) AS total_defined_margin
            FROM m GROUP BY 1
        """,
        "lateral_top_customers": """
            SELECT n.n_name AS nation, t.c_name, t.acctbal
            FROM nation n,
            LATERAL (
              SELECT c_name, round(c_acctbal, 2) AS acctbal
              FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_name ASC
              LIMIT 2
            ) t
        """,
        "variant_props_extract": """
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                   count(*) AS n_events,
                   round(sum(coalesce(value, 0.0)), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "yearly_customer_setops": """
            WITH y95 AS (
              SELECT DISTINCT o_custkey FROM orders
              WHERE year(o_orderdate) = 1995),
            y96 AS (
              SELECT DISTINCT o_custkey FROM orders
              WHERE year(o_orderdate) = 1996)
            SELECT 'retained' AS bucket, count(*) AS n_customers
            FROM (SELECT o_custkey FROM y95 INTERSECT
                  SELECT o_custkey FROM y96)
            UNION ALL
            SELECT 'churned', count(*)
            FROM (SELECT o_custkey FROM y95 EXCEPT
                  SELECT o_custkey FROM y96)
            UNION ALL
            SELECT 'new', count(*)
            FROM (SELECT o_custkey FROM y96 EXCEPT
                  SELECT o_custkey FROM y95)
        """,
        "trimmed_mean_order_value": """
            WITH ranked AS (
              SELECT o_orderpriority, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice) AS rn,
                     count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM orders)
            SELECT o_orderpriority,
                   round(avg(CASE WHEN rn > CAST(floor(n * 0.1) AS BIGINT)
                                   AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
                                  THEN o_totalprice END), 2) AS trimmed_mean,
                   round(avg(o_totalprice), 2) AS plain_mean,
                   count(*) AS n_orders
            FROM ranked
            GROUP BY 1
        """,
        "null_safe_join": """
            WITH keyed AS (
              SELECT doc_id,
                     CASE WHEN source = 'src0' THEN NULL ELSE source END
                       AS skey
              FROM documents)
            SELECT coalesce(a.skey, '(null)') AS source_key,
                   count(*) AS n_pairs
            FROM keyed a JOIN keyed b
              ON a.skey IS NOT DISTINCT FROM b.skey
             AND a.doc_id < b.doc_id
            GROUP BY 1
        """,
        "daily_trend_regression": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS date,
                     round(sum(coalesce(value, 0.0)), 2) AS v
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(date) AS s FROM daily),
            xs AS (
              SELECT event_type, v,
                     CAST(datediff('day', s, date) AS DOUBLE) AS x
              FROM daily CROSS JOIN d0)
            SELECT event_type,
                   round(regr_slope(v, x), 4) + CAST(0.0 AS DOUBLE) AS slope,
                   round(regr_intercept(v, x), 4) + CAST(0.0 AS DOUBLE)
                     AS intercept,
                   round(regr_r2(v, x), 4) + CAST(0.0 AS DOUBLE) AS r2,
                   CAST(regr_count(v, x) AS BIGINT) AS n_days
            FROM xs GROUP BY 1
        """,
        "event_pattern_match": """
            WITH m AS (
              SELECT user_id, ts, event_id,
                     CASE event_type WHEN 'view' THEN 'V'
                                     WHEN 'click' THEN 'C'
                                     WHEN 'purchase' THEN 'P'
                                     WHEN 'signup' THEN 'S'
                                     ELSE 'E' END AS ch
              FROM events),
            s AS (
              SELECT user_id,
                     string_agg(ch, '' ORDER BY ts, event_id) AS seq,
                     count(*) AS n_events
              FROM m GROUP BY 1)
            SELECT user_id, n_events,
                   CAST((length(seq) - length(replace(seq, 'VCP', ''))) / 3
                        AS BIGINT) AS vcp_runs
            FROM s
        """,
        "cusum_changepoint": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS date,
                     round(sum(coalesce(value, 0.0)), 2) AS v
              FROM events GROUP BY 1),
            cents AS (
              SELECT date, v, CAST(round(v * 100) AS BIGINT) AS c FROM daily),
            stats AS (
              SELECT CAST(sum(c) AS BIGINT) AS total_c,
                     count(*) AS n, stddev_pop(v) AS sigma
              FROM cents),
            cum AS (
              SELECT date, v, n, sigma,
                     n * sum(c) OVER (ORDER BY date ROWS BETWEEN
                                      UNBOUNDED PRECEDING AND CURRENT ROW)
                       - row_number() OVER (ORDER BY date) * total_c AS num
              FROM cents CROSS JOIN stats)
            SELECT date, v,
                   round(num / (n * CAST(100.0 AS DOUBLE)), 2)
                     + CAST(0.0 AS DOUBLE) AS cusum,
                   abs(num / (n * CAST(100.0 AS DOUBLE))) > 2 * sigma
                     AS is_shift
            FROM cum
        """,
        "streaming_sessions": """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               >= 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT user_id,
                   epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts)) + 1800000000 AS session_end_us,
                   count(*) AS n_events,
                   round(sum(coalesce(value, 0.0)), 2) AS total_value
            FROM sess
            GROUP BY user_id, sid
            HAVING epoch_us(max(ts)) + 1800000000
                     <= epoch_us((SELECT max(ts) FROM events)) - 3600000000
        """,
        "union_schema_drift": """
            WITH unioned AS (
              SELECT event_id, user_id, event_type, value, NULL AS props
              FROM events
              UNION ALL
              SELECT event_id + 10000000, user_id, event_type, value, props
              FROM events)
            SELECT event_type, count(*) AS n_rows,
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_missing_props
            FROM unioned GROUP BY 1
        """,
        "cohort_retention": """
            WITH firsts AS (
              SELECT o_custkey, min(o_orderdate) AS first_dt
              FROM orders GROUP BY 1)
            SELECT strftime(first_dt, '%Y-%m') AS cohort_month,
                   CAST((year(o_orderdate) * 12 + month(o_orderdate))
                        - (year(first_dt) * 12 + month(first_dt)) AS INT)
                     AS month_offset,
                   count(DISTINCT o.o_custkey) AS entities
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2
        """,
        "mom_revenue_growth": """
            WITH per AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY 1)
            SELECT period, revenue,
                   lag(revenue) OVER (ORDER BY period) AS prev_revenue,
                   round(revenue - lag(revenue) OVER (ORDER BY period), 2)
                     AS abs_change,
                   CAST(round(CAST((revenue - lag(revenue) OVER (ORDER BY period))
                                   / lag(revenue) OVER (ORDER BY period) * 100.0
                              AS DECIMAL(18,6)), 2) AS DOUBLE) AS pct_change
            FROM per
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey AS last_orderkey,
                   o_orderdate AS last_order_date
            FROM (
              SELECT o_custkey, o_orderkey, o_orderdate,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC,
                                                 o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
        """,
        "order_value_histogram": """
            SELECT CAST(floor((o_totalprice - 0.0) / 25000.0) + 1 AS INT)
                     AS bucket,
                   count(*) AS n_rows,
                   CAST(round(0.0 + (CAST(floor((o_totalprice - 0.0) / 25000.0) + 1 AS INT) - 1)
                              * 25000.0, 2) AS DOUBLE) AS bucket_lo
            FROM orders GROUP BY 1, 3
        """,
        "above_avg_spenders": """
            WITH totals AS (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
              FROM orders GROUP BY 1),
            g AS (
              SELECT CAST(round(CAST(avg(total_spend) AS DECIMAL(18,6)), 2)
                          AS DOUBLE) AS avg_spend FROM totals)
            SELECT o_custkey, total_spend FROM totals, g
            WHERE total_spend > avg_spend
        """,
        "part_cooccurrence": """
            SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                   count(*) AS pair_count
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            ORDER BY pair_count DESC, item_a ASC, item_b ASC
            LIMIT 20
        """,
        "nations_per_region": """
            SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
                   count(*) AS n_items
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "view_purchase_conversion": """
            WITH p AS (
              SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase'),
            v AS (
              SELECT user_id, ts FROM events WHERE event_type = 'view'),
            matched AS (
              SELECT p.user_id, p.event_id, count(*) AS n_prior_views
              FROM p JOIN v ON p.user_id = v.user_id
                AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
              GROUP BY 1, 2),
            per_user AS (
              SELECT user_id, count(*) AS purchases_with_prior_view,
                     CAST(sum(n_prior_views) AS BIGINT) AS total_prior_views
              FROM matched GROUP BY 1)
            SELECT p.user_id, count(*) AS n_purchases,
                   coalesce(any_value(purchases_with_prior_view), 0)
                     AS purchases_with_prior_view,
                   coalesce(any_value(total_prior_views), 0) AS total_prior_views
            FROM p LEFT JOIN per_user pu ON p.user_id = pu.user_id
            GROUP BY 1
        """,
        "priority_value_spread": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(round(CAST(median(o_totalprice) AS DECIMAL(18,6)), 2)
                        AS DOUBLE) AS median_value,
                   round(min(o_totalprice), 2) AS min_value,
                   round(max(o_totalprice), 2) AS max_value
            FROM orders GROUP BY 1
        """,
        "regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        "orders_above_customer_avg": """
            SELECT o_orderkey, o_custkey,
                   round(o_totalprice, 2) AS order_value, cust_avg
            FROM (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     CAST(round(CAST(avg(o_totalprice)
                                     OVER (PARTITION BY o_custkey)
                                AS DECIMAL(18,6)), 2) AS DOUBLE) AS cust_avg
              FROM orders)
            WHERE o_totalprice > cust_avg
        """,
        "user_event_type_sets": """
            SELECT user_id,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                     AS types,
                   count(DISTINCT event_type) AS n_types,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
                        AS BOOLEAN) AS has_purchase
            FROM events GROUP BY 1
        """,
        "top_event_type_per_user": """
            SELECT user_id, event_type AS top_type, cnt AS top_count FROM (
              SELECT user_id, event_type, count(*) AS cnt,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY count(*) DESC,
                                                 event_type ASC) AS rn
              FROM events GROUP BY 1, 2) WHERE rn = 1
        """,
        "balance_segment_report": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   count(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
                   CAST(round(CAST(count(*) FILTER (WHERE c_acctbal > 0)
                                   / CAST(count(*) AS DOUBLE) * 100.0
                              AS DECIMAL(18,6)), 2) AS DOUBLE) AS pct_positive,
                   CAST(round(CAST(avg(c_acctbal) AS DECIMAL(18,6)), 2) AS DOUBLE)
                     + 0.0 AS avg_balance
            FROM customer GROUP BY 1
        """,
        "customers_no_final_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        """,
        "order_value_percent_rank": """
            SELECT o_orderkey, o_orderpriority,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume_dist
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        """,
        "doc_split_assignment": """
            SELECT source,
                   CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                        WHEN (doc_id * 2654435761) % 100 < 90 THEN 'validation'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1, 2
        """,
        "rolling_7day_range_revenue": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS order_date,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY 1)
            SELECT order_date, revenue,
                   round(sum(revenue) OVER (
                     ORDER BY datediff('day', DATE '1970-01-01', order_date)
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
                     AS revenue_7day
            FROM daily
        """,
        "daily_value_locf": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS event_date,
                     CAST(round(CAST(avg(value) AS DECIMAL(18,6)), 2) AS DOUBLE)
                       AS avg_value
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            bounds AS (
              SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
              FROM events),
            spine AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
                       AS event_date
              FROM bounds)
            SELECT s.event_date, d.avg_value,
                   last_value(d.avg_value IGNORE NULLS) OVER (
                     ORDER BY s.event_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS avg_value_locf
            FROM spine s LEFT JOIN daily d ON s.event_date = d.event_date
        """,
        "orders_rerun_diff": """
            WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
            rerun AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_custkey % 10 = 0
                          THEN round(o_totalprice * 1.1, 2)
                          ELSE o_totalprice END AS o_totalprice
              FROM o WHERE o_orderkey % 97 <> 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_totalprice
              FROM o WHERE o_orderkey % 1000 = 0)
            SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   CASE WHEN o.o_orderkey IS NULL THEN 'added'
                        WHEN n.o_orderkey IS NULL THEN 'removed'
                        WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                             THEN 'changed'
                        ELSE 'unchanged' END AS change_type
            FROM o FULL OUTER JOIN rerun n ON o.o_orderkey = n.o_orderkey
            WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                            THEN 'changed'
                       ELSE 'unchanged' END <> 'unchanged'
        """,
        "benford_first_digit": """
            WITH counts AS (
              SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                      AS VARCHAR), 1, 1) AS INT) AS first_digit,
                     count(*) AS n_orders
              FROM orders GROUP BY 1),
            total AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS t FROM counts)
            SELECT first_digit, n_orders,
                   round(n_orders / t, 6) AS observed_share,
                   round(log10(1.0 + 1.0 / first_digit), 6) AS benford_share
            FROM counts, total
        """,
        "rfm_segments": """
            WITH per_cust AS (
              SELECT o_custkey,
                     datediff('day', max(o_orderdate),
                              TIMESTAMP '2001-09-01 00:00:00') AS recency_days,
                     count(*) AS frequency,
                     round(sum(o_totalprice), 2) AS monetary
              FROM orders GROUP BY 1),
            scored AS (
              SELECT o_custkey, recency_days, frequency, monetary,
                     ntile(4) OVER (ORDER BY recency_days DESC, o_custkey ASC)
                       AS r_score,
                     ntile(4) OVER (ORDER BY frequency ASC, o_custkey ASC)
                       AS f_score,
                     ntile(4) OVER (ORDER BY monetary ASC, o_custkey ASC)
                       AS m_score
              FROM per_cust)
            SELECT o_custkey, recency_days, frequency, monetary,
                   r_score, f_score, m_score,
                   concat_ws('-', r_score, f_score, m_score) AS segment
            FROM scored
        """,
        "top_entry_paths": """
            WITH paths AS (
              SELECT user_id,
                     array_to_string(
                       list_slice(
                         array_agg(event_type ORDER BY ts, event_id), 1, 3),
                       ' > ') AS entry_path
              FROM events GROUP BY 1)
            SELECT entry_path, count(*) AS n_users
            FROM paths GROUP BY 1
            ORDER BY n_users DESC, entry_path ASC LIMIT 10
        """,
        "weekday_profile": """
            SELECT CAST(isodow(ts) AS INT) AS iso_weekday,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value,
                   CAST(round(CAST(avg(value) AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS avg_value
            FROM events GROUP BY 1
        """,
        "event_expectations": """
            WITH t AS (
              SELECT count(*) AS total,
                     CAST(sum(CASE WHEN user_id IS NULL OR event_type IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v0,
                     CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type
                                   NOT IN ('view','click','purchase','signup','error')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                     CAST(sum(CASE WHEN value IS NOT NULL
                                   AND (value < 0.0 OR value > 10000.0)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                     CAST(sum(CASE WHEN props IS NOT NULL
                                   AND NOT regexp_matches(props, '^\\{.*\\}$')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v3
              FROM events)
            SELECT 'not_null(user_id,event_type)' AS "check", v0 AS violations,
                   total AS total_count, v0 = 0 AS passed FROM t
            UNION ALL
            SELECT 'values_in(event_type)', v1, total, v1 = 0 FROM t
            UNION ALL
            SELECT 'between(value)', v2, total, v2 = 0 FROM t
            UNION ALL
            SELECT 'matches(props)', v3, total, v3 = 0 FROM t
        """,
        "event_transitions": """
            WITH seq AS (
              SELECT user_id, ts, event_type,
                     lag(event_type) OVER w AS prev_type,
                     lag(ts) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT prev_type, event_type AS next_type,
                   count(*) AS n_transitions,
                   CAST(round(CAST(avg((epoch_us(ts) - epoch_us(prev_ts))
                                       / 1000000.0)
                              AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS avg_gap_seconds
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        """,
        "fuzzy_part_names": """
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             AND a.p_partkey < b.p_partkey
            ORDER BY edit_distance ASC, key_a ASC, key_b ASC
            LIMIT 15
        """,
        "revenue_share_by_brand": """
            WITH rev AS (
              SELECT p_brand,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1)
            SELECT p_brand, revenue,
                   round(revenue / sum(revenue) OVER (), 6) AS revenue_share
            FROM rev
        """,
        "daily_anomaly_zscore": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events
              FROM events GROUP BY 1),
            stats AS (
              SELECT CAST(round(CAST(avg(n_events) AS DECIMAL(18,6)), 6) AS DOUBLE)
                       AS mean,
                     CAST(round(CAST(stddev_samp(n_events) AS DECIMAL(18,6)), 6)
                          AS DOUBLE) AS sd
              FROM daily)
            SELECT event_date, n_events,
                   round((CAST(n_events AS DOUBLE) - mean) / sd, 4) AS zscore,
                   abs(round((CAST(n_events AS DOUBLE) - mean) / sd, 4)) > 2.0
                     AS is_anomaly
            FROM daily, stats
        """,
        "cumulative_unique_users": """
            WITH firsts AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS first_date
              FROM events GROUP BY 1),
            per_day AS (
              SELECT first_date, count(*) AS new_users FROM firsts GROUP BY 1)
            SELECT first_date, new_users,
                   CAST(sum(new_users) OVER (ORDER BY first_date
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumulative_users
            FROM per_day
        """,
        "embedding_quantize": """
            SELECT vec_id,
                   round(s, 6) AS scale,
                   CAST(to_json(list_transform(embedding,
                                  x -> CAST(floor(x * s + 0.5) AS INT)))
                        AS VARCHAR) AS q8
            FROM (
              SELECT vec_id, embedding,
                     CAST(127.0 AS DOUBLE)
                       / CAST(list_max(list_transform(embedding, x -> abs(x)))
                              AS DOUBLE) AS s
              FROM embeddings)
        """,
        "vocab_coverage": """
            WITH words AS (
              SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
              FROM documents),
            counts AS (
              SELECT word, count(*) AS n_occurrences FROM words
              WHERE word <> '' GROUP BY 1),
            total AS (SELECT CAST(sum(n_occurrences) AS DOUBLE) AS t FROM counts),
            ranked AS (
              SELECT row_number() OVER w AS rank, word, n_occurrences,
                     CAST(sum(n_occurrences) OVER (w ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
              FROM counts
              WINDOW w AS (ORDER BY n_occurrences DESC, word ASC))
            SELECT rank, word, n_occurrences, round(cum / t, 6) AS cum_share
            FROM ranked, total WHERE rank <= 20
        """,
        "user_first_last_event": """
            SELECT user_id, first_type, last_type, second_type FROM (
              SELECT user_id,
                     first_value(event_type) OVER w AS first_type,
                     last_value(event_type) OVER w AS last_type,
                     nth_value(event_type, 2) OVER w AS second_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING))
            WHERE rn = 1
        """,
        "late_shipment_rate": """
            WITH late AS (
              SELECT DISTINCT l_orderkey
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) > 90)
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                   CAST(round(CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                                            THEN CAST(1 AS DOUBLE)
                                            ELSE CAST(0 AS DOUBLE) END)
                                   / count(*) AS DECIMAL(18,6)), 4) AS DOUBLE)
                     AS late_rate
            FROM orders LEFT JOIN late ON o_orderkey = l_orderkey
            GROUP BY 1
        """,
        "nation_year_profit": """
            SELECT n_name AS nation, year(l_shipdate) AS o_year,
                   round(sum(l_extendedprice
                             * (CAST(1 AS DOUBLE) - l_discount)
                             - CAST(0.6 AS DOUBLE) * p_retailprice
                               * l_quantity), 2) AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "small_quantity_revenue": """
            WITH thr AS (
              SELECT p_partkey,
                     round(CAST(0.5 AS DOUBLE) * avg(l_quantity), 6) AS t
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#1'
              GROUP BY 1)
            SELECT round(sum(l_extendedprice) / CAST(7.0 AS DOUBLE), 2)
                     AS avg_yearly
            FROM lineitem JOIN thr ON l_partkey = thr.p_partkey
            WHERE l_quantity < t
        """,
        "sole_late_supplier": """
            WITH lo AS (
              SELECT o_orderkey, l_suppkey,
                     datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) > 90 AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            per_order AS (
              SELECT o_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN late THEN l_suppkey END)
                       AS n_late,
                     max(CASE WHEN late THEN l_suppkey END) AS sole
              FROM lo GROUP BY 1),
            sole_rows AS (
              SELECT sole AS l_suppkey FROM per_order
              WHERE n_supp >= 2 AND n_late = 1),
            counts AS (
              SELECT s_name, count(*) AS numwait
              FROM sole_rows JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1)
            SELECT s_name, numwait FROM counts
            ORDER BY numwait DESC, s_name ASC LIMIT 10
        """,
        "nation_pair_trade": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(o_orderdate) AS o_year,
                   round(sum(l_extendedprice
                             * (CAST(1 AS DOUBLE) - l_discount)), 2) AS volume
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE sn.n_name IN ('NATION_1', 'NATION_2')
              AND cn.n_name IN ('NATION_1', 'NATION_2')
              AND sn.n_name <> cn.n_name
            GROUP BY 1, 2, 3
        """,
        "order_count_distribution": """
            WITH per_cust AS (
              SELECT c_custkey, count(o_orderkey) AS n_orders
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY 1)
            SELECT n_orders, count(*) AS n_customers
            FROM per_cust GROUP BY 1
        """,
        "large_volume_orders": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY 1
              HAVING sum(l_quantity) > 250)
            SELECT c_name, o_orderkey,
                   CAST(o_orderdate AS DATE) AS order_date,
                   round(o_totalprice, 2) AS total_price,
                   CAST(total_qty AS DOUBLE) AS total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_price DESC, o_orderkey ASC LIMIT 20
        """,
        "top_supplier_per_quarter": """
            WITH per AS (
              SELECT concat(CAST(year(o_orderdate) AS VARCHAR), '-Q',
                            CAST(quarter(o_orderdate) AS VARCHAR)) AS quarter,
                     l_suppkey,
                     round(sum(l_extendedprice
                               * (CAST(1 AS DOUBLE) - l_discount)), 2)
                       AS supp_rev
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT quarter, l_suppkey AS top_suppkey, supp_rev AS top_rev
            FROM per
            QUALIFY row_number() OVER (PARTITION BY quarter
                                       ORDER BY supp_rev DESC,
                                                l_suppkey ASC) = 1
        """,
        "disjunctive_branch_revenue": """
            WITH j AS (
              SELECT p_brand, p_size, l_quantity,
                     l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey),
            b AS (
              SELECT CASE WHEN p_brand = 'Brand#2' AND p_size <= 10
                               AND l_quantity >= 10 THEN 'branch1'
                          ELSE 'branch2' END AS branch, rev
              FROM j
              WHERE (p_brand = 'Brand#2' AND p_size <= 10 AND l_quantity >= 10)
                 OR (p_brand = 'Brand#15' AND p_size <= 20 AND l_quantity >= 20))
            SELECT branch, count(*) AS n_lines, round(sum(rev), 2) AS revenue
            FROM b GROUP BY 1
        """,
        "promo_revenue_share": """
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   CAST(round(CAST(CAST(100 AS DOUBLE)
                                   * sum(l_extendedprice
                                         * (CAST(1 AS DOUBLE) - l_discount)
                                         * CAST(p_type = 'PROMO' AS DOUBLE))
                                   / sum(l_extendedprice
                                         * (CAST(1 AS DOUBLE) - l_discount))
                                   AS DECIMAL(18,6)), 4) AS DOUBLE)
                     AS promo_pct,
                   round(sum(l_extendedprice
                             * (CAST(1 AS DOUBLE) - l_discount)), 2)
                     AS total_rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "dormant_high_balance": """
            WITH cust AS (
              SELECT c_custkey, c_acctbal, n_name FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')),
            thr AS (
              SELECT avg(c_acctbal) AS t FROM cust WHERE c_acctbal > 0)
            SELECT n_name, count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM cust, thr
            WHERE c_acctbal > t
              AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderdate >= TIMESTAMP '2001-01-01')
            GROUP BY 1
        """,
        "nation_market_share": """
            WITH cust AS (
              SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'),
            supp AS (
              SELECT s_suppkey, n_name AS supp_nation FROM supplier
              JOIN nation ON s_nationkey = n_nationkey),
            vol AS (
              SELECT year(o_orderdate) AS o_year,
                     l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                       AS volume,
                     CAST(supp_nation = 'NATION_1' AS DOUBLE) AS is_target
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN cust ON o_custkey = c_custkey
              JOIN supp ON l_suppkey = s_suppkey)
            SELECT o_year,
                   CAST(round(CAST(sum(volume * is_target) / sum(volume)
                                   AS DECIMAL(18,6)), 4) AS DOUBLE)
                     AS mkt_share,
                   round(sum(volume), 2) AS total_volume
            FROM vol GROUP BY 1 ORDER BY 1
        """,
        "time_to_purchase": """
            WITH v AS (
              SELECT user_id, min(epoch_us(ts)) AS v_us
              FROM events WHERE event_type = 'view' GROUP BY 1),
            d AS (
              SELECT v.user_id,
                     (min(epoch_us(p.ts)) - min(v.v_us))
                       / CAST(3600000000 AS DOUBLE) AS delay_h
              FROM v JOIN events p
                ON p.user_id = v.user_id
               AND p.event_type = 'purchase'
               AND epoch_us(p.ts) > v.v_us
              GROUP BY v.user_id)
            SELECT count(*) AS n_converted,
                   round(quantile_cont(delay_h, 0.5), 2) AS p50_h,
                   round(quantile_cont(delay_h, 0.9), 2) AS p90_h,
                   round(max(delay_h), 2) AS max_h
            FROM d
        """,
        "event_lateness_report": """
            WITH l AS (
              SELECT greatest(0, max(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - epoch_us(ts)) / CAST(1000000 AS DOUBLE) AS late_s
              FROM events)
            SELECT count(*) AS n_events,
                   CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_late,
                   round(avg(late_s), 2) AS avg_late_s,
                   round(quantile_cont(late_s, 0.95), 2) AS p95_late_s,
                   round(max(late_s), 2) AS max_late_s
            FROM l
        """,
        "session_type_cooccurrence": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS session_start
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sessions AS (
              SELECT user_id, event_type,
                     sum(session_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged),
            items AS (
              SELECT DISTINCT user_id, session_id, event_type FROM sessions)
            SELECT a.event_type AS item_a, b.event_type AS item_b,
                   count(*) AS pair_count
            FROM items a JOIN items b
              ON a.user_id = b.user_id AND a.session_id = b.session_id
             AND a.event_type < b.event_type
            GROUP BY 1, 2
            ORDER BY pair_count DESC, item_a ASC, item_b ASC
        """,
        "decayed_engagement": f"""
            WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events)
            SELECT user_id,
                   round(sum(coalesce(value, CAST(0 AS DOUBLE))
                             * exp(-{_DECAY_7D!r}
                                   * datediff('day', CAST(ts AS DATE), r))), 2)
                     AS decayed_score
            FROM events, ref
            GROUP BY user_id
            ORDER BY decayed_score DESC, user_id ASC LIMIT 20
        """,
        "weekly_active_users": """
            WITH pairs AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
            spine AS (SELECT DISTINCT d AS day FROM pairs)
            SELECT s.day AS event_date,
                   count(DISTINCT p.user_id) AS wau
            FROM spine s JOIN pairs p
              ON datediff('day', p.d, s.day) >= 0
             AND datediff('day', p.d, s.day) < 7
            GROUP BY 1
        """,
        "quality_budget_select": """
            WITH s AS (
              SELECT doc_id, source, n_chars,
                     round(0.3 * least(
                             CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                                  AS DOUBLE) / 100.0, 1.0)
                           + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                                    / greatest(length(text), 1))
                           + 0.3 * (1.0 - least(
                               (length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                                / greatest(length(text), 1)) * 10.0, 1.0)), 4)
                       AS quality_score
              FROM documents),
            r AS (
              SELECT *, sum(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY quality_score DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM s)
            SELECT doc_id, source, n_chars, quality_score
            FROM r WHERE cum <= CAST(3000 AS DOUBLE)
        """,
        "weekday_adjusted_anomaly": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events
              FROM events GROUP BY 1),
            d AS (
              SELECT event_date, n_events, isodow(event_date) AS iso_dow
              FROM daily),
            z AS (
              SELECT event_date, n_events, iso_dow,
                     CASE WHEN stddev(n_events) OVER w > 0 THEN
                       round((n_events - avg(n_events) OVER w)
                             / stddev(n_events) OVER w, 4) + CAST(0 AS DOUBLE)
                     END AS weekday_z
              FROM d
              WINDOW w AS (PARTITION BY iso_dow))
            SELECT event_date, n_events, iso_dow, weekday_z,
                   abs(weekday_z) > CAST(2 AS DOUBLE) AS is_anomaly
            FROM z
        """,
        "orders_table_profile": """
            SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                   count(*) - count(o_orderkey) AS n_nulls,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
                   count(DISTINCT o_orderdate),
                   CAST(min(o_orderdate) AS VARCHAR),
                   CAST(max(o_orderdate) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
                   count(DISTINCT o_orderpriority),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR)
            FROM orders
        """,
        "rolling_7day_median_revenue": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS order_date,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY 1)
            SELECT order_date, revenue,
                   median(revenue) OVER (
                     ORDER BY datediff('day', DATE '1970-01-01', order_date)
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                     AS revenue_med_7day
            FROM daily
        """,
        "cdc_orders_snapshot": """
            WITH base AS (
              SELECT o_orderkey, o_totalprice,
                     CAST(NULL AS BIGINT) AS seq, 'I' AS op
              FROM orders),
            changes AS (
              SELECT o_orderkey,
                     o_totalprice + CAST(10 AS DOUBLE) AS o_totalprice,
                     2 AS seq, 'U' AS op
              FROM orders WHERE o_custkey % 7 = 0
              UNION ALL
              SELECT o_orderkey, o_totalprice, 3, 'D'
              FROM orders WHERE o_custkey % 13 = 0
              UNION ALL
              SELECT o_orderkey + 100000000, o_totalprice, 1, 'I'
              FROM orders),
            u AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY o_orderkey
                       ORDER BY seq DESC NULLS LAST, op DESC) AS rn
              FROM u)
            SELECT o_orderkey, round(o_totalprice, 2) AS total_price
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "daily_value_interp": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS event_date,
                     CAST(round(CAST(avg(value) AS DECIMAL(18,6)), 2) AS DOUBLE)
                       AS avg_value
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            bounds AS (
              SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
              FROM events),
            spine AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
                       AS event_date
              FROM bounds),
            dense AS (
              SELECT s.event_date, d.avg_value,
                     datediff('day', DATE '1970-01-01', s.event_date) AS x
              FROM spine s LEFT JOIN daily d ON s.event_date = d.event_date),
            f AS (
              SELECT event_date, avg_value, x,
                     last_value(avg_value IGNORE NULLS) OVER wp AS pv,
                     last_value(CASE WHEN avg_value IS NOT NULL THEN x END
                                IGNORE NULLS) OVER wp AS px,
                     first_value(avg_value IGNORE NULLS) OVER wn AS nv,
                     first_value(CASE WHEN avg_value IS NOT NULL THEN x END
                                 IGNORE NULLS) OVER wn AS nx
              FROM dense
              WINDOW wp AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW),
                     wn AS (ORDER BY x ROWS BETWEEN CURRENT ROW
                                              AND UNBOUNDED FOLLOWING))
            SELECT event_date, avg_value,
                   CASE WHEN avg_value IS NOT NULL THEN avg_value
                        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                          floor((pv + (nv - pv) * ((x - px) / (nx - px)))
                                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                            / CAST(10000 AS DOUBLE)
                        WHEN pv IS NOT NULL THEN pv
                        ELSE nv END AS avg_value_interp
            FROM f
        """,
        "purchase_view_coincidence": """
            WITH p AS (
              SELECT event_id AS purchase_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'),
            v AS (
              SELECT epoch_us(ts) AS vus FROM events WHERE event_type = 'view')
            SELECT purchase_id, count(*) AS n_views_10m
            FROM p JOIN v ON vus < pus AND vus >= pus - 600000000
            GROUP BY 1
        """,
        "key_skew_report": """
            WITH counts AS (
              SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
            totals AS (
              SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                     count(*) AS n_keys
              FROM counts)
            SELECT user_id, n_rows,
                   floor(CAST(n_rows AS DOUBLE) / total * 1e6 + 0.5) / 1e6
                     AS pct_of_total,
                   floor(CAST(n_rows AS DOUBLE) * n_keys / total * 100 + 0.5) / 100
                     AS skew_ratio
            FROM counts, totals
            ORDER BY n_rows DESC, user_id ASC LIMIT 10
        """,
        "measure_corr_matrix": """
            SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                   CAST(round(corr(l_quantity, l_extendedprice), 6) + 0.0
                        AS DOUBLE) AS corr_value FROM lineitem
            UNION ALL
            SELECT 'l_quantity', 'l_discount',
                   CAST(round(corr(l_quantity, l_discount), 6) + 0.0 AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', 'l_tax',
                   CAST(round(corr(l_quantity, l_tax), 6) + 0.0 AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'l_discount',
                   CAST(round(corr(l_extendedprice, l_discount), 6) + 0.0
                        AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'l_tax',
                   CAST(round(corr(l_extendedprice, l_tax), 6) + 0.0 AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', 'l_tax',
                   CAST(round(corr(l_discount, l_tax), 6) + 0.0 AS DOUBLE)
            FROM lineitem
            ORDER BY col_x, col_y
        """,
        "scd2_point_in_time": """
            SELECT c_custkey, DATE '2024-01-15' AS as_of,
                   round(c_acctbal, 2) AS c_acctbal
            FROM customer
            UNION ALL
            SELECT c_custkey, DATE '2024-02-15' AS as_of,
                   round(CASE WHEN c_custkey % 10 = 0
                              THEN c_acctbal + 100.0
                              ELSE c_acctbal END, 2) AS c_acctbal
            FROM customer
        """,
        "region_balance_boxplot": _BOXPLOT_SQL.format(
            cust="customer", nat="nation", reg="region"
        ),
        "event_association_rules": """
            WITH bi AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
              FROM events),
            n AS (
              SELECT CAST(count(*) AS DOUBLE) AS nb
              FROM (SELECT DISTINCT user_id, d FROM bi)),
            ic AS (
              SELECT event_type, count(*) AS n_item FROM bi GROUP BY 1),
            pairs AS (
              SELECT a.event_type AS antecedent,
                     b.event_type AS consequent,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM bi a JOIN bi b
                ON a.user_id = b.user_id AND a.d = b.d
               AND a.event_type <> b.event_type
              GROUP BY 1, 2)
            SELECT antecedent, consequent, n_ab,
                   round(CAST(n_ab AS DOUBLE) / nb, 6) AS support,
                   round(CAST(n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE), 6)
                     AS confidence,
                   round(CAST(n_ab AS DOUBLE) * nb
                         / CAST(na.n_item * nc.n_item AS DOUBLE), 6) AS lift
            FROM pairs
            CROSS JOIN n
            JOIN ic na ON na.event_type = pairs.antecedent
            JOIN ic nc ON nc.event_type = pairs.consequent
            ORDER BY 1, 2
        """,
        "daily_revenue_acf": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(floor(round(coalesce(sum(value),
                                               CAST(0.0 AS DOUBLE)), 2) * 100
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            lagged AS (
              SELECT cents,
                     lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
                     lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4,
                     lag(cents, 5) OVER w AS l5, lag(cents, 6) OVER w AS l6,
                     lag(cents, 7) OVER w AS l7
              FROM daily WINDOW w AS (ORDER BY day)),
            a AS (
              SELECT CAST(round(corr(cents, l1), 6) + 0.0 AS DOUBLE) AS c1,
                     CAST(round(corr(cents, l2), 6) + 0.0 AS DOUBLE) AS c2,
                     CAST(round(corr(cents, l3), 6) + 0.0 AS DOUBLE) AS c3,
                     CAST(round(corr(cents, l4), 6) + 0.0 AS DOUBLE) AS c4,
                     CAST(round(corr(cents, l5), 6) + 0.0 AS DOUBLE) AS c5,
                     CAST(round(corr(cents, l6), 6) + 0.0 AS DOUBLE) AS c6,
                     CAST(round(corr(cents, l7), 6) + 0.0 AS DOUBLE) AS c7
              FROM lagged)
            SELECT 1 AS lag, c1 AS acf FROM a
            UNION ALL SELECT 2, c2 FROM a
            UNION ALL SELECT 3, c3 FROM a
            UNION ALL SELECT 4, c4 FROM a
            UNION ALL SELECT 5, c5 FROM a
            UNION ALL SELECT 6, c6 FROM a
            UNION ALL SELECT 7, c7 FROM a
            ORDER BY lag
        """,
        "seasonal_naive_backtest": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(floor(round(coalesce(sum(value),
                                               CAST(0.0 AS DOUBLE)), 2) * 100
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            joined AS (
              SELECT a.cents, f.cents AS forecast
              FROM daily a JOIN daily f ON a.day = f.day + 7
              WHERE a.cents > 0)
            SELECT CAST(count(*) AS BIGINT) AS n_days,
                   CAST(round(CAST(avg(CAST(abs(cents - forecast) AS DOUBLE))
                                   AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS mae_cents,
                   CAST(round(CAST(avg(CAST(abs(cents - forecast) AS DOUBLE)
                                       / CAST(cents AS DOUBLE))
                                   AS DECIMAL(18,6)), 6) AS DOUBLE) AS mape
            FROM joined
        """,
        "ship_business_days": """
            WITH spans AS (
              SELECT o_orderpriority, l_orderkey, l_linenumber,
                     unnest(generate_series(o_orderdate, l_shipdate,
                                            INTERVAL 1 DAY))::DATE AS d
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_shipdate >= o_orderdate),
            per_line AS (
              SELECT o_orderpriority, l_orderkey, l_linenumber,
                     sum(CASE WHEN isodow(d) <= 5 THEN 1 ELSE 0 END) AS bd
              FROM spans GROUP BY 1, 2, 3)
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(round(CAST(avg(bd) AS DECIMAL(18,6)), 4) AS DOUBLE)
                     AS avg_business_days,
                   CAST(max(bd) AS BIGINT) AS max_business_days
            FROM per_line GROUP BY 1 ORDER BY 1
        """,
        "ks_test_order_values": """
            WITH per_val AS (
              SELECT o_totalprice AS v,
                     CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                              THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
                     CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                              THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY 1),
            cum AS (
              SELECT sum(na_v) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
                     sum(nb_v) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum_b
              FROM per_val),
            tot AS (
              SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
                     CAST(sum(nb_v) AS BIGINT) AS n_b
              FROM per_val),
            agg AS (
              -- HUGEINT numerator (mirrors Spark's DECIMAL(38,0)):
              -- cum*n overflows int64 at the 100 TB posture
              SELECT CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
                                  - CAST(cum_b AS HUGEINT) * n_a))
                          AS HUGEINT) AS d_num,
                     max(n_a) AS n_a, max(n_b) AS n_b
              FROM cum CROSS JOIN tot)
            SELECT n_a, n_b,
                   round(CAST(d_num AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
                     AS ks_d,
                   round(CAST(d_num AS DOUBLE)
                         / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                                * (CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE))), 4) AS ks_z
            FROM agg
        """,
        "theilsen_revenue_trend": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS day,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS cents
              FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
            pairs AS (
              SELECT CAST(b.cents - a.cents AS DOUBLE)
                     / CAST(date_diff('day', a.day, b.day) * 100 AS DOUBLE)
                       AS slope
              FROM daily a JOIN daily b ON a.day < b.day),
            med AS (
              SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                     round(quantile_cont(slope, 0.5), 6)
                       + CAST(0.0 AS DOUBLE) AS ts_slope
              FROM pairs),
            fit AS (
              SELECT CAST(count(*) AS BIGINT) AS n_days,
                     round(regr_slope(
                         CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE),
                         CAST(date_diff('day', DATE '1995-01-01', day)
                              AS DOUBLE)), 6)
                       + CAST(0.0 AS DOUBLE) AS ols_slope
              FROM daily)
            SELECT n_days, n_pairs, ts_slope, ols_slope
            FROM fit CROSS JOIN med
        """,
        "spearman_price_qty": """
            WITH pv AS (
              SELECT l_extendedprice, CAST(count(*) AS BIGINT) AS c
              FROM lineitem GROUP BY 1),
            pr AS (
              SELECT l_extendedprice,
                     CAST(sum(c) OVER (ORDER BY l_extendedprice
                            ROWS UNBOUNDED PRECEDING) - c AS DOUBLE)
                       + (CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE))
                         / CAST(2.0 AS DOUBLE) AS rp
              FROM pv),
            qv AS (
              SELECT l_quantity, CAST(count(*) AS BIGINT) AS c
              FROM lineitem GROUP BY 1),
            qr AS (
              SELECT l_quantity,
                     CAST(sum(c) OVER (ORDER BY l_quantity
                            ROWS UNBOUNDED PRECEDING) - c AS DOUBLE)
                       + (CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE))
                         / CAST(2.0 AS DOUBLE) AS rq
              FROM qv),
            ranked AS (
              SELECT rp, rq
              FROM lineitem
              JOIN pr USING (l_extendedprice)
              JOIN qr USING (l_quantity))
            SELECT CAST(count(*) AS BIGINT) AS n,
                   round(corr(rp, rq), 6) + CAST(0.0 AS DOUBLE)
                     AS spearman_rho
            FROM ranked
        """,
        "kendall_tau_daily": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CASE WHEN event_type = 'view'
                              THEN 1 ELSE 0 END) AS BIGINT) AS views,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS purchases
              FROM events GROUP BY 1),
            p AS (
              SELECT b.views - a.views AS dx,
                     b.purchases - a.purchases AS dy
              FROM daily a JOIN daily b ON a.day < b.day),
            agg AS (
              SELECT CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS concordant,
                     CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS discordant,
                     CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS ties_x,
                     CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS ties_y,
                     CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS ties_xy
              FROM p)
            SELECT concordant, discordant, ties_x, ties_y, ties_xy,
                   round(CAST(concordant - discordant AS DOUBLE)
                         / sqrt(CAST(concordant + discordant + ties_x
                                     AS DOUBLE)
                                * CAST(concordant + discordant + ties_y
                                       AS DOUBLE)), 6)
                     + CAST(0.0 AS DOUBLE) AS kendall_tau_b
            FROM agg
        """,
        "sequential_pattern_support": """
            WITH ev AS (
              SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
              FROM events),
            lvl1 AS (
              SELECT user_id, event_type AS a, min(us) AS ta
              FROM ev GROUP BY 1, 2),
            lvl2 AS (
              SELECT e.user_id, l1.a, e.event_type AS b, min(e.us) AS tb
              FROM ev e JOIN lvl1 l1
                ON e.user_id = l1.user_id AND e.us > l1.ta
              GROUP BY 1, 2, 3),
            hits AS (
              SELECT l2.a, l2.b, e.event_type AS c,
                     CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
              FROM ev e JOIN lvl2 l2
                ON e.user_id = l2.user_id AND e.us > l2.tb
              GROUP BY 1, 2, 3),
            total AS (
              SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                       AS total_users
              FROM ev)
            SELECT a, b, c, n_users, total_users,
                   round(CAST(n_users AS DOUBLE)
                         / CAST(total_users AS DOUBLE), 6) AS support
            FROM hits CROSS JOIN total
            ORDER BY a, b, c
        """,
        "streaming_view_purchase_join": """
            WITH p AS (
              SELECT user_id, event_id AS purchase_id,
                     CAST(ts AS DATE) AS purchase_date,
                     epoch_ns(ts) // 1000 AS p_us
              FROM events WHERE event_type = 'purchase'),
            v AS (
              SELECT user_id, epoch_ns(ts) // 1000 AS v_us
              FROM events WHERE event_type = 'view'),
            pairs AS (
              SELECT p.purchase_id, p.purchase_date,
                     p.p_us - v.v_us AS lead_us
              FROM p JOIN v ON p.user_id = v.user_id
               AND v.v_us >= p.p_us - 3600000000
               AND v.v_us < p.p_us)
            SELECT purchase_date,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                   round(CAST(sum(lead_us) AS DOUBLE) / count(*)
                         / CAST(1000000.0 AS DOUBLE), 4) AS avg_lead_seconds
            FROM pairs GROUP BY 1
        """,
        "streaming_sliding_traffic": """
            WITH starts AS (
              SELECT event_type, value,
                     unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                             date_trunc('day', ts)]) AS ws
              FROM events),
            agg AS (
              SELECT ws, event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     round(sum(coalesce(value, CAST(0.0 AS DOUBLE))), 2)
                       AS total_value
              FROM starts GROUP BY 1, 2)
            SELECT CAST(ws AS DATE) AS window_start,
                   CAST(ws + INTERVAL 2 DAY AS DATE) AS window_end,
                   event_type, n_events, total_value
            FROM agg
            WHERE ws + INTERVAL 2 DAY
                    <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
            ORDER BY 1, 3
        """,
        "k_anonymity_customers": """
            WITH classes AS (
              SELECT c_nationkey,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
                     CAST(count(*) AS BIGINT) AS size,
                     CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
              FROM customer GROUP BY 1, 2)
            SELECT CAST(min(size) AS BIGINT) AS k_min,
                   CAST(min(l) AS BIGINT) AS l_min,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(sum(size) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN size < 5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_small_classes,
                   round(CAST(sum(CASE WHEN size < 5 THEN size ELSE 0 END)
                              AS DOUBLE)
                         / CAST(sum(size) AS DOUBLE), 6) AS pct_rows_at_risk
            FROM classes
        """,
        "incremental_join_view": """
            WITH f_old AS (
              SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
            f_delta AS (
              SELECT * FROM orders WHERE o_orderdate >= DATE '1997-01-01'),
            d_old AS (
              SELECT * FROM customer WHERE c_custkey % 20 <> 0),
            d_delta AS (
              SELECT * FROM customer WHERE c_custkey % 20 = 0),
            dv AS (
              SELECT o.o_totalprice, d.c_nationkey
              FROM f_delta o JOIN d_old d ON o.o_custkey = d.c_custkey
              UNION ALL
              SELECT o.o_totalprice, d.c_nationkey
              FROM f_old o JOIN d_delta d ON o.o_custkey = d.c_custkey
              UNION ALL
              SELECT o.o_totalprice, d.c_nationkey
              FROM f_delta o JOIN d_delta d ON o.o_custkey = d.c_custkey)
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(o_totalprice), 2) AS delta_revenue
            FROM dv GROUP BY 1 ORDER BY 1
        """,
        "mann_whitney_order_values": """
            WITH per_val AS (
              SELECT o_totalprice AS v,
                     CAST(sum(CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
                     CAST(sum(CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                   THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
              FROM orders GROUP BY 1),
            contrib AS (
              -- 2U and t³−t in HUGEINT (mirrors Spark's DECIMAL(38,0)):
              -- exact at any scale, doubled to clear the midrank half
              SELECT na_v, nb_v,
                     CAST(na_v AS HUGEINT) * (
                       2 * coalesce(sum(nb_v) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)
                       + nb_v) AS u2,
                     CAST(na_v + nb_v AS HUGEINT)
                       * CAST(na_v + nb_v AS HUGEINT)
                       * CAST(na_v + nb_v AS HUGEINT)
                       - CAST(na_v + nb_v AS HUGEINT) AS t3t
              FROM per_val),
            agg AS (
              SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
                     CAST(sum(nb_v) AS BIGINT) AS n_b,
                     CAST(sum(u2) AS HUGEINT) AS u2s,
                     CAST(sum(t3t) AS HUGEINT) AS t3ts
              FROM contrib),
            f AS (
              SELECT n_a, n_b,
                     CAST(u2s AS DOUBLE) / CAST(2.0 AS DOUBLE) AS u1,
                     CAST(t3ts AS DOUBLE) AS tt,
                     CAST(n_a AS DOUBLE) AS n1, CAST(n_b AS DOUBLE) AS n2
              FROM agg),
            s AS (
              SELECT n_a, n_b, u1,
                     n1 * n2 / CAST(2.0 AS DOUBLE) AS mu,
                     sqrt(n1 * n2 / CAST(12.0 AS DOUBLE)
                          * ((n1 + n2 + CAST(1.0 AS DOUBLE))
                             - tt / ((n1 + n2)
                                     * (n1 + n2 - CAST(1.0 AS DOUBLE)))))
                       AS sig
              FROM f)
            SELECT n_a, n_b,
                   round(u1, 1) AS u_statistic,
                   round(sig, 4) AS sigma_u,
                   CAST(round((u1 - mu) / sig, 4) + 0.0 AS DOUBLE) AS z_score,
                   abs(CAST(round((u1 - mu) / sig, 4) + 0.0 AS DOUBLE))
                     > CAST(1.96 AS DOUBLE) AS significant
            FROM s
        """,
        "chi_square_type_weekday": """
            WITH cells AS (
              SELECT event_type, isodow(ts) AS isodow,
                     CAST(count(*) AS BIGINT) AS o
              FROM events GROUP BY 1, 2),
            grid AS (
              SELECT t.event_type, d.isodow,
                     CAST(coalesce(c.o, 0) AS BIGINT) AS o
              FROM (SELECT DISTINCT event_type FROM cells) t
              CROSS JOIN (SELECT DISTINCT isodow FROM cells) d
              LEFT JOIN cells c USING (event_type, isodow)),
            with_e AS (
              SELECT o,
                     CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
                     * CAST(sum(o) OVER (PARTITION BY isodow) AS DOUBLE)
                     / CAST(sum(o) OVER () AS DOUBLE) AS e
              FROM grid)
            SELECT round(sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
                             / e), 4) AS chi2,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(o) AS BIGINT) AS n_events
            FROM with_e
        """,
        "daily_revenue_decomposition": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(floor(round(coalesce(sum(value),
                                               CAST(0.0 AS DOUBLE)), 2) * 100
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            d2 AS (
              SELECT day, cents,
                     datediff('day', DATE '1970-01-01', day) AS dn,
                     isodow(day) AS isodow
              FROM daily),
            t AS (
              SELECT day, isodow, cents,
                     CASE WHEN count(*) OVER w7 = 7
                          THEN CAST(sum(cents) OVER w7 AS BIGINT)
                     END AS trend7
              FROM d2
              WINDOW w7 AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING
                                               AND 3 FOLLOWING)),
            dt AS (
              SELECT day, isodow, cents, trend7,
                     7 * cents - trend7 AS detr7
              FROM t),
            s AS (
              SELECT day, isodow, cents, trend7, detr7,
                     avg(detr7) OVER (PARTITION BY isodow) AS seas7
              FROM dt)
            SELECT day, isodow,
                   round(CAST(cents AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
                     AS revenue,
                   round(CAST(trend7 AS DOUBLE) / CAST(700.0 AS DOUBLE), 4)
                     AS trend,
                   round(seas7 / CAST(700.0 AS DOUBLE), 4) AS seasonal,
                   round(CAST(detr7 AS DOUBLE) / CAST(700.0 AS DOUBLE)
                         - seas7 / CAST(700.0 AS DOUBLE), 4) AS remainder
            FROM s ORDER BY day
        """,
        "top_nations_with_other": """
            WITH per_nation AS (
              SELECT r_name, n_name, round(sum(o_totalprice), 2) AS rev
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY 1, 2),
            bucketed AS (
              SELECT r_name, rev,
                     CASE WHEN row_number() OVER (
                            PARTITION BY r_name
                            ORDER BY rev DESC, n_name ASC) <= 3
                          THEN n_name ELSE 'OTHER' END AS nation_bucket
              FROM per_nation)
            SELECT r_name AS region, nation_bucket,
                   round(sum(rev), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_nations
            FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "purchase_survival_km": """
            WITH per_user AS (
              SELECT user_id,
                     min(CAST(ts AS DATE)) AS f,
                     max(CAST(ts AS DATE)) AS l,
                     min(CASE WHEN event_type = 'purchase'
                              THEN CAST(ts AS DATE) END) AS p
              FROM events GROUP BY 1),
            durations AS (
              SELECT coalesce(datediff('day', f, p), datediff('day', f, l))
                       AS t,
                     (p IS NOT NULL) AS observed
              FROM per_user),
            risk AS (
              SELECT t,
                     CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                       AS d,
                     CAST(count(*) AS BIGINT) AS exits
              FROM durations GROUP BY 1),
            with_n AS (
              SELECT t, d,
                     CAST(sum(exits) OVER (ORDER BY t
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING) AS BIGINT)
                       AS n_at_risk
              FROM risk),
            terms AS (
              SELECT t, d, n_at_risk,
                     CASE WHEN d < n_at_risk
                          THEN ln(CAST(n_at_risk - d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE)) END AS lnterm
              FROM with_n WHERE d > 0)
            SELECT t, d, n_at_risk,
                   CASE WHEN max(CASE WHEN lnterm IS NULL THEN 1 ELSE 0 END)
                             OVER upto = 1
                        THEN CAST(0.0 AS DOUBLE)
                        ELSE round(exp(sum(lnterm) OVER upto), 6)
                   END AS survival
            FROM terms
            WINDOW upto AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)
            ORDER BY t
        """,
        "ab_test_report": """
            WITH per_user AS (
              SELECT user_id,
                     CASE WHEN min(CASE WHEN event_type = 'purchase'
                                        THEN ts END)
                               <= min(ts) + INTERVAL 3 DAY
                          THEN 1 ELSE 0 END AS conv
              FROM events GROUP BY 1),
            agg AS (
              SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_b,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
                          AS BIGINT) AS conv_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
                          AS BIGINT) AS conv_b
              FROM per_user),
            zc AS (
              SELECT n_a, n_b, conv_a, conv_b,
                     CAST(round(
                       (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                        - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                       / sqrt(
                           (CAST(conv_a + conv_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE)
                              - CAST(conv_a + conv_b AS DOUBLE)
                                / CAST(n_a + n_b AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                              + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))),
                       4) + CAST(0.0 AS DOUBLE) AS DOUBLE) AS z
              FROM agg)
            SELECT n_a, n_b, conv_a, conv_b,
                   round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
                     AS rate_a,
                   round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
                     AS rate_b,
                   z AS z_score,
                   abs(z) > CAST(1.96 AS DOUBLE) AS significant
            FROM zc
        """,
        "touch_attribution": """
            WITH seq AS (
              SELECT event_type, value,
                     first_value(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS first_touch,
                     coalesce(
                       last_value(CASE WHEN event_type <> 'purchase'
                                       THEN event_type END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING),
                       'none') AS last_touch
              FROM events)
            SELECT first_touch, last_touch,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   round(sum(coalesce(value, CAST(0.0 AS DOUBLE))), 2)
                     AS attributed_value
            FROM seq WHERE event_type = 'purchase'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "winsorized_order_stats": """
            WITH th AS (
              SELECT round(quantile_cont(o_totalprice, 0.05), 6) AS lo,
                     round(quantile_cont(o_totalprice, 0.95), 6) AS hi
              FROM orders)
            SELECT round(lo, 2) AS p05, round(hi, 2) AS p95,
                   CAST(round(CAST(avg(least(greatest(o_totalprice, lo), hi))
                                   AS DECIMAL(18,6)), 2) AS DOUBLE)
                     AS winsorized_mean,
                   CAST(round(CAST(stddev_samp(
                          least(greatest(o_totalprice, lo), hi))
                                   AS DECIMAL(18,6)), 2) AS DOUBLE)
                     + CAST(0.0 AS DOUBLE) AS winsorized_std,
                   CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clamped_low,
                   CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clamped_high
            FROM orders, th
            GROUP BY lo, hi
        """,
        "token_pmi": """
            WITH words AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS word
              FROM documents),
            dw AS (
              SELECT DISTINCT doc_id, word FROM words WHERE word <> ''),
            dfc AS (
              SELECT word, count(*) AS df FROM dw GROUP BY 1),
            kept AS (
              SELECT dw.doc_id, dw.word FROM dw
              JOIN dfc USING (word) WHERE df >= 5
              QUALIFY row_number() OVER (PARTITION BY dw.doc_id
                                         ORDER BY dw.word) <= 64),
            pairs AS (
              SELECT a.word AS word_a, b.word AS word_b,
                     CAST(count(*) AS BIGINT) AS n_pair
              FROM kept a JOIN kept b
                ON a.doc_id = b.doc_id AND a.word < b.word
              GROUP BY 1, 2
              HAVING count(*) >= 5),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT word_a, word_b, n_pair,
                   round(ln(CAST(n_pair AS DOUBLE) * CAST(n_docs AS DOUBLE)
                            / CAST(dfa.df * dfb.df AS DOUBLE)), 4) AS pmi
            FROM pairs
            CROSS JOIN n
            JOIN dfc dfa ON dfa.word = pairs.word_a
            JOIN dfc dfb ON dfb.word = pairs.word_b
            ORDER BY pmi DESC, word_a ASC, word_b ASC
            LIMIT 20
        """,
    }
    sql["haar_revenue_wavelet"] = (
        """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE)
                   - (SELECT min(CAST(o_orderdate AS DATE)) FROM orders)
                   AS i,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1)
        SELECT * FROM (
        """
        + "\nUNION ALL\n".join(
            f"""
            SELECT {k} AS level,
                   CAST(count(*) AS BIGINT) AS n_nonzero_pairs,
                   CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT)
                        AS VARCHAR) AS energy_cents2
            FROM (
              SELECT b // 2 AS p,
                     CAST(sum(CASE WHEN b % 2 = 0 THEN s ELSE -s END)
                          AS BIGINT) AS d
              FROM (
                SELECT i // {1 << (k - 1)} AS b,
                       CAST(sum(cents) AS BIGINT) AS s
                FROM daily GROUP BY 1)
              GROUP BY 1)
            """
            for k in range(1, 9)
        )
        + ") ORDER BY level"
    )
    sql["cuped_adjusted_ab"] = """
        WITH cut AS (
          SELECT CAST(min(ts) AS DATE) + 15 AS cut FROM events),
        per_user AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN CAST(ts AS DATE) < c.cut
                               THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN CAST(ts AS DATE) >= c.cut
                               THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events, cut c GROUP BY user_id),
        means AS (SELECT avg(x) AS mx, avg(y) AS my FROM per_user),
        stats AS (
          SELECT sum((u.x - m.mx) * (u.x - m.mx)) AS sxx,
                 sum((u.x - m.mx) * (u.y - m.my)) AS sxy,
                 sum((u.y - m.my) * (u.y - m.my)) AS syy,
                 any_value(m.mx) AS mx
          FROM per_user u, means m),
        par AS (
          SELECT sxy / sxx AS theta,
                 sxy * sxy / (sxx * syy) AS rho2, mx
          FROM stats)
        SELECT user_id % 2 AS variant,
               CAST(count(*) AS BIGINT) AS n_users,
               round(avg(CAST(y AS DOUBLE)), 4) + CAST(0.0 AS DOUBLE)
                 AS mean_y,
               round(avg(CAST(y AS DOUBLE)
                         - p.theta * (CAST(x AS DOUBLE) - p.mx)), 4)
                 + CAST(0.0 AS DOUBLE) AS mean_y_cuped,
               round(any_value(p.theta), 6) + CAST(0.0 AS DOUBLE) AS theta,
               round(any_value(p.rho2), 6) + CAST(0.0 AS DOUBLE)
                 AS var_reduction
        FROM per_user, par p
        GROUP BY 1 ORDER BY 1
    """
    sql["circadian_profile"] = """
        WITH ang AS (
          SELECT event_type,
                 CAST(epoch_us(ts) % 86400000000 AS DOUBLE)
                   * CAST('6.283185307179586' AS DOUBLE)
                   / CAST(86400000000 AS DOUBLE) AS a
          FROM events),
        agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(cos(a)) AS c, sum(sin(a)) AS s
          FROM ang GROUP BY 1)
        , hr AS (
          SELECT event_type, n, c, s,
                 round(((atan2(s, c) + CAST('6.283185307179586' AS DOUBLE))
                        % CAST('6.283185307179586' AS DOUBLE))
                       * CAST(24 AS DOUBLE)
                       / CAST('6.283185307179586' AS DOUBLE), 2) AS h
          FROM agg)
        SELECT event_type, n,
               (CASE WHEN h >= CAST(24 AS DOUBLE)
                     THEN h - CAST(24 AS DOUBLE) ELSE h END)
                 + CAST(0.0 AS DOUBLE) AS peak_hour_utc,
               round(sqrt(c * c + s * s) / CAST(n AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS resultant_r
        FROM hr ORDER BY event_type
    """
    sql["peak_concurrency_daily"] = """
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        lagged AS (
          SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS prev_us
          FROM ev),
        flagged AS (
          SELECT user_id, us,
                 CASE WHEN prev_us IS NULL
                           OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM lagged),
        sess AS (
          SELECT user_id, us,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
          FROM flagged),
        spans AS (
          SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
          FROM sess GROUP BY 1, 2),
        bounds AS (
          SELECT user_id, sid, s_us AS us, 1 AS delta FROM spans
          UNION ALL
          SELECT user_id, sid, e_us, -1 FROM spans),
        rawbound AS (
          SELECT CAST(make_timestamp(us) AS DATE) AS day,
                 us, delta, user_id, sid
          FROM bounds),
        spine AS (
          SELECT unnest(generate_series(min(day), max(day),
                                        INTERVAL 1 DAY)) AS day
          FROM rawbound),
        daybound AS (
          SELECT day, us, delta, user_id, sid FROM rawbound
          UNION ALL
          SELECT CAST(day AS DATE), epoch_us(CAST(day AS TIMESTAMP)),
                 0, -1, -1
          FROM spine),
        day_net AS (
          SELECT day, CAST(sum(delta) AS BIGINT) AS net
          FROM daybound GROUP BY 1),
        carry AS (
          SELECT day,
                 CAST(sum(net) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS BIGINT) AS carry_in
          FROM day_net),
        running AS (
          SELECT b.day,
                 coalesce(c.carry_in, 0)
                   + sum(b.delta) OVER (PARTITION BY b.day
                       ORDER BY b.us, b.delta DESC, b.user_id, b.sid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS active
          FROM daybound b JOIN carry c ON b.day = c.day)
        SELECT day,
               CAST(max(active) AS BIGINT) AS peak_concurrency
        FROM running GROUP BY day ORDER BY day
    """
    sql["conformal_revenue_interval"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        cal AS (
          SELECT abs(d.cents - p.cents) AS ar
          FROM daily d JOIN daily p ON d.day = p.day + 7),
        q AS (
          SELECT CAST(count(*) AS BIGINT) AS n_calib,
                 percentile_disc(0.9) WITHIN GROUP (ORDER BY ar) AS q90
          FROM cal),
        nxt AS (
          SELECT cents AS pred_next FROM daily
          WHERE day = (SELECT max(day) - 6 FROM daily))
        SELECT n_calib,
               round(q90 / CAST(100 AS DOUBLE), 2) AS q90_abs_resid,
               round(pred_next / CAST(100 AS DOUBLE), 2) AS point_forecast,
               round((pred_next - q90) / CAST(100 AS DOUBLE), 2) AS lo,
               round((pred_next + q90) / CAST(100 AS DOUBLE), 2) AS hi
        FROM q, nxt
    """
    sql["brand_price_elasticity"] = """
        WITH rows_ AS (
          SELECT p.p_brand,
                 ln(CAST(l.l_quantity AS DOUBLE)) AS ly,
                 ln(CAST(l.l_extendedprice AS DOUBLE)
                    / CAST(l.l_quantity AS DOUBLE)) AS lx
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
        means AS (
          SELECT p_brand, avg(lx) AS mx, avg(ly) AS my,
                 CAST(count(*) AS BIGINT) AS n
          FROM rows_ GROUP BY 1),
        cs AS (
          SELECT r.p_brand,
                 sum((r.lx - m.mx) * (r.lx - m.mx)) AS sxx,
                 sum((r.lx - m.mx) * (r.ly - m.my)) AS sxy,
                 any_value(m.mx) AS mx, any_value(m.my) AS my,
                 any_value(m.n) AS n
          FROM rows_ r JOIN means m USING (p_brand)
          GROUP BY 1)
        SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
               round(sxy / sxx, 4) + CAST(0.0 AS DOUBLE) AS elasticity,
               round(my - sxy / sxx * mx, 4) + CAST(0.0 AS DOUBLE)
                 AS intercept,
               round(mx, 6) + CAST(0.0 AS DOUBLE) AS mean_ln_price
        FROM cs ORDER BY p_brand
    """
    periods_values = ", ".join(f"({p})" for p in _PERIODOGRAM_PERIODS)
    sql["revenue_periodogram"] = f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        stats AS (
          SELECT min(day) AS d0,
                 CAST(sum(cents) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n
          FROM daily),
        base AS (
          SELECT day - d0 AS i,
                 CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE)
                   - CAST(tot AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)) AS dev,
                 CAST(n AS DOUBLE) AS nd
          FROM daily, stats),
        per AS (
          SELECT i, dev, nd, p,
                 CAST(i % p AS DOUBLE)
                   * CAST('6.283185307179586' AS DOUBLE)
                   / CAST(p AS DOUBLE) AS theta
          FROM base, (VALUES {periods_values}) t(p)),
        agg AS (
          SELECT p, sum(dev * cos(theta)) AS c, sum(dev * sin(theta)) AS s,
                 sum(dev * dev) AS ss, max(nd) AS nd
          FROM per GROUP BY 1)
        SELECT p AS period,
               round(CAST(2 AS DOUBLE) * (c * c + s * s) / (nd * ss), 6)
                 + CAST(0 AS DOUBLE) AS power_share,
               round(CAST(2 AS DOUBLE) * sqrt(c * c + s * s) / nd, 2)
                 + CAST(0 AS DOUBLE) AS amplitude_usd
        FROM agg ORDER BY period
    """
    sql["mann_kendall_trend"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        s AS (
          SELECT CAST(sum(sign(b.cents - a.cents)) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b ON a.day < b.day),
        ties AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
          FROM (SELECT CAST(count(*) AS BIGINT) AS t
                FROM daily GROUP BY cents)),
        v AS (
          SELECT n_days, s_stat,
                 CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                      AS DOUBLE) / CAST(18.0 AS DOUBLE) AS var_s
          FROM ties CROSS JOIN s)
        SELECT n_days, s_stat, var_s,
               round(CASE WHEN s_stat > 0
                          THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                          WHEN s_stat < 0
                          THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                          ELSE CAST(0.0 AS DOUBLE) END, 6)
                 + CAST(0.0 AS DOUBLE) AS z_stat
        FROM v
    """
    sql["binseg_changepoints"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        indexed AS (
          SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
                 day, cents
          FROM daily),
        l1 AS (
          SELECT idx,
                 CAST(sum(cents) OVER (ORDER BY idx
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(row_number() OVER (ORDER BY idx) AS BIGINT) AS k,
                 CAST(sum(cents) OVER () AS BIGINT) AS tot,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM indexed),
        g1 AS (
          SELECT idx,
                 CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE)
                   / CAST(k AS DOUBLE)
                 + CAST(tot - cum AS DOUBLE) * CAST(tot - cum AS DOUBLE)
                   / CAST(n - k AS DOUBLE)
                 - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
                   / CAST(n AS DOUBLE) AS gain
          FROM l1 WHERE k < n),
        b1 AS (
          SELECT idx AS cp_idx, gain FROM g1
          ORDER BY gain DESC, idx ASC LIMIT 1),
        assigned AS (
          SELECT i.idx, i.cents,
                 CASE WHEN i.idx > b1.cp_idx THEN 1 ELSE 0 END AS seg
          FROM indexed i CROSS JOIN b1),
        l2 AS (
          SELECT seg, idx,
                 CAST(sum(cents) OVER (PARTITION BY seg ORDER BY idx
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(row_number() OVER (PARTITION BY seg ORDER BY idx)
                      AS BIGINT) AS k,
                 CAST(sum(cents) OVER (PARTITION BY seg) AS BIGINT) AS tot,
                 CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
          FROM assigned),
        g2 AS (
          SELECT seg, idx,
                 CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE)
                   / CAST(k AS DOUBLE)
                 + CAST(tot - cum AS DOUBLE) * CAST(tot - cum AS DOUBLE)
                   / CAST(n - k AS DOUBLE)
                 - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
                   / CAST(n AS DOUBLE) AS gain
          FROM l2 WHERE k < n),
        b2 AS (
          SELECT seg, idx AS cp_idx, gain,
                 row_number() OVER (PARTITION BY seg
                                    ORDER BY gain DESC, idx ASC) AS r
          FROM g2 QUALIFY r = 1),
        splits AS (
          SELECT 1 AS level, 0 AS seg, cp_idx, gain FROM b1
          UNION ALL
          SELECT 2 AS level, seg, cp_idx, gain FROM b2)
        SELECT s.level, s.seg, d.day AS cp_day,
               round(s.gain / CAST(10000.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS gain_usd2
        FROM splits s JOIN indexed d ON d.idx = s.cp_idx
        ORDER BY s.level, s.seg
    """
    sql["hurst_rs_daily"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        indexed AS (
          SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i,
                 cents
          FROM daily),
        sizes AS (
          SELECT unnest(generate_series(CAST(3 AS BIGINT),
                                        CAST(6 AS BIGINT))) AS e),
        blocks AS (
          SELECT CAST(1 << e AS BIGINT) AS b, e,
                 CAST(i // (1 << e) AS BIGINT) AS blk,
                 CAST(i % (1 << e) + 1 AS BIGINT) AS k,
                 cents
          FROM indexed CROSS JOIN sizes),
        st AS (
          SELECT b, blk, k, cents,
                 CAST(sum(cents) OVER (PARTITION BY b, blk ORDER BY k
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(sum(cents) OVER (PARTITION BY b, blk) AS BIGINT)
                   AS tot,
                 CAST(count(*) OVER (PARTITION BY b, blk) AS BIGINT) AS n
          FROM blocks),
        per_block AS (
          SELECT b, blk,
                 CAST(max(b * cum - k * tot) - min(b * cum - k * tot)
                      AS DOUBLE) / CAST(max(b) AS DOUBLE) AS r,
                 sqrt(sum(CAST(b * cents - tot AS DOUBLE)
                          * CAST(b * cents - tot AS DOUBLE))
                      / (CAST(max(b) AS DOUBLE) * CAST(max(b) AS DOUBLE)
                         * CAST(max(b) AS DOUBLE))) AS s
          FROM st WHERE n = b GROUP BY b, blk),
        per_b AS (
          SELECT b, CAST(count(*) AS BIGINT) AS n_blocks,
                 round(avg(log2(r / s)), 4) + CAST(0.0 AS DOUBLE)
                   AS mean_log2_rs
          FROM per_block WHERE r > 0 AND s > 0 GROUP BY b),
        withe AS (
          SELECT per_b.b, per_b.n_blocks, per_b.mean_log2_rs, sizes.e
          FROM per_b JOIN sizes ON CAST(1 << sizes.e AS BIGINT) = per_b.b),
        h AS (
          SELECT round(regr_slope(mean_log2_rs, CAST(e AS DOUBLE)), 4)
                   + CAST(0.0 AS DOUBLE) AS hurst_h
          FROM withe)
        SELECT b, n_blocks, mean_log2_rs, hurst_h
        FROM withe CROSS JOIN h ORDER BY b
    """
    sql["sentence_length_stats"] = r"""
        WITH sent AS (
          SELECT doc_id,
                 CAST(len(list_filter(
                        string_split_regex(trim(s), '\s+'),
                        t -> t <> '')) AS BIGINT) AS n_words
          FROM (SELECT doc_id,
                       unnest(string_split_regex(text, '[.!?]+')) AS s
                FROM documents WHERE text IS NOT NULL)
          WHERE trim(s) <> '')
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_sentences,
               CAST(round(CAST(avg(n_words) AS DECIMAL(18,6)), 2)
                    AS DOUBLE) AS avg_words,
               round(quantile_cont(n_words, 0.5), 4)
                 + CAST(0.0 AS DOUBLE) AS p50_words,
               round(quantile_cont(n_words, 0.9), 4)
                 + CAST(0.0 AS DOUBLE) AS p90_words,
               CAST(max(n_words) AS BIGINT) AS max_words
        FROM sent
    """
    sql["kneser_ney_bigram"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        bc AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
        ctx AS (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS n_follow
          FROM bc GROUP BY 1),
        cont AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS n_precede
          FROM bc GROUP BY 1),
        types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc)
        SELECT w1, w2, c12, c1, n_follow,
               round(CAST(n_precede AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS p_cont,
               round(greatest(CAST(c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
                              CAST(0.0 AS DOUBLE))
                       / CAST(c1 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * CAST(n_follow AS DOUBLE)
                       / CAST(c1 AS DOUBLE)
                       * (CAST(n_precede AS DOUBLE)
                          / CAST(n_types AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS p_kn
        FROM bc JOIN ctx USING (w1) JOIN cont USING (w2)
             CROSS JOIN types
        ORDER BY c12 DESC, w1 ASC, w2 ASC
        LIMIT 30
    """
    sql["srm_check"] = """
        WITH agg AS (
          SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_b
          FROM (SELECT DISTINCT user_id FROM events)),
        c AS (
          SELECT n_a, n_b,
                 round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE), 4)
                   + CAST(0.0 AS DOUBLE) AS chi2
          FROM agg)
        SELECT n_a, n_b, chi2,
               CASE WHEN chi2 > CAST(10.828 AS DOUBLE)
                    THEN 'SRM' ELSE 'OK' END AS verdict
        FROM c
    """
    sql["sprt_conversion_test"] = """
        WITH per_user AS (
          SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day,
                 CASE WHEN min(CASE WHEN event_type = 'purchase'
                                    THEN ts END)
                           <= min(ts) + INTERVAL 3 DAY
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY 1),
        daily AS (
          SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_day,
                 CAST(sum(conv) AS BIGINT) AS conv_day
          FROM per_user GROUP BY 1),
        cum AS (
          SELECT cohort_day,
                 CAST(sum(n_day) OVER (ORDER BY cohort_day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_t,
                 CAST(sum(conv_day) OVER (ORDER BY cohort_day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conv_t
          FROM daily),
        path AS (
          SELECT cohort_day, n_t, conv_t,
                 round(CAST(conv_t AS DOUBLE)
                         * ln(CAST(0.55 AS DOUBLE) / CAST(0.50 AS DOUBLE))
                       + CAST(n_t - conv_t AS DOUBLE)
                         * ln(CAST(0.45 AS DOUBLE) / CAST(0.50 AS DOUBLE)),
                       6) + CAST(0.0 AS DOUBLE) AS llr
          FROM cum)
        SELECT cohort_day, n_t, conv_t, llr,
               CASE WHEN llr >= round(ln(CAST(19.0 AS DOUBLE)), 6)
                    THEN 'accept_h1'
                    WHEN llr <= -round(ln(CAST(19.0 AS DOUBLE)), 6)
                    THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM path ORDER BY cohort_day
    """
    sql["bootstrap_ci_daily_revenue"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        indexed AS (
          SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
                 cents
          FROM daily),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM indexed),
        grid AS (
          SELECT n, b, i,
                 (CAST(48271 AS BIGINT) * (b * CAST(1000003 AS BIGINT) + i))
                   % CAST(2147483647 AS BIGINT) % n + 1 AS idx
          FROM (SELECT n, unnest(generate_series(CAST(1 AS BIGINT),
                                                 CAST(200 AS BIGINT))) AS b
                FROM nn),
               LATERAL (SELECT unnest(generate_series(CAST(1 AS BIGINT), n))
                        AS i)),
        means AS (
          SELECT b, CAST(sum(cents) AS DOUBLE)
                      / CAST(max(n) * 100 AS DOUBLE) AS mean_rev
          FROM grid JOIN indexed USING (idx) GROUP BY b),
        ci AS (
          SELECT CAST(count(*) AS BIGINT) AS n_resamples,
                 round(quantile_cont(mean_rev, 0.025), 4)
                   + CAST(0.0 AS DOUBLE) AS ci_lo,
                 round(quantile_cont(mean_rev, 0.5), 4)
                   + CAST(0.0 AS DOUBLE) AS boot_median,
                 round(quantile_cont(mean_rev, 0.975), 4)
                   + CAST(0.0 AS DOUBLE) AS ci_hi
          FROM means),
        pt AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 round(CAST(sum(cents) AS DOUBLE)
                         / CAST(count(*) * 100 AS DOUBLE), 4)
                   + CAST(0.0 AS DOUBLE) AS mean_rev
          FROM daily)
        SELECT n_days, mean_rev, n_resamples, ci_lo, boot_median, ci_hi
        FROM pt CROSS JOIN ci
    """
    sql["recsys_eval_popularity"] = """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC,
                                             o_orderkey DESC) AS r,
                 count(*) OVER (PARTITION BY o_custkey) AS n
          FROM orders),
        eligible AS (SELECT * FROM ranked WHERE n >= 2),
        pairs AS (
          SELECT DISTINCT l_orderkey AS o_orderkey, l_partkey
          FROM lineitem),
        top20 AS (
          SELECT l_partkey
          FROM (SELECT o_orderkey FROM eligible WHERE r > 1)
          JOIN pairs USING (o_orderkey)
          GROUP BY l_partkey
          ORDER BY count(*) DESC, l_partkey ASC
          LIMIT 20),
        test_items AS (
          SELECT e.o_custkey, p.l_partkey
          FROM (SELECT o_custkey, o_orderkey FROM eligible WHERE r = 1) e
          JOIN pairs p USING (o_orderkey)),
        per_user AS (
          SELECT t.o_custkey,
                 CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(CASE WHEN k.l_partkey IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          FROM test_items t LEFT JOIN top20 k ON t.l_partkey = k.l_partkey
          GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               round(avg(CASE WHEN n_hit > 0 THEN CAST(1.0 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END), 6)
                 + CAST(0.0 AS DOUBLE) AS hit_rate_20,
               round(avg(CAST(n_hit AS DOUBLE) / CAST(20.0 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS precision_20,
               round(avg(CAST(n_hit AS DOUBLE) / CAST(n_test AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS recall_20
        FROM per_user
    """
    sql["copurchase_link_prediction"] = """
        WITH all_pairs AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          -- basket-size cap mirror: no-op at TPC-H scale (baskets <=7)
          SELECT p.* FROM all_pairs p
          JOIN (SELECT l_orderkey FROM all_pairs
                GROUP BY 1 HAVING count(*) <= 50) s USING (l_orderkey)),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING count(*) >= 2),
        adj AS (
          SELECT u, v FROM edges
          UNION ALL
          SELECT v AS u, u AS v FROM edges),
        deg AS (
          SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        hubs AS (
          SELECT u AS hub FROM deg ORDER BY deg DESC, u ASC LIMIT 100),
        thru AS (
          SELECT t1.u AS ia, t2.u AS ib, t1.v AS x
          FROM adj t1 JOIN adj t2 ON t1.v = t2.v
          WHERE t1.u < t2.u
            AND t1.u IN (SELECT hub FROM hubs)
            AND t2.u IN (SELECT hub FROM hubs)
            AND NOT EXISTS (SELECT 1 FROM edges e
                            WHERE e.u = t1.u AND e.v = t2.u)),
        scored AS (
          SELECT ia, ib,
                 CAST(count(*) AS BIGINT) AS cn,
                 sum(CASE WHEN d.deg > 1
                          THEN CAST(1.0 AS DOUBLE)
                               / ln(CAST(d.deg AS DOUBLE))
                          ELSE CAST(0.0 AS DOUBLE) END) AS aa
          FROM thru JOIN deg d ON d.u = thru.x
          GROUP BY 1, 2)
        SELECT s.ia AS item_a, s.ib AS item_b, s.cn,
               da.deg AS deg_a, db.deg AS deg_b,
               round(CAST(s.cn AS DOUBLE)
                     / CAST(da.deg + db.deg - s.cn AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS jaccard,
               round(s.aa, 4) + CAST(0.0 AS DOUBLE) AS adamic_adar
        FROM scored s
        JOIN deg da ON da.u = s.ia
        JOIN deg db ON db.u = s.ib
        ORDER BY s.cn DESC, item_a ASC, item_b ASC
        LIMIT 30
    """
    sql["growth_accounting_weekly"] = """
        WITH act AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events),
        firstw AS (
          SELECT user_id, min(week) AS fw FROM act GROUP BY 1),
        prev AS (
          SELECT user_id, week + INTERVAL 7 DAY AS week, 1 AS p
          FROM act),
        flags AS (
          SELECT a.week,
                 CASE WHEN f.fw = a.week THEN 1 ELSE 0 END AS is_new,
                 CASE WHEN p.p IS NOT NULL THEN 1 ELSE 0 END AS is_ret,
                 CASE WHEN p.p IS NULL AND f.fw < a.week
                      THEN 1 ELSE 0 END AS is_res
          FROM act a
          JOIN firstw f USING (user_id)
          LEFT JOIN prev p
            ON p.user_id = a.user_id AND p.week = a.week),
        weekly AS (
          SELECT week,
                 CAST(count(*) AS BIGINT) AS active,
                 CAST(sum(is_new) AS BIGINT) AS n_new,
                 CAST(sum(is_ret) AS BIGINT) AS n_retained,
                 CAST(sum(is_res) AS BIGINT) AS n_resurrected
          FROM flags GROUP BY 1),
        churn AS (
          SELECT p.week, CAST(count(*) AS BIGINT) AS n_churned
          FROM prev p
          LEFT JOIN act a ON a.user_id = p.user_id AND a.week = p.week
          WHERE a.user_id IS NULL
          GROUP BY 1)
        SELECT w.week, w.active, w.n_new, w.n_retained, w.n_resurrected,
               CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
               CASE WHEN coalesce(c.n_churned, 0) > 0
                    THEN round(CAST(w.n_new + w.n_resurrected AS DOUBLE)
                               / CAST(c.n_churned AS DOUBLE), 4)
                         + CAST(0.0 AS DOUBLE)
                    ELSE NULL END AS quick_ratio
        FROM weekly w LEFT JOIN churn c USING (week)
        ORDER BY w.week
    """
    sql["ab_power_analysis"] = """
        WITH per_user AS (
          SELECT user_id,
                 CASE WHEN min(CASE WHEN event_type = 'purchase'
                                    THEN ts END)
                           <= min(ts) + INTERVAL 3 DAY
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY 1),
        base AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(conv) AS BIGINT) AS n_conv
          FROM per_user),
        g AS (
          SELECT base.*, CAST(lift AS DOUBLE) AS lift
          FROM base, (VALUES (0.01), (0.02), (0.05)) t(lift)),
        calc AS (
          SELECT lift, n_users,
                 CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p1
          FROM g),
        c2a AS (
          SELECT lift, n_users, p1,
                 least(p1 + lift, CAST(1.0 AS DOUBLE)) AS p2
          FROM calc),
        c2 AS (
          SELECT lift, n_users, p1, p2,
                 (p1 + p2) / CAST(2.0 AS DOUBLE) AS pbar
          FROM c2a),
        c3 AS (
          SELECT lift, n_users, p1, p2 - p1 AS eff,
                 CASE WHEN p2 - p1 > CAST(0.0 AS DOUBLE) THEN
                 (CAST(1.959964 AS DOUBLE)
                    * sqrt(CAST(2.0 AS DOUBLE) * pbar
                           * (CAST(1.0 AS DOUBLE) - pbar))
                  + CAST(0.841621 AS DOUBLE)
                    * sqrt(p1 * (CAST(1.0 AS DOUBLE) - p1)
                           + p2 * (CAST(1.0 AS DOUBLE) - p2)))
                 / (p2 - p1) END AS root
          FROM c2)
        SELECT lift, n_users,
               round(p1, 6) + CAST(0.0 AS DOUBLE) AS baseline_rate,
               CASE WHEN eff > CAST(0.0 AS DOUBLE)
                    THEN CAST(ceil(root * root) AS BIGINT)
                    END AS n_required_per_arm,
               CASE WHEN p1 + lift > CAST(1.0 AS DOUBLE) THEN 'saturated'
                    WHEN n_users // 2 >= CAST(ceil(root * root) AS BIGINT)
                    THEN 'feasible' ELSE 'underpowered' END AS verdict
        FROM c3 ORDER BY lift
    """
    sql["cochran_armitage_trend"] = """
        WITH per AS (
          SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS w,
                 CAST(count(*) AS BIGINT) AS n_i,
                 CAST(sum(CASE WHEN l.l_shipdate
                                    > o.o_orderdate + INTERVAL 60 DAY
                               THEN 1 ELSE 0 END) AS BIGINT) AS r_i
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(n_i) AS BIGINT) AS nn,
                 CAST(sum(r_i) AS BIGINT) AS rr,
                 CAST(sum(w * r_i) AS BIGINT) AS swr,
                 CAST(sum(w * n_i) AS BIGINT) AS swn,
                 CAST(sum(w * w * n_i) AS BIGINT) AS swwn
          FROM per)
        SELECT n_groups, nn, rr,
               round(CAST(swr * nn - rr * swn AS DOUBLE)
                     / sqrt(CAST(rr * (nn - rr) AS DOUBLE)
                            / CAST(nn AS DOUBLE)
                            * CAST(nn * swwn - swn * swn AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS z_trend
        FROM agg
    """
    sql["source_log_odds_words"] = r"""
        WITH wcounts AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS y_sw
          FROM (SELECT source,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\s+')) AS w
                FROM documents WHERE text IS NOT NULL)
          WHERE w <> '' GROUP BY 1, 2),
        totals AS (
          SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s
          FROM wcounts GROUP BY 1),
        corpus AS (
          SELECT w, CAST(sum(y_sw) AS BIGINT) AS y_w
          FROM wcounts GROUP BY 1),
        grand AS (
          SELECT CAST(sum(y_w) AS BIGINT) AS n_tot,
                 CAST(count(*) AS BIGINT) AS v
          FROM corpus),
        j AS (
          SELECT wc.source, wc.w, wc.y_sw,
                 c.y_w - wc.y_sw AS y_rw,
                 t.n_s, g.n_tot - t.n_s AS n_r,
                 CAST(0.01 AS DOUBLE) * CAST(g.v AS DOUBLE) AS a0
          FROM wcounts wc
          JOIN totals t USING (source)
          JOIN corpus c USING (w)
          CROSS JOIN grand g),
        scored AS (
          SELECT source, w, y_sw,
                 round(
                   (ln((CAST(y_sw AS DOUBLE) + CAST(0.01 AS DOUBLE))
                       / (CAST(n_s AS DOUBLE) + a0
                          - (CAST(y_sw AS DOUBLE) + CAST(0.01 AS DOUBLE))))
                    - ln((CAST(y_rw AS DOUBLE) + CAST(0.01 AS DOUBLE))
                         / (CAST(n_r AS DOUBLE) + a0
                            - (CAST(y_rw AS DOUBLE)
                               + CAST(0.01 AS DOUBLE)))))
                   / sqrt(CAST(1.0 AS DOUBLE)
                            / (CAST(y_sw AS DOUBLE) + CAST(0.01 AS DOUBLE))
                          + CAST(1.0 AS DOUBLE)
                            / (CAST(y_rw AS DOUBLE)
                               + CAST(0.01 AS DOUBLE))), 4)
                 + CAST(0.0 AS DOUBLE) AS z_logodds
          FROM j),
        ranked AS (
          SELECT source, w, y_sw, z_logodds,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY z_logodds DESC, w ASC) AS rnk
          FROM scored QUALIFY rnk <= 5)
        SELECT source, CAST(rnk AS BIGINT) AS rnk, w, y_sw, z_logodds
        FROM ranked ORDER BY source, rnk
    """
    sql["streaming_dedup_report"] = """
        SELECT date, event_type, CAST(count(*) AS BIGINT) AS n_unique_users
        FROM (SELECT DISTINCT user_id, event_type,
                     CAST(ts AS DATE) AS date
              FROM events)
        GROUP BY 1, 2
        HAVING date + INTERVAL 1 DAY
                 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """
    sql["revenue_anova_factors"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        lab AS (
          SELECT day, cents,
                 CAST(isodow(day) AS BIGINT) AS wd,
                 CAST(month(day) AS BIGINT) AS mo
          FROM daily),
        tot AS (
          SELECT CAST(sum(cents) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE))
                   AS ss_raw
          FROM lab),
        gw AS (
          SELECT wd, CAST(sum(cents) AS BIGINT) AS s_g,
                 CAST(count(*) AS BIGINT) AS n_g
          FROM lab GROUP BY 1),
        gm AS (
          SELECT mo, CAST(sum(cents) AS BIGINT) AS s_g,
                 CAST(count(*) AS BIGINT) AS n_g
          FROM lab GROUP BY 1),
        aw AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                     / CAST(n_g AS DOUBLE)) AS ss_grp
          FROM gw),
        am AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                     / CAST(n_g AS DOUBLE)) AS ss_grp
          FROM gm),
        calc AS (
          SELECT 'weekday' AS factor, aw.k, tot.n,
                 aw.ss_grp - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                               / CAST(tot.n AS DOUBLE) AS ssb,
                 tot.ss_raw - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                               / CAST(tot.n AS DOUBLE) AS sst
          FROM aw CROSS JOIN tot
          UNION ALL
          SELECT 'month' AS factor, am.k, tot.n,
                 am.ss_grp - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                               / CAST(tot.n AS DOUBLE) AS ssb,
                 tot.ss_raw - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                               / CAST(tot.n AS DOUBLE) AS sst
          FROM am CROSS JOIN tot)
        SELECT factor, k, n,
               round((ssb / CAST(k - 1 AS DOUBLE))
                     / ((sst - ssb) / CAST(n - k AS DOUBLE)), 4)
                 + CAST(0.0 AS DOUBLE) AS f_stat,
               round(ssb / sst, 4) + CAST(0.0 AS DOUBLE) AS eta_sq
        FROM calc ORDER BY factor
    """
    sql["categorical_mi_matrix"] = """
        WITH base AS (
          SELECT substring(o_orderpriority, 1, 1) AS prio,
                 o_orderstatus AS status,
                 CAST(year(o_orderdate) AS VARCHAR) AS oyear
          FROM orders),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        mi_ps AS (
          SELECT 'prio~status' AS pair,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 round(sum((CAST(c_xy AS DOUBLE) / CAST(n.n AS DOUBLE))
                           * ln(CAST(c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                                / (CAST(c_x AS DOUBLE)
                                   * CAST(c_y AS DOUBLE)))), 6)
                   + CAST(0.0 AS DOUBLE) AS mi_nats,
                 round(sqrt((sum(CAST(c_xy AS DOUBLE)
                                 * CAST(c_xy AS DOUBLE)
                                 / (CAST(c_x AS DOUBLE)
                                    * CAST(c_y AS DOUBLE)))
                             - CAST(1.0 AS DOUBLE))
                            / CAST(least(count(DISTINCT prio),
                                         count(DISTINCT status)) - 1
                                   AS DOUBLE)), 6)
                   + CAST(0.0 AS DOUBLE) AS cramers_v
          FROM (SELECT prio, status, CAST(count(*) AS BIGINT) AS c_xy
                FROM base GROUP BY 1, 2) j
          JOIN (SELECT prio, CAST(count(*) AS BIGINT) AS c_x
                FROM base GROUP BY 1) a USING (prio)
          JOIN (SELECT status, CAST(count(*) AS BIGINT) AS c_y
                FROM base GROUP BY 1) b USING (status)
          CROSS JOIN n GROUP BY n.n),
        mi_py AS (
          SELECT 'prio~oyear' AS pair,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 round(sum((CAST(c_xy AS DOUBLE) / CAST(n.n AS DOUBLE))
                           * ln(CAST(c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                                / (CAST(c_x AS DOUBLE)
                                   * CAST(c_y AS DOUBLE)))), 6)
                   + CAST(0.0 AS DOUBLE) AS mi_nats,
                 round(sqrt((sum(CAST(c_xy AS DOUBLE)
                                 * CAST(c_xy AS DOUBLE)
                                 / (CAST(c_x AS DOUBLE)
                                    * CAST(c_y AS DOUBLE)))
                             - CAST(1.0 AS DOUBLE))
                            / CAST(least(count(DISTINCT prio),
                                         count(DISTINCT oyear)) - 1
                                   AS DOUBLE)), 6)
                   + CAST(0.0 AS DOUBLE) AS cramers_v
          FROM (SELECT prio, oyear, CAST(count(*) AS BIGINT) AS c_xy
                FROM base GROUP BY 1, 2) j
          JOIN (SELECT prio, CAST(count(*) AS BIGINT) AS c_x
                FROM base GROUP BY 1) a USING (prio)
          JOIN (SELECT oyear, CAST(count(*) AS BIGINT) AS c_y
                FROM base GROUP BY 1) b USING (oyear)
          CROSS JOIN n GROUP BY n.n),
        mi_sy AS (
          SELECT 'status~oyear' AS pair,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 round(sum((CAST(c_xy AS DOUBLE) / CAST(n.n AS DOUBLE))
                           * ln(CAST(c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                                / (CAST(c_x AS DOUBLE)
                                   * CAST(c_y AS DOUBLE)))), 6)
                   + CAST(0.0 AS DOUBLE) AS mi_nats,
                 round(sqrt((sum(CAST(c_xy AS DOUBLE)
                                 * CAST(c_xy AS DOUBLE)
                                 / (CAST(c_x AS DOUBLE)
                                    * CAST(c_y AS DOUBLE)))
                             - CAST(1.0 AS DOUBLE))
                            / CAST(least(count(DISTINCT status),
                                         count(DISTINCT oyear)) - 1
                                   AS DOUBLE)), 6)
                   + CAST(0.0 AS DOUBLE) AS cramers_v
          FROM (SELECT status, oyear, CAST(count(*) AS BIGINT) AS c_xy
                FROM base GROUP BY 1, 2) j
          JOIN (SELECT status, CAST(count(*) AS BIGINT) AS c_x
                FROM base GROUP BY 1) a USING (status)
          JOIN (SELECT oyear, CAST(count(*) AS BIGINT) AS c_y
                FROM base GROUP BY 1) b USING (oyear)
          CROSS JOIN n GROUP BY n.n)
        SELECT * FROM mi_ps
        UNION ALL SELECT * FROM mi_py
        UNION ALL SELECT * FROM mi_sy
        ORDER BY pair
    """
    sql["lexical_diversity_report"] = r"""
        WITH toks AS (
          SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos0,
                 unnest(t) AS tok
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS t
                FROM documents WHERE text IS NOT NULL)),
        nz AS (SELECT doc_id, pos0, tok FROM toks WHERE tok <> ''),
        per_seg AS (
          SELECT doc_id, CAST(pos0 // 100 AS BIGINT) AS seg,
                 CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(count(DISTINCT tok) AS BIGINT) AS n_typ
          FROM nz GROUP BY 1, 2),
        msttr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_segments,
                 round(avg(CAST(n_typ AS DOUBLE)
                           / CAST(100.0 AS DOUBLE)), 6)
                   + CAST(0.0 AS DOUBLE) AS msttr_100
          FROM per_seg WHERE n_tok = 100),
        corpus AS (
          SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT tok) AS BIGINT) AS n_types
          FROM nz)
        SELECT n_docs, n_tokens, n_types,
               round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS corpus_ttr,
               n_segments, msttr_100
        FROM corpus CROSS JOIN msttr
    """
    sql["streaming_static_enrich"] = """
        WITH cohorts AS (
          SELECT user_id,
                 CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY 1)
        SELECT CAST(e.ts AS DATE) AS date, c.cohort_week,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events e JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
        HAVING CAST(e.ts AS DATE) + INTERVAL 1 DAY
                 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """
    sql["inequality_indices"] = """
        WITH per AS (
          SELECT o_custkey,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995
          GROUP BY 1 HAVING sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) > 0),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS x_tot
          FROM per),
        sums AS (
          SELECT max(n) AS n_customers,
                 sum((CAST(cents AS DOUBLE) / CAST(x_tot AS DOUBLE))
                     * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)
                          / CAST(x_tot AS DOUBLE))) AS theil,
                 sum(sqrt(CAST(cents AS DOUBLE))) AS sqrt_sum,
                 max(x_tot) AS xt
          FROM per CROSS JOIN tot),
        deciled AS (
          SELECT cents,
                 row_number() OVER (ORDER BY cents DESC,
                                    o_custkey ASC) AS r,
                 (SELECT n FROM tot) AS nn
          FROM per),
        ts AS (
          SELECT CAST(sum(CASE WHEN r <= nn // 10 THEN cents
                               ELSE 0 END) AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE) AS ts
          FROM deciled)
        SELECT CAST(n_customers AS BIGINT) AS n_customers,
               round(theil, 6) + CAST(0.0 AS DOUBLE) AS theil_t,
               round(CAST(1.0 AS DOUBLE)
                     - (sqrt_sum / CAST(n_customers AS DOUBLE))
                       * (sqrt_sum / CAST(n_customers AS DOUBLE))
                       / (CAST(xt AS DOUBLE)
                          / CAST(n_customers AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS atkinson_05,
               round(ts, 6) + CAST(0.0 AS DOUBLE) AS top_decile_share
        FROM sums CROSS JOIN ts
    """
    sql["views_purchases_ccf"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_buy
          FROM events GROUP BY 1),
        lags AS (
          SELECT unnest(generate_series(CAST(-7 AS BIGINT),
                                        CAST(7 AS BIGINT))) AS lag),
        shifted AS (
          SELECT lag, CAST(day + lag * INTERVAL 1 DAY AS DATE) AS day,
                 n_view AS v
          FROM daily CROSS JOIN lags),
        joined AS (
          SELECT s.lag, s.v, d.n_buy AS b
          FROM shifted s JOIN daily d USING (day))
        SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
               round(corr(CAST(v AS DOUBLE), CAST(b AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS ccf
        FROM joined GROUP BY 1 ORDER BY lag
    """
    sql["newsvendor_stock_levels"] = """
        WITH daily AS (
          SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                 CAST(sum(l_quantity) AS BIGINT) AS demand
          FROM lineitem GROUP BY 1, 2),
        top5 AS (
          SELECT l_partkey
          FROM daily GROUP BY 1
          ORDER BY CAST(sum(demand) AS BIGINT) DESC, l_partkey ASC
          LIMIT 5)
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(demand) AS BIGINT) AS total_demand,
               CAST(round(CAST(avg(demand) AS DECIMAL(18,6)), 2)
                    AS DOUBLE) AS mean_daily,
               round(quantile_cont(demand, 0.9), 4)
                 + CAST(0.0 AS DOUBLE) AS stock_level_q90
        FROM daily JOIN top5 USING (l_partkey)
        GROUP BY 1 ORDER BY 1
    """
    sql["user_interarrival_stats"] = """
        WITH gaps AS (
          SELECT epoch_us(ts)
                 - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts),
                                                    event_id) AS gap_us
          FROM events)
        SELECT CAST(count(*) AS BIGINT) AS n_gaps,
               round(quantile_cont(gap_us, 0.5)
                     / CAST(1000000.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS p50_gap_s,
               round(quantile_cont(gap_us, 0.9)
                     / CAST(1000000.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS p90_gap_s,
               round((CAST(sum(gap_us) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE))
                     / CAST(1000000.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS mean_gap_s
        FROM gaps WHERE gap_us IS NOT NULL
    """
    sql["residual_diagnostics"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        wd AS (
          SELECT day, cents, isodow(day) AS wd FROM daily),
        grp AS (
          SELECT wd, CAST(sum(cents) AS BIGINT) AS s_g,
                 CAST(count(*) AS BIGINT) AS n_g
          FROM wd GROUP BY 1),
        resid AS (
          SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
                 CAST(cents AS DOUBLE)
                   - CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS r
          FROM wd JOIN grp USING (wd)),
        base AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 sum(r * r) AS ss
          FROM resid),
        dw AS (
          SELECT sum((a.r - b.r) * (a.r - b.r)) AS num
          FROM resid a JOIN resid b ON a.idx = b.idx + 1),
        pairs AS (
          SELECT k, sum(a.r * b.r) AS num
          FROM resid a
          CROSS JOIN (SELECT unnest(generate_series(CAST(1 AS BIGINT),
                                                    CAST(7 AS BIGINT)))
                      AS k) lags
          JOIN resid b ON a.idx = b.idx + k
          GROUP BY k),
        lb AS (
          SELECT sum((num / ss) * (num / ss)
                     / CAST(n_days - k AS DOUBLE)) AS lbsum
          FROM pairs CROSS JOIN base),
        signs AS (
          SELECT idx, CASE WHEN r > 0 THEN 1 ELSE 0 END AS s
          FROM resid),
        runs AS (
          SELECT CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END)
                      AS BIGINT) AS changes
          FROM signs a JOIN signs b ON a.idx = b.idx + 1),
        nsign AS (
          SELECT CAST(sum(s) AS BIGINT) AS n1,
                 CAST(sum(1 - s) AS BIGINT) AS n2
          FROM signs)
        SELECT n_days,
               round(dw.num / base.ss, 4) + CAST(0.0 AS DOUBLE)
                 AS durbin_watson,
               round(CAST(n_days AS DOUBLE)
                     * (CAST(n_days AS DOUBLE) + CAST(2.0 AS DOUBLE))
                     * lb.lbsum, 4) + CAST(0.0 AS DOUBLE)
                 AS ljung_box_q7,
               CAST(runs.changes + 1 AS BIGINT) AS n_runs,
               round((CAST(runs.changes + 1 AS DOUBLE)
                      - (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                         * CAST(n2 AS DOUBLE) / CAST(n_days AS DOUBLE)
                         + CAST(1.0 AS DOUBLE)))
                     / sqrt(CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                            * CAST(n2 AS DOUBLE)
                            * (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                               * CAST(n2 AS DOUBLE)
                               - CAST(n_days AS DOUBLE))
                            / (CAST(n_days AS DOUBLE)
                               * CAST(n_days AS DOUBLE)
                               * (CAST(n_days AS DOUBLE)
                                  - CAST(1.0 AS DOUBLE)))), 4)
                 + CAST(0.0 AS DOUBLE) AS runs_z
        FROM base CROSS JOIN dw CROSS JOIN lb
             CROSS JOIN runs CROSS JOIN nsign
    """
    # --- round-8 additions ---
    sql["logrank_purchase_segments"] = """
        WITH per_user AS (
          SELECT user_id,
                 min(CAST(ts AS DATE)) AS fd,
                 max(CAST(ts AS DATE)) AS ld,
                 min(CASE WHEN event_type = 'purchase'
                          THEN CAST(ts AS DATE) END) AS pd
          FROM events GROUP BY 1),
        dur AS (
          SELECT coalesce(pd - fd, ld - fd) AS t,
                 pd IS NOT NULL AS observed,
                 CAST(user_id % 2 AS INT) AS seg
          FROM per_user),
        risk AS (
          SELECT t,
                 CAST(sum(CASE WHEN observed AND seg = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
                 CAST(sum(CASE WHEN observed AND seg = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS d_b,
                 CAST(sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS x_a,
                 CAST(sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS x_b
          FROM dur GROUP BY 1),
        with_n AS (
          SELECT t, d_a, d_b,
                 CAST(sum(x_a) OVER (ORDER BY t
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                      AS BIGINT) AS n_a,
                 CAST(sum(x_b) OVER (ORDER BY t
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                      AS BIGINT) AS n_b
          FROM risk),
        terms AS (
          SELECT d_a AS oa,
                 CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE) AS ea,
                 CASE WHEN n_a + n_b > 1 THEN
                   CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                     * CAST(n_b AS DOUBLE)
                     * CAST(n_a + n_b - d_a - d_b AS DOUBLE)
                   / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
                      * CAST(n_a + n_b - 1 AS DOUBLE))
                 ELSE CAST(0.0 AS DOUBLE) END AS v
          FROM with_n WHERE d_a + d_b > 0),
        agg AS (
          SELECT CAST(sum(oa) AS BIGINT) AS observed_a,
                 sum(ea) AS e, sum(v) AS v
          FROM terms)
        SELECT observed_a,
               round(e, 4) + CAST(0.0 AS DOUBLE) AS expected_a,
               round((CAST(observed_a AS DOUBLE) - e) / sqrt(v), 4)
                 + CAST(0.0 AS DOUBLE) AS logrank_z,
               round((CAST(observed_a AS DOUBLE) - e)
                     * (CAST(observed_a AS DOUBLE) - e) / v, 4)
                 + CAST(0.0 AS DOUBLE) AS logrank_chi2
        FROM agg
    """
    sql["nelson_aalen_hazard"] = """
        WITH per_user AS (
          SELECT user_id,
                 min(CAST(ts AS DATE)) AS fd,
                 max(CAST(ts AS DATE)) AS ld,
                 min(CASE WHEN event_type = 'purchase'
                          THEN CAST(ts AS DATE) END) AS pd
          FROM events GROUP BY 1),
        dur AS (
          SELECT coalesce(pd - fd, ld - fd) AS t,
                 pd IS NOT NULL AS observed
          FROM per_user),
        risk AS (
          SELECT t,
                 CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END)
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS exits
          FROM dur GROUP BY 1),
        with_n AS (
          SELECT t, d,
                 CAST(sum(exits) OVER (ORDER BY t
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                      AS BIGINT) AS n_at_risk
          FROM risk)
        SELECT t, d, n_at_risk,
               round(sum(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
                     OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW), 6)
                 + CAST(0.0 AS DOUBLE) AS cum_hazard
        FROM with_n
        QUALIFY d > 0
        ORDER BY t
    """
    sql["wilcoxon_halfyear_revenue"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        pairs AS (
          SELECT CAST(b.cents - a.cents AS BIGINT) AS diff
          FROM idx a JOIN idx b ON b.i = a.i + 183
          WHERE b.cents <> a.cents),
        ranked AS (
          SELECT diff,
                 rank() OVER (ORDER BY abs(diff)) AS mr,
                 count(*) OVER (PARTITION BY abs(diff)) AS t
          FROM pairs),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN diff > 0 THEN 2 * mr + t - 1
                               ELSE 0 END) AS BIGINT) AS w2,
                 CAST(sum(t * t - 1) AS BIGINT) AS ties
          FROM ranked)
        SELECT n_pairs,
               round(CAST(w2 AS DOUBLE) / CAST(2.0 AS DOUBLE), 1)
                 + CAST(0.0 AS DOUBLE) AS w_plus,
               round((CAST(w2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
                      - CAST(n_pairs * (n_pairs + 1) AS DOUBLE)
                        / CAST(4.0 AS DOUBLE))
                     / sqrt(CAST(2 * n_pairs * (n_pairs + 1)
                                 * (2 * n_pairs + 1) - ties AS DOUBLE)
                            / CAST(48.0 AS DOUBLE)), 4)
                 + CAST(0.0 AS DOUBLE) AS wilcoxon_z
        FROM agg
    """
    sql["bh_fdr_event_shares"] = """
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        flagged AS (
          SELECT event_type,
                 CASE WHEN CAST(ts AS DATE) < d0.d0 + 15
                      THEN 1 ELSE 0 END AS h1
          FROM events, d0),
        per_type AS (
          SELECT event_type,
                 CAST(sum(h1) AS BIGINT) AS n_first,
                 CAST(sum(1 - h1) AS BIGINT) AS n_second
          FROM flagged GROUP BY 1),
        tot AS (
          SELECT CAST(sum(h1) AS BIGINT) AS nn1,
                 CAST(sum(1 - h1) AS BIGINT) AS nn2
          FROM flagged),
        scored AS (
          SELECT event_type, n_first, n_second,
                 round(abs(
                   (CAST(n_second AS DOUBLE) / CAST(nn2 AS DOUBLE)
                    - CAST(n_first AS DOUBLE) / CAST(nn1 AS DOUBLE))
                   / sqrt(
                       (CAST(n_first + n_second AS DOUBLE)
                        / CAST(nn1 + nn2 AS DOUBLE))
                       * (CAST(1.0 AS DOUBLE)
                          - CAST(n_first + n_second AS DOUBLE)
                            / CAST(nn1 + nn2 AS DOUBLE))
                       * (CAST(1.0 AS DOUBLE) / CAST(nn1 AS DOUBLE)
                          + CAST(1.0 AS DOUBLE) / CAST(nn2 AS DOUBLE)))
                 ), 4) + CAST(0.0 AS DOUBLE) AS z_abs
          FROM per_type CROSS JOIN tot),
        ranked AS (
          SELECT *,
                 CAST(row_number() OVER (ORDER BY z_abs DESC, event_type)
                      AS INT) AS bh_rank
          FROM scored),
        flaggedr AS (
          SELECT *,
                 CASE WHEN z_abs >= (CASE bh_rank
                        WHEN 1 THEN CAST(2.575829 AS DOUBLE)
                        WHEN 2 THEN CAST(2.326348 AS DOUBLE)
                        WHEN 3 THEN CAST(2.170090 AS DOUBLE)
                        WHEN 4 THEN CAST(2.053749 AS DOUBLE)
                        ELSE CAST(1.959964 AS DOUBLE) END)
                      THEN bh_rank ELSE 0 END AS pass_rank
          FROM ranked)
        SELECT event_type, n_first, n_second, z_abs, bh_rank,
               CASE WHEN bh_rank <= max(pass_rank) OVER ()
                    THEN 'reject' ELSE 'keep' END AS bh_verdict
        FROM flaggedr
        ORDER BY bh_rank
    """
    sql["theil_u2_seasonal_naive"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        j AS (
          SELECT a.cents AS c0, l1.cents AS c1, l7.cents AS c7
          FROM idx a
          JOIN idx l1 ON a.i = l1.i + 1
          JOIN idx l7 ON a.i = l7.i + 7),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 sum((CAST(c7 - c0 AS DOUBLE) / CAST(c1 AS DOUBLE))
                     * (CAST(c7 - c0 AS DOUBLE) / CAST(c1 AS DOUBLE)))
                   AS sf,
                 sum((CAST(c0 - c1 AS DOUBLE) / CAST(c1 AS DOUBLE))
                     * (CAST(c0 - c1 AS DOUBLE) / CAST(c1 AS DOUBLE)))
                   AS sn,
                 CAST(sum(abs(c7 - c0)) AS BIGINT) AS a7,
                 CAST(sum(abs(c0 - c1)) AS BIGINT) AS a1
          FROM j)
        SELECT n_days,
               round(sqrt(sf / sn), 6) + CAST(0.0 AS DOUBLE) AS theil_u2,
               round(CAST(a7 AS DOUBLE) / CAST(a1 AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS mase_seasonal7
        FROM agg
    """
    sql["spectral_entropy_revenue"] = f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        stats AS (
          SELECT min(day) AS d0,
                 CAST(sum(cents) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n
          FROM daily),
        base AS (
          SELECT day - d0 AS i,
                 CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE)
                   - CAST(tot AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)) AS dev,
                 CAST(n AS DOUBLE) AS nd
          FROM daily, stats),
        per AS (
          SELECT i, dev, nd, p,
                 CAST(i % p AS DOUBLE)
                   * CAST('6.283185307179586' AS DOUBLE)
                   / CAST(p AS DOUBLE) AS theta
          FROM base, (VALUES {{periods_values}}) t(p)),
        agg AS (
          SELECT p, sum(dev * cos(theta)) AS c, sum(dev * sin(theta)) AS s,
                 sum(dev * dev) AS ss, max(nd) AS nd
          FROM per GROUP BY 1),
        shares AS (
          SELECT p,
                 CAST(2 AS DOUBLE) * (c * c + s * s) / (nd * ss) AS sh
          FROM agg),
        normed AS (
          SELECT p, sh,
                 sh / sum(sh) OVER () AS q
          FROM shares),
        ent AS (
          SELECT sum(-q * ln(q)) AS h FROM normed),
        top AS (
          SELECT p, sh FROM normed ORDER BY sh DESC, p ASC LIMIT 1)
        SELECT CAST(top.p AS BIGINT) AS dominant_period,
               round(top.sh, 6) + CAST(0.0 AS DOUBLE) AS dominant_share,
               round(ent.h / ln(CAST(5.0 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS spectral_entropy_norm
        FROM top CROSS JOIN ent
    """.replace("{periods_values}", ", ".join(f"({p})" for p in _PERIODOGRAM_PERIODS))
    sql["seasonal_strength_weekly"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(floor(round(coalesce(sum(value),
                                           CAST(0.0 AS DOUBLE)), 2) * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        d2 AS (
          SELECT day, cents,
                 datediff('day', DATE '1970-01-01', day) AS dn,
                 isodow(day) AS isodow
          FROM daily),
        t AS (
          SELECT isodow,
                 CASE WHEN count(*) OVER w7 = 7
                      THEN 7 * cents - CAST(sum(cents) OVER w7 AS BIGINT)
                 END AS detr
          FROM d2
          WINDOW w7 AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING
                                           AND 3 FOLLOWING)),
        rem AS (
          SELECT CAST(detr AS DOUBLE) AS x,
                 CAST(detr AS DOUBLE)
                   - avg(detr) OVER (PARTITION BY isodow) AS r
          FROM t WHERE detr IS NOT NULL),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 sum(x) AS sx, sum(x * x) AS sxx,
                 sum(r) AS sr, sum(r * r) AS srr
          FROM rem)
        SELECT n_days,
               round(greatest(CAST(0.0 AS DOUBLE),
                     CAST(1.0 AS DOUBLE)
                     - (srr / CAST(n_days AS DOUBLE)
                        - (sr / CAST(n_days AS DOUBLE))
                          * (sr / CAST(n_days AS DOUBLE)))
                       / (sxx / CAST(n_days AS DOUBLE)
                          - (sx / CAST(n_days AS DOUBLE))
                            * (sx / CAST(n_days AS DOUBLE)))), 6)
                 + CAST(0.0 AS DOUBLE) AS seasonal_strength
        FROM agg
    """
    sql["value_drift_jsd"] = """
        WITH binned AS (
          SELECT year(CAST(o_orderdate AS DATE)) AS yr,
                 least(CAST(floor(o_totalprice
                                  / CAST(25000.0 AS DOUBLE)) AS BIGINT),
                       CAST(19 AS BIGINT)) AS bin
          FROM orders
          WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        counts AS (
          SELECT bin,
                 CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c2
          FROM binned GROUP BY 1),
        tot AS (
          SELECT CAST(sum(c1) AS BIGINT) AS nn1,
                 CAST(sum(c2) AS BIGINT) AS nn2
          FROM counts),
        terms AS (
          SELECT nn1, nn2,
                 CASE WHEN c1 > 0 THEN
                   CAST(0.5 AS DOUBLE)
                   * (CAST(c1 AS DOUBLE) / CAST(nn1 AS DOUBLE))
                   * ln((CAST(c1 AS DOUBLE) / CAST(nn1 AS DOUBLE))
                        / ((CAST(c1 AS DOUBLE) / CAST(nn1 AS DOUBLE)
                            + CAST(c2 AS DOUBLE) / CAST(nn2 AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
                 ELSE CAST(0.0 AS DOUBLE) END
                 +
                 CASE WHEN c2 > 0 THEN
                   CAST(0.5 AS DOUBLE)
                   * (CAST(c2 AS DOUBLE) / CAST(nn2 AS DOUBLE))
                   * ln((CAST(c2 AS DOUBLE) / CAST(nn2 AS DOUBLE))
                        / ((CAST(c1 AS DOUBLE) / CAST(nn1 AS DOUBLE)
                            + CAST(c2 AS DOUBLE) / CAST(nn2 AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
                 ELSE CAST(0.0 AS DOUBLE) END AS term
          FROM counts CROSS JOIN tot)
        SELECT max(nn1) AS n_1995, max(nn2) AS n_1996,
               round(sum(term), 6) + CAST(0.0 AS DOUBLE) AS jsd_nats
        FROM terms
    """
    sql["kn_bigram_perplexity"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        bc AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        ctx AS (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS n_follow
          FROM bc GROUP BY 1),
        cont AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS n_precede
          FROM bc GROUP BY 1),
        types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc),
        ec AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS ec
          FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
        scored AS (
          SELECT ec.ec,
                 greatest(CAST(coalesce(bc.c12, 0) AS DOUBLE)
                          - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
                   / CAST(ctx.c1 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE)
                   / CAST(ctx.c1 AS DOUBLE)
                   * (CAST(cont.n_precede AS DOUBLE)
                      / CAST(types.n_types AS DOUBLE)) AS p
          FROM ec
          JOIN ctx USING (w1)
          JOIN cont USING (w2)
          LEFT JOIN bc USING (w1, w2)
          CROSS JOIN types),
        totals AS (SELECT CAST(sum(ec) AS BIGINT) AS n_all FROM ec),
        agg AS (
          SELECT CAST(sum(ec) AS BIGINT) AS n_scored_bigrams,
                 sum(-CAST(ec AS DOUBLE) * ln(p)) AS nll
          FROM scored)
        SELECT n_scored_bigrams,
               round(CAST(1.0 AS DOUBLE)
                     - CAST(n_scored_bigrams AS DOUBLE)
                       / CAST(n_all AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS oov_rate,
               round(nll / CAST('0.6931471805599453' AS DOUBLE)
                     / CAST(n_scored_bigrams AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS bits_per_bigram,
               round(exp(nll / CAST(n_scored_bigrams AS DOUBLE)), 4)
                 + CAST(0.0 AS DOUBLE) AS perplexity
        FROM agg CROSS JOIN totals
    """
    sql["curriculum_deciles"] = r"""
        WITH scored AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                      AS BIGINT) AS toks,
                 CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                      AS DOUBLE) / CAST(n_chars AS DOUBLE) AS density
          FROM documents
          WHERE text IS NOT NULL AND n_chars > 0),
        ranked AS (
          SELECT toks, density,
                 row_number() OVER (ORDER BY density ASC, doc_id ASC)
                   AS rn,
                 count(*) OVER () AS n
          FROM scored)
        SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(min(density), 6) + CAST(0.0 AS DOUBLE) AS min_density,
               round(max(density), 6) + CAST(0.0 AS DOUBLE) AS max_density,
               CAST(sum(toks) AS BIGINT) AS total_tokens
        FROM ranked
        GROUP BY 1 ORDER BY 1
    """
    sql["tokenizer_fertility_by_source"] = r"""
        WITH per AS (
          SELECT source,
                 CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                      AS BIGINT) AS ws,
                 CAST(len(regexp_extract_all(text,
                      ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+'))
                      AS BIGINT) AS bpe,
                 CAST(length(text) AS BIGINT) AS chars
          FROM documents WHERE text IS NOT NULL),
        agg AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(ws) AS BIGINT) AS ws_tokens,
                 CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
                 CAST(sum(chars) AS BIGINT) AS n_chars
          FROM per GROUP BY 1)
        SELECT source, n_docs, ws_tokens, bpe_tokens,
               round(CAST(bpe_tokens AS DOUBLE)
                     / CAST(ws_tokens AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS fertility,
               round(CAST(n_chars AS DOUBLE)
                     / CAST(bpe_tokens AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS chars_per_token
        FROM agg ORDER BY source
    """
    sql["timed_funnel_conversion"] = """
        WITH views AS (
          SELECT user_id, min(epoch_us(ts)) AS v_us
          FROM events WHERE event_type = 'view' GROUP BY 1),
        first_click AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS fc_us
          FROM events e JOIN views v ON e.user_id = v.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(e.ts) > v.v_us
            AND epoch_us(e.ts) <= v.v_us + 3600000000
          GROUP BY 1),
        converted AS (
          SELECT DISTINCT e.user_id
          FROM events e JOIN first_click c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) > c.fc_us
            AND epoch_us(e.ts) <= c.fc_us + 86400000000),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n_viewers FROM views),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n_click_1h
               FROM first_click),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_purchase_24h
               FROM converted)
        SELECT n_viewers, n_click_1h, n_purchase_24h,
               round(CAST(n_click_1h AS DOUBLE)
                     / CAST(n_viewers AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS click_rate_1h,
               round(CAST(n_purchase_24h AS DOUBLE)
                     / CAST(n_click_1h AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS purchase_rate_24h
        FROM nv CROSS JOIN nc CROSS JOIN np
    """
    sql["retention_decay_fit"] = """
        WITH firsts AS (
          SELECT o_custkey, min(o_orderdate) AS first_dt
          FROM orders GROUP BY 1),
        matrix AS (
          SELECT CAST((year(o_orderdate) * 12 + month(o_orderdate))
                      - (year(first_dt) * 12 + month(first_dt)) AS INT)
                   AS month_offset,
                 CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS entities
          FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
          GROUP BY 1),
        per_off AS (
          SELECT month_offset, CAST(sum(entities) AS BIGINT) AS s
          FROM matrix WHERE month_offset <= 6 GROUP BY 1),
        base AS (
          SELECT s AS s0 FROM per_off WHERE month_offset = 0),
        pts AS (
          SELECT CAST(month_offset AS DOUBLE) AS k,
                 ln(CAST(s AS DOUBLE) / CAST(s0 AS DOUBLE)) AS y
          FROM per_off CROSS JOIN base
          WHERE month_offset >= 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_points,
                 sum(k) AS sk, sum(y) AS sy,
                 sum(k * y) AS sky, sum(k * k) AS skk
          FROM pts)
        SELECT n_points,
               round((sky - sk * sy / CAST(n_points AS DOUBLE))
                     / (skk - sk * sk / CAST(n_points AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS decay_slope,
               round(-CAST('0.6931471805599453' AS DOUBLE)
                     / ((sky - sk * sy / CAST(n_points AS DOUBLE))
                        / (skk - sk * sk / CAST(n_points AS DOUBLE))), 4)
                 + CAST(0.0 AS DOUBLE) AS half_life_months
        FROM agg
    """
    sql["item_item_cosine"] = """
        WITH all_pairs AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT p.* FROM all_pairs p
          JOIN (SELECT l_orderkey FROM all_pairs
                GROUP BY 1 HAVING count(*) <= 50) s USING (l_orderkey)),
        deg AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS deg
          FROM pairs GROUP BY 1),
        co AS (
          SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 CAST(count(*) AS BIGINT) AS co_count
          FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING count(*) >= 2)
        SELECT co.item_a, co.item_b, co.co_count,
               da.deg AS deg_a, db.deg AS deg_b,
               round(CAST(co_count AS DOUBLE)
                     / sqrt(CAST(da.deg AS DOUBLE)
                            * CAST(db.deg AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS cosine
        FROM co
        JOIN deg da ON da.l_partkey = co.item_a
        JOIN deg db ON db.l_partkey = co.item_b
        ORDER BY cosine DESC, item_a ASC, item_b ASC
        LIMIT 20
    """
    sql["kpss_stationarity"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        stats AS (
          SELECT CAST(sum(cents) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n
          FROM daily),
        base AS (
          SELECT row_number() OVER (ORDER BY day) AS i,
                 CAST(n * cents - tot AS BIGINT) AS ne, n
          FROM daily, stats),
        scaled AS (
          SELECT i, n, CAST(ne AS DOUBLE) AS e,
                 CAST(sum(ne) OVER (ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) AS s
          FROM base),
        g0 AS (
          SELECT max(n) AS n_days,
                 sum(s * s) AS ss2,
                 sum(e * e) AS gg0
          FROM scaled),
        gk AS (
          SELECT k, sum(a.e * b.e) AS gsum_k
          FROM scaled a, (VALUES (1),(2),(3),(4),(5),(6),(7)) t(k)
          JOIN scaled b ON b.i = a.i + k
          GROUP BY k),
        wsum AS (
          SELECT sum(CAST(2.0 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE)
                        - CAST(k AS DOUBLE) / CAST(8.0 AS DOUBLE))
                     * gsum_k) AS gsum
          FROM gk),
        j AS (
          SELECT n_days,
                 round((ss2 / (CAST(n_days AS DOUBLE)
                               * CAST(n_days AS DOUBLE)))
                       / ((gg0 + gsum) / CAST(n_days AS DOUBLE)), 4)
                   + CAST(0.0 AS DOUBLE) AS kpss_eta
          FROM g0 CROSS JOIN wsum)
        SELECT n_days, kpss_eta,
               CASE WHEN kpss_eta > CAST(0.463 AS DOUBLE)
                    THEN 'non-stationary' ELSE 'stationary' END
                 AS verdict_5pct
        FROM j
    """
    sql["dickey_fuller"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        pairs AS (
          SELECT CAST(b.cents AS HUGEINT) AS x,
                 CAST(a.cents - b.cents AS HUGEINT) AS y
          FROM idx a JOIN idx b ON a.i = b.i + 1),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(x * y) AS DOUBLE) AS sxy,
                 CAST(sum(x * x) AS DOUBLE) AS sxx,
                 CAST(sum(y * y) AS DOUBLE) AS syy
          FROM pairs),
        c AS (
          SELECT m,
                 sxx - sx * sx / CAST(m AS DOUBLE) AS cxx,
                 sxy - sx * sy / CAST(m AS DOUBLE) AS cxy,
                 syy - sy * sy / CAST(m AS DOUBLE) AS cyy
          FROM mom),
        fit AS (
          SELECT m, cxy / cxx AS beta,
                 round(
                   (cxy / cxx)
                   / sqrt((cyy - (cxy / cxx) * cxy)
                          / (CAST(m AS DOUBLE) - CAST(2.0 AS DOUBLE))
                          / cxx), 4) + CAST(0.0 AS DOUBLE) AS df_t_stat
          FROM c)
        SELECT m,
               round(beta, 6) + CAST(0.0 AS DOUBLE) AS beta,
               df_t_stat,
               CASE WHEN df_t_stat < CAST(-2.87 AS DOUBLE)
                    THEN 'reject-unit-root'
                    ELSE 'unit-root-plausible' END AS verdict_5pct
        FROM fit
    """
    sql["vocab_chao1_by_source"] = r"""
        WITH tok AS (
          SELECT source,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL),
        tf AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS c
          FROM tok WHERE w <> '' GROUP BY 1, 2),
        agg AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS v_observed,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2
          FROM tf GROUP BY 1)
        SELECT source, v_observed, f1, f2,
               round(CAST(v_observed AS DOUBLE)
                     + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                       / (CAST(2.0 AS DOUBLE) * CAST(f2 + 1 AS DOUBLE)),
                     4) + CAST(0.0 AS DOUBLE) AS chao1_estimate,
               round(CAST(v_observed AS DOUBLE)
                     / (CAST(v_observed AS DOUBLE)
                        + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                          / (CAST(2.0 AS DOUBLE)
                             * CAST(f2 + 1 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS coverage
        FROM agg ORDER BY source
    """
    sql["good_turing_counts"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        tf AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          FROM bg GROUP BY 1, 2),
        nr AS (
          SELECT c, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY 1),
        tot AS (
          SELECT CAST(sum(c) AS BIGINT) AS nn FROM tf)
        SELECT CAST(nr.c AS BIGINT) AS r, nr.n_r,
               round(CAST(nr.c + 1 AS DOUBLE)
                     * CAST(coalesce(nx.n_r, 0) AS DOUBLE)
                     / CAST(nr.n_r AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS r_star,
               round(CAST(nr.c * nr.n_r AS DOUBLE)
                     / CAST(tot.nn AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS band_mass
        FROM nr
        LEFT JOIN nr nx ON nx.c = nr.c + 1
        CROSS JOIN tot
        WHERE nr.c BETWEEN 1 AND 10
        ORDER BY r
    """
    sql["streaming_abandoned_purchases"] = """
        WITH p AS (
          SELECT user_id, event_id AS purchase_id,
                 CAST(ts AS DATE) AS purchase_date,
                 epoch_ns(ts) // 1000 AS p_us
          FROM events WHERE event_type = 'purchase'),
        v AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS v_us
          FROM events WHERE event_type = 'view'),
        mx AS (
          SELECT least(
                   (SELECT max(epoch_ns(ts) // 1000) FROM events
                    WHERE event_type = 'purchase'),
                   (SELECT max(epoch_ns(ts) // 1000) FROM events
                    WHERE event_type = 'view'))
                 - 10800000000 - 10000 AS h_us),
        below AS (
          SELECT p.* FROM p, mx WHERE p.p_us < mx.h_us),
        flags AS (
          SELECT b.purchase_id, b.purchase_date,
                 max(CASE WHEN v.user_id IS NOT NULL
                          THEN 1 ELSE 0 END) AS matched
          FROM below b LEFT JOIN v
            ON v.user_id = b.user_id
           AND v.v_us >= b.p_us - 3600000000
           AND v.v_us < b.p_us
          GROUP BY 1, 2)
        SELECT purchase_date,
               CAST(sum(matched) AS BIGINT) AS n_matched,
               CAST(sum(1 - matched) AS BIGINT) AS n_abandoned,
               round(CAST(sum(1 - matched) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS abandon_rate
        FROM flags GROUP BY 1 ORDER BY 1
    """
    sql["diff_in_diff_purchases"] = """
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        cells AS (
          SELECT CAST(user_id % 2 AS INT) AS seg,
                 CASE WHEN CAST(ts AS DATE) < d0.d0 + 15
                      THEN 0 ELSE 1 END AS post,
                 CAST(floor(round(coalesce(value, CAST(0.0 AS DOUBLE)), 2)
                            * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
          FROM events, d0 WHERE event_type = 'purchase'),
        agg AS (
          SELECT seg, post,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS s,
                 CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
          FROM cells GROUP BY 1, 2),
        st AS (
          SELECT seg, post, n,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                 (CAST(ss AS DOUBLE)
                  - CAST(n AS DOUBLE)
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))
                 / CAST(n AS DOUBLE) AS vn
          FROM agg),
        w AS (
          SELECT
            max(CASE WHEN seg = 0 AND post = 0 THEN m END) AS a_pre,
            max(CASE WHEN seg = 0 AND post = 1 THEN m END) AS a_post,
            max(CASE WHEN seg = 1 AND post = 0 THEN m END) AS b_pre,
            max(CASE WHEN seg = 1 AND post = 1 THEN m END) AS b_post,
            sum(vn) AS vn,
            CAST(sum(n) AS BIGINT) AS n_purchases
          FROM st)
        SELECT n_purchases,
               round(((a_post - a_pre) - (b_post - b_pre))
                     / CAST(100.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS did_estimate,
               round(sqrt(vn) / CAST(100.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS did_se,
               round(((a_post - a_pre) - (b_post - b_pre)) / sqrt(vn), 4)
                 + CAST(0.0 AS DOUBLE) AS did_t
        FROM w
    """
    sql["perplexity_filter_buckets"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        bc AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
        ctx AS (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS n_follow
          FROM bc GROUP BY 1),
        cont AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS n_precede
          FROM bc GROUP BY 1),
        types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc),
        pd AS (
          SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS ec
          FROM bg GROUP BY 1, 2, 3),
        scored AS (
          SELECT pd.doc_id,
                 CAST(sum(ec) AS BIGINT) AS n_bg,
                 sum(-CAST(ec AS DOUBLE) * ln(
                   greatest(CAST(bc.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
                            CAST(0.0 AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE)
                     / CAST(ctx.c1 AS DOUBLE)
                     * (CAST(cont.n_precede AS DOUBLE)
                        / CAST(types.n_types AS DOUBLE)))) AS nll
          FROM pd
          JOIN bc USING (w1, w2)
          JOIN ctx USING (w1)
          JOIN cont USING (w2)
          CROSS JOIN types
          GROUP BY 1),
        bits AS (
          SELECT doc_id, n_bg,
                 round(nll / CAST('0.6931471805599453' AS DOUBLE)
                       / CAST(n_bg AS DOUBLE), 6)
                   + CAST(0.0 AS DOUBLE) AS b
          FROM scored),
        ranked AS (
          SELECT n_bg, b,
                 row_number() OVER (ORDER BY b ASC, doc_id ASC) AS rn,
                 count(*) OVER () AS n
          FROM bits)
        SELECT CAST((rn - 1) * 5 // n + 1 AS INT) AS quintile,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(min(b), 4) + CAST(0.0 AS DOUBLE) AS min_bits,
               round(max(b), 4) + CAST(0.0 AS DOUBLE) AS max_bits,
               CAST(sum(n_bg) AS BIGINT) AS total_bigrams
        FROM ranked GROUP BY 1 ORDER BY 1
    """
    sql["centroid_label_confusion"] = """
        WITH e AS (
          SELECT vec_id, label,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
        cents AS (
          SELECT label AS c_label, dim,
                 round(avg(v), 6) + CAST(0.0 AS DOUBLE) AS cv
          FROM e GROUP BY 1, 2),
        cnorm AS (
          SELECT c_label, sqrt(sum(cv * cv)) AS cn
          FROM cents GROUP BY 1),
        vnorm AS (
          SELECT vec_id, sqrt(sum(v * v)) AS vn
          FROM e GROUP BY 1),
        dots AS (
          SELECT e.vec_id, e.label, c.c_label,
                 sum(e.v * c.cv) AS dot
          FROM e JOIN cents c USING (dim)
          GROUP BY 1, 2, 3),
        cos AS (
          SELECT d.vec_id, d.label, d.c_label,
                 round(d.dot / (cn.cn * vn.vn), 6)
                   + CAST(0.0 AS DOUBLE) AS cs
          FROM dots d
          JOIN cnorm cn USING (c_label)
          JOIN vnorm vn USING (vec_id)),
        assigned AS (
          SELECT vec_id, label, c_label,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, c_label ASC) AS r
          FROM cos)
        SELECT CAST(label AS INT) AS true_label,
               CAST(c_label AS INT) AS pred_label,
               CAST(count(*) AS BIGINT) AS n
        FROM assigned WHERE r = 1
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["mde_for_current_traffic"] = """
        WITH per_user AS (
          SELECT user_id,
                 CASE WHEN min(CASE WHEN event_type = 'purchase'
                                    THEN ts END)
                           <= min(ts) + INTERVAL 3 DAY
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY 1),
        base AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(conv) AS BIGINT) AS n_conv
          FROM per_user),
        g AS (
          SELECT base.*, CAST(power AS DOUBLE) AS power,
                 CAST(zb AS DOUBLE) AS zb
          FROM base, (VALUES (0.8, 0.841621), (0.9, 1.281552))
               t(power, zb)),
        c AS (
          SELECT power, n_users // 2 AS n_per_arm,
                 CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
                 zb
          FROM g),
        m AS (
          SELECT power, n_per_arm, p,
                 (CAST(1.959964 AS DOUBLE) + zb)
                   * sqrt(CAST(2.0 AS DOUBLE) * p
                          * (CAST(1.0 AS DOUBLE) - p)
                          / CAST(n_per_arm AS DOUBLE)) AS mde
          FROM c)
        SELECT power, n_per_arm,
               round(p, 6) + CAST(0.0 AS DOUBLE) AS baseline_rate,
               round(mde, 6) + CAST(0.0 AS DOUBLE) AS mde_abs,
               CASE WHEN p > CAST(0.0 AS DOUBLE)
                    THEN round(mde / p, 6) + CAST(0.0 AS DOUBLE) END
                 AS mde_rel
        FROM m ORDER BY power
    """
    sql["breusch_pagan_daily"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CAST(i AS HUGEINT)) AS DOUBLE) AS sx,
                 CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sy,
                 CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(i AS HUGEINT) * i) AS DOUBLE) AS sxx
          FROM idx),
        fit AS (
          SELECT n_days,
                 (sxy - sx * sy / CAST(n_days AS DOUBLE))
                   / (sxx - sx * sx / CAST(n_days AS DOUBLE)) AS b,
                 sy / CAST(n_days AS DOUBLE)
                   - (sxy - sx * sy / CAST(n_days AS DOUBLE))
                     / (sxx - sx * sx / CAST(n_days AS DOUBLE))
                     * (sx / CAST(n_days AS DOUBLE)) AS a
          FROM mom),
        aux AS (
          SELECT f.n_days,
                 CAST(i AS DOUBLE) AS x,
                 (CAST(cents AS DOUBLE) - f.a - f.b * CAST(i AS DOUBLE))
                 * (CAST(cents AS DOUBLE) - f.a - f.b * CAST(i AS DOUBLE))
                   AS u
          FROM idx, fit f),
        m2 AS (
          SELECT max(n_days) AS n_days,
                 sum(x) AS ax, sum(u) AS au,
                 sum(x * u) AS axu, sum(x * x) AS axx,
                 sum(u * u) AS auu
          FROM aux),
        bp AS (
          SELECT n_days,
                 round(CAST(n_days AS DOUBLE)
                   * ((axu - ax * au / CAST(n_days AS DOUBLE))
                      / (axx - ax * ax / CAST(n_days AS DOUBLE)))
                   * (axu - ax * au / CAST(n_days AS DOUBLE))
                   / (auu - au * au / CAST(n_days AS DOUBLE)), 4)
                 + CAST(0.0 AS DOUBLE) AS bp_stat
          FROM m2)
        SELECT n_days, bp_stat,
               CASE WHEN bp_stat > CAST(3.841 AS DOUBLE)
                    THEN 'heteroskedastic' ELSE 'homoskedastic' END
                 AS verdict_5pct
        FROM bp
    """
    sql["partial_corr_funnel"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS y,
                 CAST(sum(CASE WHEN event_type = 'signup'
                               THEN 1 ELSE 0 END) AS BIGINT) AS z
          FROM events GROUP BY 1),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                 CAST(sum(CAST(z AS HUGEINT)) AS DOUBLE) AS sz,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
                 CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS szz,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * z) AS DOUBLE) AS sxz,
                 CAST(sum(CAST(y AS HUGEINT) * z) AS DOUBLE) AS syz
          FROM daily),
        c AS (
          SELECT n_days,
                 sxy - sx * sy / CAST(n_days AS DOUBLE) AS cxy,
                 sxz - sx * sz / CAST(n_days AS DOUBLE) AS cxz,
                 syz - sy * sz / CAST(n_days AS DOUBLE) AS cyz,
                 sxx - sx * sx / CAST(n_days AS DOUBLE) AS cxx,
                 syy - sy * sy / CAST(n_days AS DOUBLE) AS cyy,
                 szz - sz * sz / CAST(n_days AS DOUBLE) AS czz
          FROM mom),
        r AS (
          SELECT n_days,
                 cxy / sqrt(cxx * cyy) AS rxy,
                 cxz / sqrt(cxx * czz) AS rxz,
                 cyz / sqrt(cyy * czz) AS rzy
          FROM c)
        SELECT n_days,
               round(rxy, 6) + CAST(0.0 AS DOUBLE) AS r_view_purchase,
               round((rxy - rxz * rzy)
                     / sqrt((CAST(1.0 AS DOUBLE) - rxz * rxz)
                            * (CAST(1.0 AS DOUBLE) - rzy * rzy)), 6)
                 + CAST(0.0 AS DOUBLE) AS r_view_purchase_given_signup
        FROM r
    """
    sql["var_cvar_daily"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1),
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        chg AS (
          SELECT CAST(a.cents - b.cents AS BIGINT) AS d
          FROM idx a JOIN idx b ON a.i = b.i + 1),
        v AS (
          SELECT round(quantile_cont(d, 0.05) / CAST(100.0 AS DOUBLE), 6)
                   + CAST(0.0 AS DOUBLE) AS var_5pct_usd,
                 CAST(count(*) AS BIGINT) AS n_changes
          FROM chg),
        tail AS (
          SELECT v.var_5pct_usd, v.n_changes, chg.d
          FROM chg, v
          WHERE CAST(chg.d AS DOUBLE) / CAST(100.0 AS DOUBLE)
                  <= v.var_5pct_usd)
        SELECT max(n_changes) AS n_changes,
               CAST(count(*) AS BIGINT) AS n_tail,
               max(var_5pct_usd) AS var_5pct_usd,
               round(CAST(sum(d) AS DOUBLE) / count(*)
                     / CAST(100.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS cvar_5pct_usd
        FROM tail
    """
    sql["theil_decomposition_nations"] = """
        WITH per_cust AS (
          SELECT o.o_custkey, c.c_nationkey,
                 CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cc
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
        tot AS (
          SELECT CAST(sum(cc) AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS n
          FROM per_cust),
        g AS (
          SELECT p.*, tot.t, tot.n,
                 (CAST(cc AS DOUBLE) / CAST(t AS DOUBLE))
                   * ln(CAST(cc AS DOUBLE) * CAST(n AS DOUBLE)
                        / CAST(t AS DOUBLE)) AS term
          FROM per_cust p, tot),
        per_nation AS (
          SELECT c_nationkey,
                 CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(sum(cc) AS BIGINT) AS cg,
                 max(t) AS t, max(n) AS n,
                 sum(term) AS t_total_part
          FROM g GROUP BY 1)
        SELECT c_nationkey, n_cust,
               round(CAST(cg AS DOUBLE) / CAST(t AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS revenue_share,
               round((CAST(cg AS DOUBLE) / CAST(t AS DOUBLE))
                     * ln((CAST(cg AS DOUBLE) / CAST(t AS DOUBLE))
                          * CAST(n AS DOUBLE)
                          / CAST(n_cust AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS theil_between_part,
               round(t_total_part
                     - (CAST(cg AS DOUBLE) / CAST(t AS DOUBLE))
                       * ln((CAST(cg AS DOUBLE) / CAST(t AS DOUBLE))
                            * CAST(n AS DOUBLE)
                            / CAST(n_cust AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS theil_within_part
        FROM per_nation ORDER BY c_nationkey
    """
    sql["dedup_cross_source_report"] = r"""
        WITH sf AS (
          SELECT DISTINCT source,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS fp
          FROM documents WHERE text IS NOT NULL)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared_docs
        FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["ngram_coverage_eval_train"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        train_bg AS (
          SELECT DISTINCT w1, w2 FROM bg WHERE doc_id % 10 <> 0),
        eval_bg AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS ec
          FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
        flagged AS (
          SELECT e.ec,
                 CASE WHEN t.w1 IS NOT NULL THEN 1 ELSE 0 END AS seen
          FROM eval_bg e LEFT JOIN train_bg t USING (w1, w2)),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS eval_types,
                 CAST(sum(ec) AS BIGINT) AS eval_tokens,
                 CAST(sum(seen) AS BIGINT) AS covered_types,
                 CAST(sum(CASE WHEN seen = 1 THEN ec ELSE 0 END)
                      AS BIGINT) AS covered_tokens
          FROM flagged)
        SELECT eval_types, covered_types, eval_tokens, covered_tokens,
               round(CAST(covered_types AS DOUBLE)
                     / CAST(eval_types AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS type_coverage,
               round(CAST(covered_tokens AS DOUBLE)
                     / CAST(eval_tokens AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS mass_coverage
        FROM agg
    """
    sql["embedding_norm_outliers"] = """
        WITH norms AS (
          SELECT label,
                 round(sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
                   AS nrm
          FROM embeddings),
        med AS (
          SELECT label, quantile_cont(nrm, 0.5) AS med
          FROM norms GROUP BY 1),
        mad AS (
          SELECT n.label, max(m.med) AS med,
                 quantile_cont(abs(n.nrm - m.med), 0.5) AS mad,
                 CAST(count(*) AS BIGINT) AS n_vectors
          FROM norms n JOIN med m USING (label)
          GROUP BY 1),
        thr AS (
          SELECT label, med, n_vectors,
                 round(CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)
                       * mad, 6) + CAST(0.0 AS DOUBLE) AS t
          FROM mad)
        SELECT CAST(n.label AS INT) AS label,
               max(t.n_vectors) AS n_vectors,
               round(max(t.med), 6) + CAST(0.0 AS DOUBLE) AS median_norm,
               CAST(sum(CASE WHEN abs(n.nrm - t.med) > t.t
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM norms n JOIN thr t USING (label)
        GROUP BY 1 ORDER BY 1
    """
    sql["dup_cluster_size_hist"] = r"""
        WITH clusters AS (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS fp,
                 CAST(count(*) AS BIGINT) AS sz
          FROM documents WHERE text IS NOT NULL GROUP BY 1)
        SELECT CAST(CASE WHEN sz >= 5 THEN 5 ELSE sz END AS INT)
                 AS cluster_size_bucket,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(sz) AS BIGINT) AS n_docs,
               CAST(sum(sz - 1) AS BIGINT) AS n_removed_keep_one
        FROM clusters GROUP BY 1 ORDER BY 1
    """
    # round-9 additions
    sql["streaming_timeout_sessions"] = """
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us FROM events),
        mx AS (SELECT max(us) AS max_us FROM ev),
        marked AS (
          SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        islands AS (
          SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM marked),
        sess AS (
          SELECT user_id,
                 min(us) AS session_start_us,
                 max(us) AS session_end_us,
                 CAST(count(*) AS INT) AS n_events
          FROM islands GROUP BY user_id, grp),
        tagged AS (
          SELECT user_id, session_start_us, session_end_us, n_events,
                 CASE WHEN lead(session_start_us) OVER (
                        PARTITION BY user_id ORDER BY session_start_us)
                      IS NOT NULL THEN 'gap' ELSE 'timeout' END
                   AS closed_by
          FROM sess)
        SELECT user_id, session_start_us, session_end_us, n_events,
               closed_by
        FROM tagged, mx
        WHERE session_end_us + 1800000000 + 10000
              <= max_us - 3600000000
    """
    #: shared 1995 daily integer-cents spine (DuckDB side of
    #: _daily_cents_1995)
    _DAILY_CENTS = """
        daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
          GROUP BY 1)
    """
    sql["jarque_bera_daily"] = f"""
        WITH {_DAILY_CENTS},
        mu AS (
          SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS m,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM daily),
        mom AS (
          SELECT max(n_days) AS n_days,
                 avg((CAST(cents AS DOUBLE) - m) * (CAST(cents AS DOUBLE) - m))
                   AS m2,
                 avg((CAST(cents AS DOUBLE) - m) * (CAST(cents AS DOUBLE) - m)
                     * (CAST(cents AS DOUBLE) - m)) AS m3,
                 avg((CAST(cents AS DOUBLE) - m) * (CAST(cents AS DOUBLE) - m)
                     * (CAST(cents AS DOUBLE) - m) * (CAST(cents AS DOUBLE) - m))
                   AS m4
          FROM daily, mu GROUP BY m),
        stats AS (
          SELECT n_days,
                 m3 / (m2 ^ CAST(1.5 AS DOUBLE)) AS s,
                 m4 / (m2 * m2) AS k
          FROM mom),
        jb AS (
          SELECT n_days, s, k,
                 CAST(n_days AS DOUBLE) / CAST(6.0 AS DOUBLE)
                 * (s * s + (k - CAST(3.0 AS DOUBLE))
                          * (k - CAST(3.0 AS DOUBLE))
                          / CAST(4.0 AS DOUBLE)) AS q
          FROM stats)
        SELECT n_days,
               round(s, 4) + CAST(0.0 AS DOUBLE) AS skewness,
               round(k - CAST(3.0 AS DOUBLE), 4) + CAST(0.0 AS DOUBLE)
                 AS excess_kurtosis,
               round(q, 4) + CAST(0.0 AS DOUBLE) AS jb_stat,
               CASE WHEN round(q, 4) > CAST(5.991 AS DOUBLE)
                    THEN 'non_normal' ELSE 'normal' END AS verdict_5pct
        FROM jb
    """
    sql["durbin_watson_daily"] = f"""
        WITH {_DAILY_CENTS},
        idx AS (
          SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CAST(i AS HUGEINT)) AS DOUBLE) AS sx,
                 CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sy,
                 CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(i AS HUGEINT) * i) AS DOUBLE) AS sxx
          FROM idx),
        fit AS (
          SELECT n_days,
                 (sxy - sx * sy / CAST(n_days AS DOUBLE))
                   / (sxx - sx * sx / CAST(n_days AS DOUBLE)) AS b,
                 sy / CAST(n_days AS DOUBLE)
                   - (sxy - sx * sy / CAST(n_days AS DOUBLE))
                     / (sxx - sx * sx / CAST(n_days AS DOUBLE))
                     * (sx / CAST(n_days AS DOUBLE)) AS a
          FROM mom),
        res AS (
          SELECT f.n_days, i,
                 CAST(cents AS DOUBLE) - f.a - f.b * CAST(i AS DOUBLE) AS e
          FROM idx, fit f),
        lagged AS (
          SELECT n_days, e, lag(e) OVER (ORDER BY i) AS ep FROM res),
        agg AS (
          SELECT max(n_days) AS n_days,
                 sum(CASE WHEN ep IS NOT NULL
                          THEN (e - ep) * (e - ep) END) AS num,
                 sum(e * e) AS den
          FROM lagged)
        SELECT n_days,
               round(num / den, 4) + CAST(0.0 AS DOUBLE) AS dw_stat,
               CASE WHEN round(num / den, 4) + CAST(0.0 AS DOUBLE)
                         < CAST(1.5 AS DOUBLE) THEN 'positive_autocorr'
                    WHEN round(num / den, 4) + CAST(0.0 AS DOUBLE)
                         > CAST(2.5 AS DOUBLE) THEN 'negative_autocorr'
                    ELSE 'none' END AS verdict
        FROM agg
    """
    sql["runs_test_daily"] = f"""
        WITH {_DAILY_CENTS},
        ranked AS (
          SELECT cents,
                 row_number() OVER (ORDER BY cents, day) AS rn,
                 count(*) OVER () AS n
          FROM daily),
        med AS (
          SELECT cents AS m FROM ranked
          WHERE rn = CAST(floor((n + 1) / CAST(2.0 AS DOUBLE)) AS BIGINT)),
        signed AS (
          SELECT day, CASE WHEN cents > m THEN 1 ELSE 0 END AS s
          FROM daily, med WHERE cents <> m),
        brk AS (
          SELECT s,
                 CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                      OR lag(s) OVER (ORDER BY day) <> s
                      THEN 1 ELSE 0 END AS b
          FROM signed),
        runs AS (
          SELECT CAST(sum(b) AS BIGINT) AS n_runs,
                 CAST(sum(s) AS BIGINT) AS n_above,
                 CAST(sum(1 - s) AS BIGINT) AS n_below
          FROM brk),
        z AS (
          SELECT n_runs, n_above, n_below,
                 (CAST(n_runs AS DOUBLE)
                  - (CAST(2.0 AS DOUBLE) * n_above * n_below
                     / (CAST(n_above AS DOUBLE) + n_below)
                     + CAST(1.0 AS DOUBLE)))
                 / sqrt(CAST(2.0 AS DOUBLE) * n_above * n_below
                        * (CAST(2.0 AS DOUBLE) * n_above * n_below
                           - n_above - n_below)
                        / ((CAST(n_above AS DOUBLE) + n_below)
                           * (CAST(n_above AS DOUBLE) + n_below)
                           * (CAST(n_above AS DOUBLE) + n_below
                              - CAST(1.0 AS DOUBLE)))) AS zz
          FROM runs)
        SELECT n_runs, n_above, n_below,
               round(zz, 4) + CAST(0.0 AS DOUBLE) AS z_stat,
               CASE WHEN abs(round(zz, 4)) > CAST(1.96 AS DOUBLE)
                    THEN 'non_random' ELSE 'random' END AS verdict_5pct
        FROM z
    """
    _LB_TERMS = " + ".join(
        f"(c{k} / c0) * (c{k} / c0) "
        f"/ (CAST(n_days AS DOUBLE) - CAST({k}.0 AS DOUBLE))"
        for k in range(1, 8)
    )
    _LB_LAGS = ", ".join(
        f"lag(d, {k}) OVER (ORDER BY day) AS d{k}" for k in range(1, 8)
    )
    _LB_SUMS = ", ".join(
        f"sum(d * d{k}) AS c{k}" for k in range(1, 8)
    )
    sql["ljung_box_daily"] = f"""
        WITH {_DAILY_CENTS},
        mu AS (
          SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS m
          FROM daily),
        dev AS (
          SELECT day, CAST(cents AS DOUBLE) - m AS d FROM daily, mu),
        lagged AS (
          SELECT d, {_LB_LAGS} FROM dev),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 sum(d * d) AS c0,
                 {_LB_SUMS}
          FROM lagged),
        q AS (
          SELECT n_days,
                 CAST(n_days AS DOUBLE)
                 * (CAST(n_days AS DOUBLE) + CAST(2.0 AS DOUBLE))
                 * ({_LB_TERMS}) AS lb
          FROM agg)
        SELECT n_days,
               round(lb, 4) + CAST(0.0 AS DOUBLE) AS lb_stat,
               CASE WHEN round(lb, 4) > CAST(14.067 AS DOUBLE)
                    THEN 'autocorrelated' ELSE 'white_noise' END
                 AS verdict_5pct
        FROM q
    """
    sql["grubbs_outlier_daily"] = f"""
        WITH {_DAILY_CENTS},
        mu AS (
          SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS m,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM daily),
        devs AS (
          SELECT day, n_days,
                 CAST(cents AS DOUBLE) - m AS d
          FROM daily, mu),
        s2 AS (
          SELECT max(n_days) AS n_days,
                 sum(d * d) / (CAST(max(n_days) AS DOUBLE)
                               - CAST(1.0 AS DOUBLE)) AS v
          FROM devs),
        top AS (
          SELECT day AS outlier_day, abs(d) AS ad
          FROM devs ORDER BY abs(d) DESC, day ASC LIMIT 1)
        SELECT n_days, outlier_day,
               round(ad / sqrt(v), 4) + CAST(0.0 AS DOUBLE) AS g_stat,
               CASE WHEN round(ad / sqrt(v), 4) > CAST(3.0 AS DOUBLE)
                    THEN 'outlier' ELSE 'clean' END AS verdict_3sigma
        FROM s2, top
    """
    sql["kruskal_wallis_regions"] = """
        WITH labeled AS (
          SELECT r.r_name,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey),
        by_rc AS (
          SELECT r_name, cents, CAST(count(*) AS BIGINT) AS t_rc
          FROM labeled GROUP BY 1, 2),
        by_c AS (
          SELECT cents, CAST(sum(t_rc) AS BIGINT) AS t_all
          FROM by_rc GROUP BY 1),
        ranked AS (
          SELECT cents, t_all,
                 CAST(sum(t_all) OVER (ORDER BY cents) - t_all AS BIGINT)
                   AS below
          FROM by_c),
        per_region AS (
          -- rank-sum in HUGEINT (mirrors Spark's DECIMAL(38,0)): a
          -- region rank-sum overflows int64 at the 100 TB posture
          SELECT r_name,
                 CAST(sum(t_rc) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(t_rc AS HUGEINT)
                          * (2 * below + t_all + 1)) AS HUGEINT)
                   AS two_r
          FROM by_rc JOIN ranked USING (cents)
          GROUP BY 1),
        gtot AS (
          SELECT CAST(sum(n_orders) AS BIGINT) AS n,
                 sum((CAST(two_r AS DOUBLE) / CAST(2.0 AS DOUBLE))
                     * (CAST(two_r AS DOUBLE) / CAST(2.0 AS DOUBLE))
                     / CAST(n_orders AS DOUBLE)) AS sum_r2n
          FROM per_region),
        tie AS (
          SELECT CAST(sum(CAST(t_all AS HUGEINT) * t_all * t_all - t_all)
                      AS HUGEINT) AS tie_sum
          FROM by_c),
        scalar AS (
          SELECT (CAST(12.0 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
                                          + CAST(1.0 AS DOUBLE)))
                  * sum_r2n
                  - CAST(3.0 AS DOUBLE) * (CAST(n AS DOUBLE)
                                           + CAST(1.0 AS DOUBLE)))
                 / (CAST(1.0 AS DOUBLE)
                    - CAST(tie_sum AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h
          FROM gtot, tie)
        SELECT r_name, n_orders,
               round(CAST(two_r AS DOUBLE) / CAST(2.0 AS DOUBLE)
                     / CAST(n_orders AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS avg_rank,
               round(h, 4) + CAST(0.0 AS DOUBLE) AS h_stat,
               CASE WHEN round(h, 4) > CAST(9.488 AS DOUBLE)
                    THEN 'reject_equal' ELSE 'no_difference' END
                 AS verdict_5pct
        FROM per_region, scalar
        ORDER BY r_name
    """
    sql["brown_forsythe_weekday"] = f"""
        WITH {_DAILY_CENTS},
        dows AS (
          SELECT CAST(isodow(day) AS INT) AS isodow, cents FROM daily),
        med AS (
          SELECT isodow, quantile_cont(cents, 0.5) AS m
          FROM dows GROUP BY 1),
        z AS (
          SELECT d.isodow, abs(CAST(d.cents AS DOUBLE) - m.m) AS z
          FROM dows d JOIN med m USING (isodow)),
        grp AS (
          SELECT isodow, CAST(count(*) AS BIGINT) AS n_days,
                 sum(z) / CAST(count(*) AS DOUBLE) AS zbar
          FROM z GROUP BY 1),
        within AS (
          SELECT sum((z.z - grp.zbar) * (z.z - grp.zbar)) AS ssw
          FROM z JOIN grp USING (isodow)),
        tot AS (
          SELECT sum(zbar * CAST(n_days AS DOUBLE)) AS tz,
                 CAST(sum(n_days) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k
          FROM grp),
        between_ AS (
          SELECT sum(CAST(n_days AS DOUBLE)
                     * (zbar - tz / CAST(n AS DOUBLE))
                     * (zbar - tz / CAST(n AS DOUBLE))) AS ssb,
                 max(n) AS n, max(k) AS k
          FROM grp, tot),
        scalar AS (
          SELECT ssb / (CAST(k AS DOUBLE) - CAST(1.0 AS DOUBLE))
                 / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f
          FROM between_, within)
        SELECT isodow, n_days,
               round(zbar, 2) + CAST(0.0 AS DOUBLE) AS mean_abs_dev,
               round(f, 4) + CAST(0.0 AS DOUBLE) AS bf_f_stat,
               CASE WHEN round(f, 4) > CAST(2.12 AS DOUBLE)
                    THEN 'heteroscedastic' ELSE 'homoscedastic' END
                 AS verdict_5pct
        FROM grp, scalar
        ORDER BY isodow
    """
    sql["overdispersion_daily_events"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        mom AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
          FROM daily GROUP BY 1),
        stats AS (
          SELECT event_type, n_days,
                 CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_d,
                 CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                 / (CAST(n_days AS DOUBLE)
                    * (CAST(n_days AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                   AS var_d
          FROM mom)
        SELECT event_type, n_days,
               round(mean_d, 4) + CAST(0.0 AS DOUBLE) AS mean_daily,
               round(var_d, 4) + CAST(0.0 AS DOUBLE) AS var_daily,
               round(var_d / mean_d, 4) + CAST(0.0 AS DOUBLE)
                 AS dispersion_index,
               CASE WHEN round(var_d / mean_d, 4) > CAST(1.2 AS DOUBLE)
                    THEN 'overdispersed' ELSE 'poisson_like' END AS verdict
        FROM stats
        ORDER BY event_type
    """
    sql["turning_points_test"] = f"""
        WITH {_DAILY_CENTS},
        lagged AS (
          SELECT cents,
                 lag(cents) OVER (ORDER BY day) AS p,
                 lead(cents) OVER (ORDER BY day) AS f
          FROM daily),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CASE WHEN p IS NOT NULL AND f IS NOT NULL
                                AND ((p < cents AND cents > f)
                                     OR (p > cents AND cents < f))
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS turning_points
          FROM lagged),
        stats AS (
          SELECT n_days, turning_points,
                 CAST(2.0 AS DOUBLE) * (CAST(n_days AS DOUBLE)
                                        - CAST(2.0 AS DOUBLE))
                 / CAST(3.0 AS DOUBLE) AS e,
                 (CAST(16.0 AS DOUBLE) * CAST(n_days AS DOUBLE)
                  - CAST(29.0 AS DOUBLE)) / CAST(90.0 AS DOUBLE) AS v
          FROM agg)
        SELECT n_days, turning_points,
               round(e, 4) + CAST(0.0 AS DOUBLE) AS expected_tp,
               round((CAST(turning_points AS DOUBLE) - e) / sqrt(v), 4)
                 + CAST(0.0 AS DOUBLE) AS z_stat,
               CASE WHEN abs(round((CAST(turning_points AS DOUBLE) - e)
                                   / sqrt(v), 4)) > CAST(1.96 AS DOUBLE)
                    THEN 'non_random' ELSE 'random' END AS verdict_5pct
        FROM stats
    """
    sql["dau_mau_stickiness"] = """
        WITH dau AS (
          SELECT date_trunc('month', ts)::DATE AS month,
                 CAST(ts AS DATE) AS day,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS dau
          FROM events GROUP BY 1, 2),
        dsum AS (
          SELECT month, CAST(sum(dau) AS BIGINT) AS dau_sum,
                 CAST(count(*) AS BIGINT) AS active_days
          FROM dau GROUP BY 1),
        mau AS (
          SELECT date_trunc('month', ts)::DATE AS month,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS mau
          FROM events GROUP BY 1)
        SELECT month, active_days, mau,
               round(CAST(dau_sum AS DOUBLE) / CAST(active_days AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS avg_dau,
               round(CAST(dau_sum AS DOUBLE) / CAST(active_days AS DOUBLE)
                     / CAST(mau AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS stickiness
        FROM dsum JOIN mau USING (month)
        ORDER BY month
    """
    sql["cohort_ltv_curve"] = """
        WITH o2 AS (
          SELECT o_custkey,
                 CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(min(year(CAST(o_orderdate AS DATE)))
                        OVER (PARTITION BY o_custkey) AS INT) AS cohort_year
          FROM orders),
        sizes AS (
          SELECT cohort_year,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS cohort_size
          FROM o2 GROUP BY 1),
        rev AS (
          SELECT cohort_year, CAST(yr - cohort_year AS INT) AS age_years,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM o2 GROUP BY 1, 2),
        cum AS (
          SELECT cohort_year, age_years, n_orders,
                 CAST(sum(cents) OVER (PARTITION BY cohort_year
                                       ORDER BY age_years) AS BIGINT)
                   AS cum_cents
          FROM rev)
        SELECT c.cohort_year, c.age_years, s.cohort_size, c.n_orders,
               round(CAST(cum_cents AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS cum_revenue,
               round(CAST(cum_cents AS DOUBLE) / CAST(100.0 AS DOUBLE)
                     / CAST(s.cohort_size AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS ltv_per_customer
        FROM cum c JOIN sizes s USING (cohort_year)
        ORDER BY cohort_year, age_years
    """
    sql["rfm_migration_matrix"] = """
        WITH h1 AS (
          SELECT o_custkey,
                 CAST(ntile(5) OVER (
                   ORDER BY sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) DESC,
                            o_custkey ASC) AS INT) AS q_h1
          FROM orders
          WHERE year(CAST(o_orderdate AS DATE)) <= 1997
          GROUP BY o_custkey),
        h2 AS (
          SELECT o_custkey,
                 CAST(ntile(5) OVER (
                   ORDER BY sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) DESC,
                            o_custkey ASC) AS INT) AS q_h2
          FROM orders
          WHERE year(CAST(o_orderdate AS DATE)) >= 1998
          GROUP BY o_custkey)
        SELECT CAST(coalesce(q_h1, 0) AS INT) AS q_h1,
               CAST(coalesce(q_h2, 0) AS INT) AS q_h2,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM h1 FULL OUTER JOIN h2 USING (o_custkey)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """
    sql["bigram_entropy_rate"] = """
        WITH base AS (
          SELECT source, doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 2),
        e AS (
          SELECT source, doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        bg AS (
          SELECT source, w AS w1,
                 lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
          FROM e),
        c12 AS (
          SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
        terms AS (
          SELECT source, c12,
                 CAST(sum(c12) OVER (PARTITION BY source, w1) AS BIGINT)
                   AS c1
          FROM c12),
        agg AS (
          SELECT source,
                 CAST(sum(c12) AS BIGINT) AS n_bigrams,
                 CAST(count(*) AS BIGINT) AS distinct_bigrams,
                 sum(CAST(c12 AS DOUBLE)
                     * ln(CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE)))
                   AS hsum
          FROM terms GROUP BY 1)
        SELECT source, n_bigrams, distinct_bigrams,
               round(hsum / (CAST(n_bigrams AS DOUBLE)
                             * ln(CAST(2.0 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS cond_entropy_bits
        FROM agg
        ORDER BY source
    """
    sql["unigram_sampling_075"] = """
        WITH counts AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS tok
                FROM documents)
          WHERE tok <> '' GROUP BY 1),
        tot AS (
          SELECT sum(exp(CAST(0.75 AS DOUBLE) * ln(CAST(c AS DOUBLE))))
                   AS wsum,
                 CAST(sum(c) AS BIGINT) AS csum
          FROM counts)
        SELECT tok, c,
               round(CAST(c AS DOUBLE) / CAST(csum AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS p_raw,
               round(exp(CAST(0.75 AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                     / wsum, 6)
                 + CAST(0.0 AS DOUBLE) AS p_smoothed
        FROM counts, tot
        ORDER BY c DESC, tok ASC
        LIMIT 20
    """
    sql["embedding_isotropy_probe"] = """
        WITH e AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (
          SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
        u AS (
          SELECT e.i, e.v / n.nrm AS u
          FROM e JOIN norms n USING (vec_id)),
        dims AS (
          SELECT i, sum(u) AS s, CAST(count(*) AS BIGINT) AS n
          FROM u GROUP BY 1),
        agg AS (
          SELECT CAST(max(n) AS BIGINT) AS n_vectors,
                 CAST(count(*) AS BIGINT) AS n_dims,
                 sum(s * s) AS ssq
          FROM dims)
        SELECT n_vectors, n_dims,
               round((ssq - CAST(n_vectors AS DOUBLE))
                     / (CAST(n_vectors AS DOUBLE)
                        * (CAST(n_vectors AS DOUBLE)
                           - CAST(1.0 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS avg_pairwise_cosine,
               round(sqrt(ssq) / CAST(n_vectors AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS mean_vector_norm
        FROM agg
    """
    sql["streaming_running_totals_complete"] = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(floor(coalesce(value, 0.0) * 100 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / CAST(100.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """
    sql["streaming_two_source_union"] = """
        SELECT CAST(ts AS DATE) AS date, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(floor(coalesce(value, 0.0) * 100 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / CAST(100.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        HAVING CAST(ts AS DATE) + INTERVAL 1 DAY
                 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        ORDER BY 1, 2
    """
    sql["pacf_daily_revenue"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(floor(round(coalesce(sum(value),
                                           CAST(0.0 AS DOUBLE)), 2) * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        lagged AS (
          SELECT cents,
                 lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
                 lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4
          FROM daily WINDOW w AS (ORDER BY day)),
        r AS (
          SELECT corr(cents, l1) AS r1, corr(cents, l2) AS r2,
                 corr(cents, l3) AS r3, corr(cents, l4) AS r4
          FROM lagged),
        lev1 AS (
          SELECT r1, r2, r3, r4, r1 AS p1,
                 (r2 - r1 * r1) / (CAST(1.0 AS DOUBLE) - r1 * r1) AS p2
          FROM r),
        lev2 AS (
          SELECT *, r1 - p2 * r1 AS a21 FROM lev1),
        lev3 AS (
          SELECT *,
                 (r3 - (a21 * r2 + p2 * r1))
                 / (CAST(1.0 AS DOUBLE) - (a21 * r1 + p2 * r2)) AS p3
          FROM lev2),
        lev4 AS (
          SELECT *, a21 - p3 * p2 AS a31, p2 - p3 * a21 AS a32 FROM lev3),
        lev5 AS (
          SELECT *,
                 (r4 - (a31 * r3 + a32 * r2 + p3 * r1))
                 / (CAST(1.0 AS DOUBLE)
                    - (a31 * r1 + a32 * r2 + p3 * r3)) AS p4
          FROM lev4),
        final AS (
          SELECT round(r1, 6) + CAST(0.0 AS DOUBLE) AS c1,
                 round(r2, 6) + CAST(0.0 AS DOUBLE) AS c2,
                 round(r3, 6) + CAST(0.0 AS DOUBLE) AS c3,
                 round(r4, 6) + CAST(0.0 AS DOUBLE) AS c4,
                 round(p1, 5) + CAST(0.0 AS DOUBLE) AS q1,
                 round(p2, 5) + CAST(0.0 AS DOUBLE) AS q2,
                 round(p3, 5) + CAST(0.0 AS DOUBLE) AS q3,
                 round(p4, 5) + CAST(0.0 AS DOUBLE) AS q4
          FROM lev5)
        SELECT 1 AS lag, c1 AS acf, q1 AS pacf FROM final
        UNION ALL SELECT 2, c2, q2 FROM final
        UNION ALL SELECT 3, c3, q3 FROM final
        UNION ALL SELECT 4, c4, q4 FROM final
        ORDER BY lag
    """
    _CRAMERS_ONE = """
        cells_{t} AS (
          SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        marg_{t} AS (
          SELECT o,
                 CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
                 CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS rb
          FROM cells_{t}),
        nrc_{t} AS (
          SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT a) AS BIGINT) AS r,
                 CAST(count(DISTINCT b) AS BIGINT) AS c
          FROM cells_{t}),
        chi_{t} AS (
          SELECT max(n) AS n, max(r) AS r, max(c) AS c,
                 sum((CAST(o AS DOUBLE)
                      - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     * (CAST(o AS DOUBLE)
                        - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
                          / CAST(n AS DOUBLE))
                     / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
                        / CAST(n AS DOUBLE))) AS chi2
          FROM marg_{t}, nrc_{t}),
        row_{t} AS (
          SELECT '{label}' AS pair,
                 n AS n_events,
                 CAST(r * c AS BIGINT) AS n_cells,
                 round(chi2, 4) + CAST(0.0 AS DOUBLE) AS chi2,
                 round(sqrt(chi2 / (CAST(n AS DOUBLE)
                                    * (CAST(least(r, c) AS DOUBLE)
                                       - CAST(1.0 AS DOUBLE)))), 6)
                   + CAST(0.0 AS DOUBLE) AS cramers_v
          FROM chi_{t})
    """
    sql["cramers_v_pairs"] = (
        "WITH "
        + _CRAMERS_ONE.format(
            t="w", a="event_type",
            b="CAST(isodow(CAST(ts AS DATE)) AS INT)",
            label="type_x_weekday",
        )
        + ", "
        + _CRAMERS_ONE.format(
            t="v", a="event_type",
            b="CAST(least(CAST(3 AS DOUBLE), floor(coalesce(value, "
              "CAST(0.0 AS DOUBLE)) / CAST(25.0 AS DOUBLE))) AS INT)",
            label="type_x_value_band",
        )
        + " SELECT * FROM row_w UNION ALL SELECT * FROM row_v ORDER BY pair"
    )
    sql["kendall_w_concordance"] = """
        WITH counts AS (
          SELECT CAST(isodow(CAST(ts AS DATE)) AS INT) AS isodow,
                 event_type, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT isodow, event_type,
                 CAST(row_number() OVER (PARTITION BY isodow
                                         ORDER BY cnt DESC,
                                                  event_type ASC)
                      AS BIGINT) AS rnk
          FROM counts),
        sums AS (
          SELECT event_type, CAST(sum(rnk) AS BIGINT) AS rank_sum
          FROM ranked GROUP BY 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(rank_sum) AS BIGINT) AS t
          FROM sums),
        sn2 AS (
          SELECT CAST(sum((n * rank_sum - t) * (n * rank_sum - t))
                      AS BIGINT) AS s_n2,
                 max(n) AS n
          FROM sums, tot),
        scalar AS (
          SELECT round(CAST(12.0 AS DOUBLE)
                       * (CAST(s_n2 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                       / (CAST(7.0 AS DOUBLE) * CAST(7.0 AS DOUBLE)
                          * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
                   + CAST(0.0 AS DOUBLE) AS kendall_w,
                 round(CAST(7.0 AS DOUBLE)
                       * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))
                       * (CAST(12.0 AS DOUBLE)
                          * (CAST(s_n2 AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                          / (CAST(7.0 AS DOUBLE) * CAST(7.0 AS DOUBLE)
                             * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE)
                                - CAST(n AS DOUBLE)))), 4)
                   + CAST(0.0 AS DOUBLE) AS chi2_approx
          FROM sn2)
        SELECT event_type, rank_sum, kendall_w, chi2_approx,
               CASE WHEN chi2_approx > CAST(9.488 AS DOUBLE)
                    THEN 'concordant' ELSE 'no_agreement' END
                 AS verdict_5pct
        FROM sums, scalar
        ORDER BY event_type
    """
    sql["quantile_treatment_effect"] = """
        WITH base AS (
          SELECT CAST(o_custkey % 2 AS INT) AS v,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 o_orderkey
          FROM orders),
        dec AS (
          SELECT v, cents,
                 CAST(ntile(10) OVER (PARTITION BY v
                                      ORDER BY cents ASC, o_orderkey ASC)
                      AS INT) AS decile
          FROM base),
        per AS (
          SELECT v, decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s
          FROM dec GROUP BY 1, 2),
        a AS (
          SELECT decile, n AS n_control,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                   / CAST(100.0 AS DOUBLE) AS m0
          FROM per WHERE v = 0),
        b AS (
          SELECT decile, n AS n_treated,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                   / CAST(100.0 AS DOUBLE) AS m1
          FROM per WHERE v = 1)
        SELECT decile, n_control, n_treated,
               round(m0, 2) + CAST(0.0 AS DOUBLE) AS mean_control,
               round(m1, 2) + CAST(0.0 AS DOUBLE) AS mean_treated,
               round(m1 - m0, 2) + CAST(0.0 AS DOUBLE) AS qte
        FROM a JOIN b USING (decile)
        ORDER BY decile
    """
    sql["lift_table_purchase_propensity"] = """
        WITH score AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      AS BIGINT) AS score
          FROM events WHERE day(CAST(ts AS DATE)) <= 15
          GROUP BY 1),
        label AS (
          SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS pos
          FROM events
          WHERE day(CAST(ts AS DATE)) > 15 AND event_type = 'purchase'),
        users AS (
          SELECT s.user_id, s.score,
                 CAST(coalesce(l.pos, 0) AS BIGINT) AS pos
          FROM score s LEFT JOIN label l USING (user_id)),
        dec AS (
          SELECT CAST(ntile(10) OVER (ORDER BY score DESC, user_id ASC)
                      AS INT) AS decile,
                 score, pos
          FROM users),
        per AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(score) AS BIGINT) AS ssum
          FROM dec GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_users) AS BIGINT) AS tu,
                 CAST(sum(n_pos) AS BIGINT) AS tp
          FROM per),
        cum AS (
          SELECT decile, n_users, n_pos, ssum,
                 CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_pos
          FROM per)
        SELECT decile, n_users, n_pos,
               round(CAST(ssum AS DOUBLE) / CAST(n_users AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS avg_score,
               round(CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS conversion,
               round(CAST(n_pos * tu AS DOUBLE)
                     / CAST(n_users * tp AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS lift,
               round(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS cum_capture
        FROM cum, tot
        ORDER BY decile
    """
    sql["er_blocking_report"] = """
        WITH blocks AS (
          SELECT p_brand, p_size, CAST(count(*) AS BIGINT) AS b
          FROM part GROUP BY 1, 2)
        SELECT CAST(CASE WHEN b >= 5 THEN 5 ELSE b END AS INT)
                 AS block_size_bucket,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(b) AS BIGINT) AS n_records,
               CAST(sum(b * (b - 1) / 2) AS BIGINT) AS n_candidate_pairs
        FROM blocks
        GROUP BY 1
        ORDER BY 1
    """
    sql["doc_outlier_lengths"] = """
        WITH q AS (
          SELECT source,
                 quantile_cont(n_chars, 0.25) AS q1,
                 quantile_cont(n_chars, 0.75) AS q3,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1)
        SELECT d.source,
               max(q.n_docs) AS n_docs,
               round(max(q.q1), 2) + CAST(0.0 AS DOUBLE) AS q1_chars,
               round(max(q.q3), 2) + CAST(0.0 AS DOUBLE) AS q3_chars,
               CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE)
                                  < q.q1 - CAST(1.5 AS DOUBLE)
                                           * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_short_outliers,
               CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE)
                                  > q.q3 + CAST(1.5 AS DOUBLE)
                                           * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_long_outliers
        FROM documents d JOIN q USING (source)
        GROUP BY 1
        ORDER BY 1
    """
    sql["embedding_dim_variance_screen"] = """
        WITH e AS (
          SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings),
        mom AS (
          SELECT dim, CAST(count(*) AS BIGINT) AS n, avg(v) AS mu
          FROM e GROUP BY 1),
        per_dim AS (
          SELECT e.dim,
                 CAST(max(m.n) AS BIGINT) AS n_vectors,
                 max(m.mu) AS mu,
                 sum((e.v - m.mu) * (e.v - m.mu))
                   / (CAST(max(m.n) AS DOUBLE) - CAST(1.0 AS DOUBLE))
                   AS var
          FROM e JOIN mom m USING (dim)
          GROUP BY 1),
        thr AS (
          SELECT sum(var) / CAST(count(*) AS DOUBLE)
                 * CAST(0.5 AS DOUBLE) AS t
          FROM per_dim)
        SELECT dim, n_vectors,
               round(mu, 6) + CAST(0.0 AS DOUBLE) AS mean,
               round(var, 6) + CAST(0.0 AS DOUBLE) AS variance,
               CASE WHEN var < t THEN 'low_variance' ELSE 'ok' END AS flag
        FROM per_dim, thr
        ORDER BY dim
    """
    sql["shingle_df_stopword_report"] = """
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 4),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        sh AS (
          SELECT doc_id,
                 w || ' ' || lead(w, 1) OVER wd || ' '
                   || lead(w, 2) OVER wd || ' '
                   || lead(w, 3) OVER wd AS shingle,
                 lead(w, 3) OVER wd AS lst
          FROM e WINDOW wd AS (PARTITION BY doc_id ORDER BY i)),
        df_counts AS (
          SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM sh WHERE lst IS NOT NULL GROUP BY 1),
        nd AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        SELECT shingle, df,
               round(CAST(df AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS df_ratio,
               CASE WHEN CAST(df AS DOUBLE)
                         > CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)
                    THEN 'stop_shingle' ELSE 'keep' END
                 AS verdict_maxdf_05
        FROM df_counts, nd
        ORDER BY df DESC, shingle ASC
        LIMIT 15
    """
    sql["sessionized_bounce_rate"] = """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS session_start
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, ts,
                 sum(session_start) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM flagged),
        per_session AS (
          SELECT user_id, session_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(min(ts) AS DATE) AS session_date
          FROM sessions GROUP BY 1, 2)
        SELECT session_date,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounces,
               round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS bounce_rate
        FROM per_session
        GROUP BY 1
        ORDER BY 1
    """
    sql["mmd_drift_embeddings"] = """
        WITH e AS (
          SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings),
        per AS (
          SELECT label, dim, sum(v) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
        gtot AS (
          SELECT dim, sum(s) AS gs, CAST(sum(n) AS BIGINT) AS gn
          FROM per GROUP BY 1)
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vectors,
               round(sum((s / CAST(n AS DOUBLE)
                          - (gs - s) / CAST(gn - n AS DOUBLE))
                         * (s / CAST(n AS DOUBLE)
                            - (gs - s) / CAST(gn - n AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS mmd2_linear
        FROM per JOIN gtot USING (dim)
        GROUP BY 1
        ORDER BY 1
    """
    sql["hill_tail_index"] = """
        WITH top AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 o_orderkey
          FROM orders
          ORDER BY cents DESC, o_orderkey ASC
          LIMIT 101),
        ranked AS (
          SELECT cents,
                 CAST(row_number() OVER (ORDER BY cents DESC,
                                         o_orderkey ASC) AS INT) AS r
          FROM top),
        thr AS (
          SELECT cents AS t FROM ranked WHERE r = 101),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS k_top,
                 avg(ln(CAST(cents AS DOUBLE) / CAST(t AS DOUBLE)))
                   AS gamma,
                 max(t) AS t
          FROM ranked, thr WHERE r <= 100)
        SELECT k_top,
               round(CAST(t AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS threshold_value,
               round(gamma, 6) + CAST(0.0 AS DOUBLE) AS hill_gamma,
               round(CAST(1.0 AS DOUBLE) / gamma, 4)
                 + CAST(0.0 AS DOUBLE) AS tail_alpha,
               CASE WHEN round(CAST(1.0 AS DOUBLE) / gamma, 4)
                         <= CAST(2.0 AS DOUBLE)
                    THEN 'infinite_variance_regime'
                    ELSE 'finite_variance' END AS verdict
        FROM g
    """
    sql["capture_recapture_users"] = """
        WITH h1 AS (
          SELECT DISTINCT user_id FROM events
          WHERE day(CAST(ts AS DATE)) <= 15),
        h2 AS (
          SELECT DISTINCT user_id FROM events
          WHERE day(CAST(ts AS DATE)) > 15),
        base AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM h1)
                   AS n1_first_half,
                 (SELECT CAST(count(*) AS BIGINT) FROM h2)
                   AS n2_second_half,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM h1 JOIN h2 USING (user_id)) AS m_recaptured,
                 (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                  FROM events) AS n_observed)
        SELECT n1_first_half, n2_second_half, m_recaptured, n_observed,
               round(CAST(n1_first_half * n2_second_half AS DOUBLE)
                     / CAST(m_recaptured AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS lincoln_petersen_n,
               round(CAST((n1_first_half + 1) * (n2_second_half + 1)
                          AS DOUBLE)
                     / CAST(m_recaptured + 1 AS DOUBLE)
                     - CAST(1.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS chapman_n
        FROM base
    """
    sql["shapley_channel_attribution"] = """
        WITH per_user AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS v,
                 max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS c,
                 max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS s,
                 max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS e,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS p
          FROM events GROUP BY 1),
        counts AS (
          SELECT CAST(v + c * 2 + s * 4 + e * 8 AS INT) AS mask,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(p) AS BIGINT) AS conv
          FROM per_user GROUP BY 1),
        spine AS (
          SELECT CAST(range AS INT) AS mask FROM range(0, 16)),
        full_l AS (
          SELECT sp.mask,
                 CAST(coalesce(co.n, 0) AS BIGINT) AS n,
                 CASE WHEN coalesce(co.n, 0) > 0
                      THEN CAST(coalesce(co.conv, 0) AS DOUBLE)
                           / CAST(co.n AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS rate
          FROM spine sp LEFT JOIN counts co USING (mask)),
        chans AS (
          SELECT 1 AS bit, 'view' AS channel
          UNION ALL SELECT 2, 'click'
          UNION ALL SELECT 4, 'signup'
          UNION ALL SELECT 8, 'error'),
        pairs AS (
          SELECT ch.channel, a.mask AS ma, a.rate AS ra, b.rate AS rb
          FROM chans ch
          JOIN full_l a ON (a.mask & ch.bit) = 0
          JOIN full_l b ON b.mask = a.mask + ch.bit),
        phi AS (
          SELECT channel,
                 sum((CASE WHEN bit_count(CAST(ma AS BIGINT)) IN (0, 3)
                           THEN CAST(0.25 AS DOUBLE)
                           ELSE CAST(1.0 AS DOUBLE)
                                / CAST(12.0 AS DOUBLE) END)
                     * (rb - ra)) AS shapley
          FROM pairs GROUP BY 1),
        overall AS (
          SELECT round(CAST(sum(p) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6)
                   + CAST(0.0 AS DOUBLE) AS overall_conv
          FROM per_user)
        SELECT channel,
               round(shapley, 6) + CAST(0.0 AS DOUBLE) AS shapley_value,
               overall_conv
        FROM phi, overall
        ORDER BY channel
    """
    sql["weibull_survival_fit"] = f"""
        WITH km AS ({sql["purchase_survival_km"]}),
        pts AS (
          SELECT ln(CAST(t AS DOUBLE)) AS x,
                 ln(-ln(survival)) AS y
          FROM km
          WHERE survival > CAST(0.0 AS DOUBLE)
            AND survival < CAST(1.0 AS DOUBLE) AND t > 0),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_points,
                 regr_slope(y, x) AS k,
                 regr_intercept(y, x) AS b,
                 regr_r2(y, x) AS r2
          FROM pts)
        SELECT n_points,
               round(k, 4) + CAST(0.0 AS DOUBLE) AS weibull_shape,
               round(exp(-b / k), 2) + CAST(0.0 AS DOUBLE)
                 AS weibull_scale_days,
               round(r2, 4) + CAST(0.0 AS DOUBLE) AS fit_r2,
               CASE WHEN round(k, 4) < CAST(1.0 AS DOUBLE)
                    THEN 'decreasing_hazard'
                    ELSE 'increasing_hazard' END AS hazard_shape
        FROM agg
    """
    sql["lorenz_curve_deciles"] = """
        WITH per AS (
          SELECT o_custkey,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        dec AS (
          SELECT CAST(ntile(10) OVER (ORDER BY cents ASC, o_custkey ASC)
                      AS INT) AS decile,
                 cents
          FROM per),
        agg AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(cents) AS BIGINT) AS s
          FROM dec GROUP BY 1),
        tot AS (
          SELECT CAST(sum(s) AS BIGINT) AS t FROM agg),
        cum AS (
          SELECT decile, n_customers, s,
                 CAST(sum(s) OVER (ORDER BY decile) AS BIGINT) AS cs
          FROM agg)
        SELECT decile, n_customers,
               round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS revenue_share,
               round(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS cum_revenue_share
        FROM cum, tot
        ORDER BY decile
    """
    sql["granger_views_purchases"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY 1),
        lagged AS (
          SELECT y,
                 lag(y) OVER (ORDER BY day) AS y1,
                 lag(x) OVER (ORDER BY day) AS x1
          FROM daily),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(y1 AS HUGEINT)) AS s1,
                 sum(CAST(x1 AS HUGEINT)) AS s2,
                 sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                 sum(CAST(y1 AS HUGEINT) * CAST(y1 AS HUGEINT)) AS s11,
                 sum(CAST(x1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS s22,
                 sum(CAST(y1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS s12,
                 sum(CAST(y AS HUGEINT) * CAST(y1 AS HUGEINT)) AS s1y,
                 sum(CAST(y AS HUGEINT) * CAST(x1 AS HUGEINT)) AS s2y
          FROM lagged WHERE y1 IS NOT NULL),
        cmom AS (
          SELECT n_days,
                 CAST(CAST(n_days AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
                   AS c11,
                 CAST(CAST(n_days AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
                   AS c22,
                 CAST(CAST(n_days AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
                   AS c12,
                 CAST(CAST(n_days AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
                   AS c1y,
                 CAST(CAST(n_days AS HUGEINT) * s2y - s2 * sy AS DOUBLE)
                   AS c2y,
                 CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE)
                   AS cyy
          FROM mom),
        fit AS (
          SELECT n_days, c1y, c2y, cyy, c11,
                 (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b_u,
                 (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS c_u
          FROM cmom),
        stats AS (
          SELECT n_days, b_u, c_u,
                 ((cyy - c1y * c1y / c11)
                  - (cyy - b_u * c1y - c_u * c2y))
                 / ((cyy - b_u * c1y - c_u * c2y)
                    / (CAST(n_days AS DOUBLE) - CAST(3.0 AS DOUBLE)))
                   AS f
          FROM fit)
        SELECT n_days,
               round(b_u, 6) + CAST(0.0 AS DOUBLE) AS coef_lag_purchases,
               round(c_u, 6) + CAST(0.0 AS DOUBLE) AS coef_lag_views,
               round(f, 4) + CAST(0.0 AS DOUBLE) AS granger_f,
               CASE WHEN round(f, 4) > CAST(4.21 AS DOUBLE)
                    THEN 'views_granger_cause' ELSE 'no_evidence' END
                 AS verdict_5pct
        FROM stats
    """
    sql["jaccard_threshold_sweep"] = f"""
        WITH {_JACCARD_PAIRS_04_SQL},
        bucketed AS (
          SELECT CASE WHEN j >= CAST(0.9 AS DOUBLE) THEN '0.9+'
                      WHEN j >= CAST(0.7 AS DOUBLE) THEN '0.7-0.9'
                      WHEN j >= CAST(0.5 AS DOUBLE) THEN '0.5-0.7'
                      WHEN j >= CAST(0.3 AS DOUBLE) THEN '0.3-0.5'
                      ELSE '0.05-0.3' END AS jaccard_bucket
          FROM jpairs),
        agg AS (
          SELECT jaccard_bucket, CAST(count(*) AS BIGINT) AS n_pairs
          FROM bucketed GROUP BY 1)
        SELECT jaccard_bucket, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY jaccard_bucket DESC)
                    AS BIGINT) AS n_pairs_at_or_above
        FROM agg
        ORDER BY jaccard_bucket
    """
    sql["lsh_band_planner"] = f"""
        WITH {_JACCARD_PAIRS_04_SQL},
        powers AS (
          SELECT j, j * j AS s2 FROM jpairs),
        powers2 AS (
          SELECT j, s2, s2 * s2 AS s4 FROM powers),
        powers3 AS (
          SELECT j, s4, s4 * s4 AS s8 FROM powers2),
        powers4 AS (
          SELECT j, s4, s8, s8 * s8 AS s16 FROM powers3),
        curves AS (
          SELECT j,
                 CAST(1.0 AS DOUBLE)
                 - ((((CAST(1.0 AS DOUBLE) - s4)
                      * (CAST(1.0 AS DOUBLE) - s4))
                     * ((CAST(1.0 AS DOUBLE) - s4)
                        * (CAST(1.0 AS DOUBLE) - s4)))
                    * (((CAST(1.0 AS DOUBLE) - s4)
                        * (CAST(1.0 AS DOUBLE) - s4))
                       * ((CAST(1.0 AS DOUBLE) - s4)
                          * (CAST(1.0 AS DOUBLE) - s4)))) AS p_b8_r4_x,
                 s4, s8, s16
          FROM powers4),
        final AS (
          SELECT j,
                 s4 AS sr_b32, s8 AS sr_b16, s16 AS sr_b8
          FROM curves)
        SELECT config, n_pairs,
               round(expected_candidates, 2) + CAST(0.0 AS DOUBLE)
                 AS expected_candidates,
               round(recall_near_dups, 6) + CAST(0.0 AS DOUBLE)
                 AS recall_near_dups,
               round(leakage_non_dups, 6) + CAST(0.0 AS DOUBLE)
                 AS leakage_non_dups
        FROM (
          SELECT 'b32_r4' AS config,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 sum(p) AS expected_candidates,
                 sum(CASE WHEN j >= CAST(0.7 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j >= CAST(0.7 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                   AS recall_near_dups,
                 sum(CASE WHEN j < CAST(0.3 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j < CAST(0.3 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
                   AS leakage_non_dups
          FROM (
            SELECT j,
                   CAST(1.0 AS DOUBLE) - t16 * t16 AS p
            FROM (
              SELECT j, t8 * t8 AS t16
              FROM (
                SELECT j, t4 * t4 AS t8
                FROM (
                  SELECT j, t2 * t2 AS t4
                  FROM (
                    SELECT j, t * t AS t2
                    FROM (
                      SELECT j, CAST(1.0 AS DOUBLE) - sr_b32 AS t
                      FROM final) z1) z2) z3) z4) z5)
          UNION ALL
          SELECT 'b16_r8',
                 CAST(count(*) AS BIGINT),
                 sum(p),
                 sum(CASE WHEN j >= CAST(0.7 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j >= CAST(0.7 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END),
                 sum(CASE WHEN j < CAST(0.3 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j < CAST(0.3 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
          FROM (
            SELECT j,
                   CAST(1.0 AS DOUBLE) - t8 * t8 AS p
            FROM (
              SELECT j, t4 * t4 AS t8
              FROM (
                SELECT j, t2 * t2 AS t4
                FROM (
                  SELECT j, t * t AS t2
                  FROM (
                    SELECT j, CAST(1.0 AS DOUBLE) - sr_b16 AS t
                    FROM final) y1) y2) y3) y4)
          UNION ALL
          SELECT 'b8_r16',
                 CAST(count(*) AS BIGINT),
                 sum(p),
                 sum(CASE WHEN j >= CAST(0.7 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j >= CAST(0.7 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END),
                 sum(CASE WHEN j < CAST(0.3 AS DOUBLE) THEN p
                          ELSE CAST(0.0 AS DOUBLE) END)
                 / sum(CASE WHEN j < CAST(0.3 AS DOUBLE)
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END)
          FROM (
            SELECT j,
                   CAST(1.0 AS DOUBLE) - t4 * t4 AS p
            FROM (
              SELECT j, t2 * t2 AS t4
              FROM (
                SELECT j, t * t AS t2
                FROM (
                  SELECT j, CAST(1.0 AS DOUBLE) - sr_b8 AS t
                  FROM final) x1) x2) x3)
        ) u
        ORDER BY config
    """
    sql["interpurchase_gamma_fit"] = """
        WITH p AS (
          SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
        gaps AS (
          SELECT CAST(floor(CAST(epoch_us(ts)
                                 - epoch_us(lag(ts) OVER (
                                     PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS DOUBLE)
                            / CAST(1000000.0 AS DOUBLE)) AS BIGINT)
                   AS gap_s
          FROM p),
        g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n_gaps,
                 sum(CAST(gap_s AS HUGEINT)) AS s,
                 sum(CAST(gap_s AS HUGEINT) * CAST(gap_s AS HUGEINT))
                   AS ss
          FROM g),
        stats AS (
          SELECT n_gaps,
                 CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
                 CAST(CAST(n_gaps AS HUGEINT) * ss - s * s AS DOUBLE)
                 / (CAST(n_gaps AS DOUBLE)
                    * (CAST(n_gaps AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                   AS var
          FROM mom)
        SELECT n_gaps,
               round(mu, 2) + CAST(0.0 AS DOUBLE) AS mean_gap_s,
               round(mu * mu / var, 4) + CAST(0.0 AS DOUBLE)
                 AS gamma_shape,
               round(var / mu, 2) + CAST(0.0 AS DOUBLE) AS gamma_scale_s,
               CASE WHEN round(mu * mu / var, 4) < CAST(1.0 AS DOUBLE)
                    THEN 'bursty' ELSE 'regular' END AS arrival_pattern
        FROM stats
    """
    sql["hhi_yearly_trend"] = """
        WITH by_brand AS (
          SELECT year(CAST(l_shipdate AS DATE)) AS yr, p.p_brand,
                 CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                     * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS bc
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2),
        shares AS (
          SELECT yr,
                 CAST(bc AS DOUBLE)
                 / CAST(sum(bc) OVER (PARTITION BY yr) AS DOUBLE) AS sh
          FROM by_brand),
        hhi AS (
          SELECT yr, CAST(count(*) AS BIGINT) AS n_brands,
                 sum(sh * sh) AS h
          FROM shares GROUP BY 1)
        SELECT yr, n_brands,
               round(h, 6) + CAST(0.0 AS DOUBLE) AS hhi,
               round(h - lag(h) OVER (ORDER BY yr), 6)
                 + CAST(0.0 AS DOUBLE) AS hhi_delta
        FROM hhi
        ORDER BY yr
    """
    sql["forecast_skill_mase"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(floor(round(coalesce(sum(value),
                                           CAST(0.0 AS DOUBLE)), 2) * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        j AS (
          SELECT d.cents, s7.cents AS f7, s1.cents AS f1
          FROM daily d
          JOIN daily s7 ON d.day = s7.day + INTERVAL 7 DAY
          JOIN daily s1 ON d.day = s1.day + INTERVAL 1 DAY),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(abs(cents - f7)) AS BIGINT) AS e7,
                 CAST(sum(abs(cents - f1)) AS BIGINT) AS e1
          FROM j)
        SELECT n_days,
               CAST(round(CAST(CAST(e7 AS DOUBLE)
                               / CAST(n_days AS DOUBLE)
                               AS DECIMAL(18,6)), 2) AS DOUBLE)
                 AS mae_seasonal_cents,
               CAST(round(CAST(CAST(e1 AS DOUBLE)
                               / CAST(n_days AS DOUBLE)
                               AS DECIMAL(18,6)), 2) AS DOUBLE)
                 AS mae_naive_cents,
               round(CAST(e7 AS DOUBLE) / CAST(e1 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS mase,
               CASE WHEN round(CAST(e7 AS DOUBLE) / CAST(e1 AS DOUBLE), 4)
                         < CAST(1.0 AS DOUBLE)
                    THEN 'seasonal_skillful' ELSE 'persistence_wins' END
                 AS verdict
        FROM agg
    """
    sql["recsys_ndcg_popularity"] = """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC,
                                             o_orderkey DESC) AS r,
                 count(*) OVER (PARTITION BY o_custkey) AS n
          FROM orders),
        eligible AS (SELECT * FROM ranked WHERE n >= 2),
        holdout AS (
          SELECT o_custkey, o_orderkey FROM eligible WHERE r = 1),
        train AS (
          SELECT o_orderkey FROM eligible WHERE r > 1),
        pairs AS (
          SELECT DISTINCT l_orderkey AS o_orderkey, l_partkey
          FROM lineitem),
        pop AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
          FROM train JOIN pairs USING (o_orderkey)
          GROUP BY 1),
        top20 AS (
          SELECT l_partkey,
                 CAST(row_number() OVER (ORDER BY c DESC,
                                         l_partkey ASC) AS INT) AS rnk
          FROM pop
          ORDER BY c DESC, l_partkey ASC
          LIMIT 20),
        test_items AS (
          SELECT h.o_custkey, p.l_partkey
          FROM holdout h JOIN pairs p USING (o_orderkey)),
        dcg AS (
          SELECT o_custkey,
                 sum(CAST(1.0 AS DOUBLE)
                     / (ln(CAST(rnk AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        / ln(CAST(2.0 AS DOUBLE)))) AS dcg
          FROM test_items JOIN top20 USING (l_partkey)
          GROUP BY 1),
        idcg AS (
          SELECT o_custkey,
                 sum(CAST(1.0 AS DOUBLE)
                     / (ln(CAST(i AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        / ln(CAST(2.0 AS DOUBLE)))) AS idcg
          FROM (
            SELECT o_custkey,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY l_partkey)
                        AS BIGINT) AS i
            FROM test_items) z
          WHERE i <= 20
          GROUP BY 1),
        per_user AS (
          SELECT coalesce(d.dcg, CAST(0.0 AS DOUBLE)) / i.idcg AS ndcg
          FROM idcg i LEFT JOIN dcg d USING (o_custkey))
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               round(avg(ndcg), 6) + CAST(0.0 AS DOUBLE) AS mean_ndcg_20,
               CAST(sum(CASE WHEN ndcg > CAST(0.0 AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_with_hits
        FROM per_user
    """
    sql["markov_next_event_accuracy"] = """
        WITH tr AS (
          SELECT prev, nxt FROM (
            SELECT event_type AS prev,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM events WHERE day(CAST(ts AS DATE)) <= 15) z
          WHERE nxt IS NOT NULL),
        ev AS (
          SELECT prev, nxt FROM (
            SELECT event_type AS prev,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM events WHERE day(CAST(ts AS DATE)) > 15) z
          WHERE nxt IS NOT NULL),
        model AS (
          SELECT prev, nxt AS predicted_next FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                                      ORDER BY count(*) DESC,
                                               nxt ASC) AS r
            FROM tr GROUP BY prev, nxt) z
          WHERE r = 1)
        SELECT ev.prev AS prev_event,
               max(m.predicted_next) AS predicted_next,
               CAST(count(*) AS BIGINT) AS n_transitions,
               CAST(sum(CASE WHEN ev.nxt = m.predicted_next
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               round(CAST(sum(CASE WHEN ev.nxt = m.predicted_next
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS top1_accuracy
        FROM ev LEFT JOIN model m USING (prev)
        GROUP BY 1
        ORDER BY 1
    """
    sql["dp_laplace_utility"] = """
        WITH counts AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
          FROM events GROUP BY 1),
        eps AS (
          SELECT CAST(0.1 AS DOUBLE) AS epsilon
          UNION ALL SELECT CAST(1.0 AS DOUBLE))
        SELECT event_type, epsilon, true_count,
               round(CAST(1.0 AS DOUBLE) / epsilon, 2)
                 + CAST(0.0 AS DOUBLE) AS laplace_scale,
               round(CAST(1.0 AS DOUBLE) / epsilon
                     * ln(CAST(1.0 AS DOUBLE) / CAST(0.05 AS DOUBLE)), 4)
                 + CAST(0.0 AS DOUBLE) AS noise_p95,
               round(CAST(1.0 AS DOUBLE) / epsilon
                     / CAST(true_count AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS relative_error
        FROM counts, eps
        ORDER BY event_type, epsilon
    """
    sql["survival_rmst"] = f"""
        WITH km AS ({sql["purchase_survival_km"]}),
        steps AS (
          SELECT t, survival,
                 CAST(lead(t) OVER (ORDER BY t) - t AS BIGINT) AS w
          FROM km),
        rmst AS (
          SELECT sum(survival * CAST(w AS DOUBLE)) AS r,
                 CAST(max(t) AS BIGINT) AS horizon_days
          FROM steps),
        med AS (
          SELECT CAST(t AS BIGINT) AS median_survival_days
          FROM km WHERE survival <= CAST(0.5 AS DOUBLE)
          ORDER BY t LIMIT 1)
        SELECT horizon_days, median_survival_days,
               round(r, 4) + CAST(0.0 AS DOUBLE) AS rmst_days
        FROM rmst, med
    """
    sql["stump_information_gain"] = """
        WITH users AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS fv,
                 max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS fc,
                 max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS fs,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
          FROM events GROUP BY 1),
        feats AS (
          SELECT 'has_view' AS feature, fv AS side, y FROM users
          UNION ALL SELECT 'has_click', fc, y FROM users
          UNION ALL SELECT 'has_signup', fs, y FROM users),
        sides AS (
          SELECT feature, side, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM feats GROUP BY 1, 2),
        tot AS (
          SELECT feature, CAST(sum(n) AS BIGINT) AS tn,
                 CAST(sum(pos) AS BIGINT) AS tpos
          FROM sides GROUP BY 1),
        hfun AS (
          SELECT s.feature,
                 max(t.tn) AS tn, max(t.tpos) AS tpos,
                 sum(CAST(s.n AS DOUBLE) / CAST(t.tn AS DOUBLE)
                     * ((CASE WHEN CAST(s.pos AS DOUBLE)
                                   / CAST(s.n AS DOUBLE)
                                   > CAST(0.0 AS DOUBLE)
                              AND CAST(s.pos AS DOUBLE)
                                  / CAST(s.n AS DOUBLE)
                                  < CAST(1.0 AS DOUBLE)
                         THEN -(CAST(s.pos AS DOUBLE)
                                / CAST(s.n AS DOUBLE))
                              * ln(CAST(s.pos AS DOUBLE)
                                   / CAST(s.n AS DOUBLE))
                         ELSE CAST(0.0 AS DOUBLE) END
                         + CASE WHEN CAST(1.0 AS DOUBLE)
                                     - CAST(s.pos AS DOUBLE)
                                       / CAST(s.n AS DOUBLE)
                                     > CAST(0.0 AS DOUBLE)
                                AND CAST(1.0 AS DOUBLE)
                                    - CAST(s.pos AS DOUBLE)
                                      / CAST(s.n AS DOUBLE)
                                    < CAST(1.0 AS DOUBLE)
                         THEN -(CAST(1.0 AS DOUBLE)
                                - CAST(s.pos AS DOUBLE)
                                  / CAST(s.n AS DOUBLE))
                              * ln(CAST(1.0 AS DOUBLE)
                                   - CAST(s.pos AS DOUBLE)
                                     / CAST(s.n AS DOUBLE))
                         ELSE CAST(0.0 AS DOUBLE) END)
                        / ln(CAST(2.0 AS DOUBLE)))) AS hcond
          FROM sides s JOIN tot t USING (feature)
          GROUP BY 1),
        final AS (
          SELECT feature,
                 (CASE WHEN CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)
                            > CAST(0.0 AS DOUBLE)
                       AND CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)
                           < CAST(1.0 AS DOUBLE)
                  THEN -(CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                       * ln(CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN CAST(1.0 AS DOUBLE)
                              - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)
                              > CAST(0.0 AS DOUBLE)
                         AND CAST(1.0 AS DOUBLE)
                             - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)
                             < CAST(1.0 AS DOUBLE)
                  THEN -(CAST(1.0 AS DOUBLE)
                         - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                       * ln(CAST(1.0 AS DOUBLE)
                            - CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END)
                 / ln(CAST(2.0 AS DOUBLE)) AS hy,
                 hcond
          FROM hfun)
        SELECT feature,
               round(hy, 6) + CAST(0.0 AS DOUBLE) AS label_entropy_bits,
               round(hy - hcond, 6) + CAST(0.0 AS DOUBLE)
                 AS information_gain_bits
        FROM final
        ORDER BY feature
    """
    sql["priority_return_odds_ratio"] = """
        WITH flags AS (
          SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS hp,
                 CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey),
        cells AS (
          SELECT
            CAST(sum(CASE WHEN hp = 1 AND ret = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS a_hp_ret,
            CAST(sum(CASE WHEN hp = 1 AND ret = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS b_hp,
            CAST(sum(CASE WHEN hp = 0 AND ret = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS c_ret,
            CAST(sum(CASE WHEN hp = 0 AND ret = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS d_none
          FROM flags),
        stats AS (
          SELECT a_hp_ret, b_hp, c_ret, d_none,
                 (CAST(a_hp_ret AS DOUBLE) * CAST(d_none AS DOUBLE))
                 / (CAST(b_hp AS DOUBLE) * CAST(c_ret AS DOUBLE)) AS orr,
                 sqrt(CAST(1.0 AS DOUBLE) / CAST(a_hp_ret AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) / CAST(b_hp AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) / CAST(c_ret AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) / CAST(d_none AS DOUBLE))
                   AS se
          FROM cells)
        SELECT a_hp_ret, b_hp, c_ret, d_none,
               round(orr, 4) + CAST(0.0 AS DOUBLE) AS odds_ratio,
               round(exp(ln(orr) - CAST(1.96 AS DOUBLE) * se), 4)
                 + CAST(0.0 AS DOUBLE) AS ci_low,
               round(exp(ln(orr) + CAST(1.96 AS DOUBLE) * se), 4)
                 + CAST(0.0 AS DOUBLE) AS ci_high,
               CASE WHEN round(exp(ln(orr) - CAST(1.96 AS DOUBLE) * se), 4)
                         > CAST(1.0 AS DOUBLE)
                      OR round(exp(ln(orr) + CAST(1.96 AS DOUBLE) * se), 4)
                         < CAST(1.0 AS DOUBLE)
                    THEN 'significant' ELSE 'not_significant' END
                 AS verdict_5pct
        FROM stats
    """
    sql["quasi_id_uniqueness_ladder"] = """
        WITH base AS (
          SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal,
                 c_mktsegment
          FROM customer),
        l1 AS (
          SELECT CAST(count(*) AS BIGINT) AS sz
          FROM base GROUP BY c_nationkey),
        l2 AS (
          SELECT CAST(count(*) AS BIGINT) AS sz
          FROM base GROUP BY c_nationkey, bal),
        l3 AS (
          SELECT CAST(count(*) AS BIGINT) AS sz
          FROM base GROUP BY c_nationkey, bal, c_mktsegment)
        SELECT 'nation' AS quasi_id,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique,
               CAST(min(sz) AS BIGINT) AS min_class_size,
               round(CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(sum(sz) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS unique_share
        FROM l1
        UNION ALL
        SELECT 'nation+bal_bucket',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(min(sz) AS BIGINT),
               round(CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(sum(sz) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE)
        FROM l2
        UNION ALL
        SELECT 'nation+bal_bucket+segment',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(min(sz) AS BIGINT),
               round(CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(sum(sz) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE)
        FROM l3
        ORDER BY quasi_id
    """
    sql["kfold_balance_check"] = """
        WITH folds AS (
          SELECT CAST(o_custkey % 5 AS INT) AS fold,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS s
          FROM orders GROUP BY 1),
        means AS (
          SELECT fold, n_orders,
                 CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE)
                   / CAST(100.0 AS DOUBLE) AS m
          FROM folds),
        spread AS (
          SELECT avg(m) AS mm, stddev_samp(m) AS sd FROM means),
        scalar AS (
          SELECT round(sd / mm, 6) + CAST(0.0 AS DOUBLE) AS fold_mean_cv,
                 CASE WHEN round(sd / mm, 6) < CAST(0.05 AS DOUBLE)
                      THEN 'balanced' ELSE 'skewed' END AS verdict
          FROM spread)
        SELECT fold, n_orders,
               round(m, 2) + CAST(0.0 AS DOUBLE) AS mean_order_value,
               fold_mean_cv, verdict
        FROM means, scalar
        ORDER BY fold
    """
    sql["bloom_fpp_planner"] = """
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 3),
        e AS (
          SELECT doc_id, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM base),
        sh AS (
          SELECT w || ' ' || lead(w, 1) OVER wd || ' '
                   || lead(w, 2) OVER wd AS shingle,
                 lead(w, 2) OVER wd AS l
          FROM e WINDOW wd AS (PARTITION BY doc_id ORDER BY i)),
        n AS (
          SELECT CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
          FROM sh WHERE l IS NOT NULL),
        configs AS (
          SELECT CAST(8 AS INT) AS bits_per_key, CAST(5 AS INT) AS k_hashes
          UNION ALL SELECT 12, 8
          UNION ALL SELECT 16, 11),
        curves AS (
          SELECT n_distinct, bits_per_key, k_hashes,
                 CAST(1.0 AS DOUBLE)
                 - exp(-CAST(k_hashes AS DOUBLE)
                       / CAST(bits_per_key AS DOUBLE)) AS x
          FROM n, configs),
        pw AS (
          SELECT n_distinct, bits_per_key, k_hashes, x,
                 x * x AS x2, (x * x) * (x * x) AS x4,
                 ((x * x) * (x * x)) * ((x * x) * (x * x)) AS x8
          FROM curves)
        SELECT n_distinct, bits_per_key, k_hashes,
               round(CASE WHEN k_hashes = 5 THEN x4 * x
                          WHEN k_hashes = 8 THEN x8
                          ELSE x8 * x2 * x END, 8)
                 + CAST(0.0 AS DOUBLE) AS expected_fpp,
               round(CAST(n_distinct AS DOUBLE)
                     * CAST(bits_per_key AS DOUBLE)
                     / CAST(8.0 AS DOUBLE) / CAST(1048576.0 AS DOUBLE), 4)
                 + CAST(0.0 AS DOUBLE) AS filter_mb
        FROM pw
        ORDER BY bits_per_key
    """
    sql["topk_stability_halves"] = """
        WITH h1 AS (
          SELECT l_partkey FROM (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     AS c
            FROM lineitem
            WHERE year(CAST(l_shipdate AS DATE)) <= 1997
            GROUP BY 1
            ORDER BY c DESC, l_partkey ASC
            LIMIT 20) z),
        h2 AS (
          SELECT l_partkey FROM (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     AS c
            FROM lineitem
            WHERE year(CAST(l_shipdate AS DATE)) >= 1998
            GROUP BY 1
            ORDER BY c DESC, l_partkey ASC
            LIMIT 20) z),
        common AS (
          SELECT CAST(count(*) AS BIGINT) AS n_common
          FROM h1 JOIN h2 USING (l_partkey))
        SELECT CAST(20 AS INT) AS k, n_common,
               round(CAST(n_common AS DOUBLE)
                     / (CAST(40.0 AS DOUBLE)
                        - CAST(n_common AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS topk_jaccard,
               CASE WHEN round(CAST(n_common AS DOUBLE)
                               / (CAST(40.0 AS DOUBLE)
                                  - CAST(n_common AS DOUBLE)), 6)
                         >= CAST(0.5 AS DOUBLE)
                    THEN 'stable' ELSE 'churning' END AS verdict
        FROM common
    """
    sql.update(keyphrase.oracle_sql())
    sql.update(dedup.oracle_sql())
    sql.update(text.oracle_sql())
    sql.update(similarity.oracle_sql())
    sql.update(cleaning.oracle_sql())
    sql.update(corpus.oracle_sql())
    sql.update(graph.oracle_sql())
    return sql
