"""Unit tests for the extended analytics operators: cohort retention,
period-over-period, histogram, argmax-per-group, co-occurrence,
sorted list-agg, and the preceding-window range join.

Semantics pinned on hand-built frames (the sf0.01 DuckDB oracle covers
the full-table paths; these pin edge cases: empty offsets, ties,
window boundaries)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import analytics, temporal


def _d(y, m, d):
    return dt.datetime(y, m, d)


def test_cohort_retention_offsets(spark):
    df = spark.createDataFrame(
        [
            (1, _d(2024, 1, 5)),
            (1, _d(2024, 1, 20)),  # same month: offset 0 once (distinct)
            (1, _d(2024, 3, 2)),   # offset 2
            (2, _d(2024, 2, 1)),   # its own cohort
        ],
        "uid long, ts timestamp",
    )
    out = {
        (r.cohort_month, r.month_offset): r.entities
        for r in analytics.cohort_retention(df, "uid", "ts").collect()
    }
    assert out == {("2024-01", 0): 1, ("2024-01", 2): 1, ("2024-02", 0): 1}


def test_cohort_retention_year_boundary(spark):
    df = spark.createDataFrame(
        [(1, _d(2023, 12, 31)), (1, _d(2024, 1, 1))], "uid long, ts timestamp"
    )
    rows = analytics.cohort_retention(df, "uid", "ts").collect()
    offsets = {r.month_offset for r in rows}
    assert offsets == {0, 1}  # Dec->Jan crosses the year: offset 1, not -11


def test_period_over_period_first_row_null(spark):
    df = spark.createDataFrame(
        [(_d(2024, 1, 1), 10.0), (_d(2024, 2, 1), 30.0)], "ts timestamp, v double"
    )
    rows = (
        analytics.period_over_period(df, "ts", F.sum("v"), "month", "rev")
        .orderBy("period")
        .collect()
    )
    assert rows[0].prev_rev is None and rows[0].pct_change is None
    assert rows[1].prev_rev == 10.0
    assert rows[1].abs_change == 20.0
    assert rows[1].pct_change == 200.0


def test_histogram_boundaries(spark):
    # boundary value lands in the UPPER bucket (SQL width_bucket: lower
    # bound inclusive); out-of-range values land in 0 / n+1
    df = spark.createDataFrame(
        [(0.0,), (9.99,), (10.0,), (39.9,), (-1.0,), (40.0,)], "v double"
    )
    out = {r.bucket: r.n_rows for r in analytics.histogram(df, "v", 0.0, 40.0, 4).collect()}
    assert out == {1: 2, 2: 1, 4: 1, 0: 1, 5: 1}


def test_argmax_per_group_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, _d(2024, 1, 1), 100), (1, _d(2024, 1, 1), 200), (1, _d(2023, 1, 1), 999)],
        "g long, ts timestamp, k long",
    )
    # equal ts: the struct ordering falls through to k -> picks 200
    row = analytics.argmax_per_group(df, ["g"], ["ts", "k"], "k", "argmax").collect()[0]
    assert row.argmax == 200 and row.max_ts == _d(2024, 1, 1)


def test_cooccurrence_pairs_unordered_once(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")], "basket long, item string"
    )
    out = {
        (r.item_a, r.item_b): r.pair_count
        for r in analytics.cooccurrence_pairs(df, "basket", "item").collect()
    }
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def _self_join_cooccurrence(df, max_basket_size=None):
    """Reference form: self equi-join on the basket key with a < b, each
    basket first cut to its max_basket_size smallest items."""
    a = df.select(F.col("basket"), F.col("item").alias("item_a"))
    if max_basket_size is not None:
        w = Window.partitionBy("basket").orderBy("item_a")
        a = a.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= max_basket_size).drop("__rn")
    b = a.withColumnRenamed("item_a", "item_b")
    return {
        (r.item_a, r.item_b): r["count"]
        for r in a.join(b, "basket").filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b").count().collect()
    }


def test_cooccurrence_strategies_agree_with_duplicates(spark):
    # duplicate item in a basket: (a,a) never pairs, but each duplicate
    # occurrence pairs with other items -> multiplicity 2 for (a,b)
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "c")],
        "basket long, item string",
    )
    grouped = {
        (r.item_a, r.item_b): r.pair_count
        for r in analytics.cooccurrence_pairs(df, "basket", "item").collect()
    }
    assert grouped == _self_join_cooccurrence(df) == {("a", "b"): 2, ("b", "c"): 1}


def test_cooccurrence_max_basket_size_bounds_pairs(spark):
    """Mega-basket guard: a basket of m items contributes at most
    C(cap, 2) pairs, truncation keeps the cap SMALLEST items
    (deterministic), and it equals the self-join under the cap."""
    rows = [(1, f"i{k:02d}") for k in range(10)] + [(2, "i00"), (2, "i01")]
    df = spark.createDataFrame(rows, "basket long, item string")
    capped = {
        (r.item_a, r.item_b): r.pair_count
        for r in analytics.cooccurrence_pairs(
            df, "basket", "item", max_basket_size=4
        ).collect()
    }
    # basket 1 truncated to {i00..i03} -> C(4,2)=6 pairs; basket 2 adds
    # one more count to (i00, i01)
    assert len(capped) == 6
    assert capped[("i00", "i01")] == 2
    assert all(a < "i04" and b < "i04" for a, b in capped)
    assert _self_join_cooccurrence(df, max_basket_size=4) == capped
    # uncapped sanity: the mega-basket alone would emit C(10,2)=45 pairs
    full = analytics.cooccurrence_pairs(df, "basket", "item").count()
    assert full == 45


def test_sorted_list_agg_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "z"), (1, "a"), (1, "m")], "g long, v string"
    ).repartition(4)
    row = analytics.sorted_list_agg(df, ["g"], "v").collect()[0]
    assert row.items == "a,m,z" and row.n_items == 3


def test_preceding_window_join_bounds(spark):
    t0 = _d(2024, 1, 1)
    left = spark.createDataFrame([(1, t0 + dt.timedelta(hours=2))], "uid long, ts timestamp")
    right = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(hours=1)),              # exactly -1h: included
            (1, t0 + dt.timedelta(minutes=90)),           # inside
            (1, t0 + dt.timedelta(hours=2)),              # == left ts: excluded
            (1, t0 + dt.timedelta(minutes=59)),           # older than window
            (2, t0 + dt.timedelta(minutes=110)),          # other key
        ],
        "uid long, ts timestamp",
    )
    n = temporal.preceding_window_join(
        left, right, ["uid"], "ts", "ts", "1 hour"
    ).count()
    assert n == 2


def test_funnel_single_pass_matches_sequential(spark):
    from wistia_video_analytics_project_spark.session import configure_runtime
    from wistia_video_analytics_project_spark.sources import load_table

    configure_runtime(spark)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    steps = [("view", "view"), ("click", "click"), ("purchase", "purchase")]
    seq = {
        (r.step, r.step_name): r.entities
        for r in analytics.funnel(events, steps).collect()
    }
    single = {
        (r.step, r.step_name): r.entities
        for r in analytics.funnel_single_pass(events, steps).collect()
    }
    assert seq == single and len(single) == 3


def test_funnel_single_pass_strictly_after_and_ties(spark):
    t0 = _d(2024, 1, 1)
    df = spark.createDataFrame(
        [
            # u1: click at SAME ts as view -> step 2 not reached
            (1, "view", t0), (1, "click", t0),
            # u2: proper ordering, all three
            (2, "view", t0), (2, "click", t0 + dt.timedelta(minutes=1)),
            (2, "purchase", t0 + dt.timedelta(minutes=2)),
            # u3: click BEFORE first view -> not counted at step 2
            (3, "click", t0 - dt.timedelta(minutes=1)), (3, "view", t0),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    steps = [("view", "view"), ("click", "click"), ("purchase", "purchase")]
    out = {r.step: r.entities for r in analytics.funnel_single_pass(df, steps).collect()}
    assert out == {1: 3, 2: 1, 3: 1}


def test_preceding_window_join_requires_key(spark):
    df = spark.createDataFrame([(1, _d(2024, 1, 1))], "uid long, ts timestamp")
    try:
        temporal.preceding_window_join(df, df, [], "ts", "ts")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_rolling_median_exact_and_gap_aware(spark):
    from wistia_video_analytics_project_spark.operators import analytics as an

    rows = [(0, 10.0), (1, 20.0), (2, 1000.0), (3, 30.0), (20, 7.0)]
    df = spark.createDataFrame(rows, "d int, v double")
    got = {r.d: r.rolling_median
           for r in an.rolling_median(df, "v", "d", frame=(-6, 0)).collect()}
    assert got[0] == 10.0
    assert got[1] == 15.0            # even frame: interpolated middle
    assert got[2] == 20.0            # outlier does not drag the median
    assert got[3] == 25.0            # median of 10,20,30,1000
    assert got[20] == 7.0            # gap: RANGE frame excludes old rows


def test_sliding_distinct_counts_unique_in_window(spark):
    import datetime as dt

    from wistia_video_analytics_project_spark.operators import analytics as an

    d = dt.date(2024, 1, 1)
    rows = [
        (1, d), (2, d),                       # day 0: {1,2}
        (1, d + dt.timedelta(days=1)),        # day 1 total: {1,2}
        (3, d + dt.timedelta(days=3)),        # day 3 total: {1,2,3}
        (4, d + dt.timedelta(days=10)),       # day 10: window slid past
    ]
    df = spark.createDataFrame(rows, "user long, day date")
    got = {r.day: r.n_distinct
           for r in an.sliding_distinct(df, "day", "user", 7).collect()}
    assert got[d] == 2
    assert got[d + dt.timedelta(days=1)] == 2
    assert got[d + dt.timedelta(days=3)] == 3
    assert got[d + dt.timedelta(days=10)] == 1


def test_cusum_flags_level_shift(spark):
    """A sustained level change flags on CUSUM even though per-day
    z-scores stay unremarkable (each shifted day is only ~1 sigma)."""
    import datetime as dt

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    rows = []
    eid = 0
    for d in range(20):
        # days 0-9 at level 100, days 10-19 at level 130 (sustained shift)
        v = 100.0 if d < 10 else 130.0
        rows.append((eid, 1, "view", dt.datetime(2024, 1, 1 + d, 12), v))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )

    # run the same operator logic over a local frame via the binding's
    # shape: monkey-path the loader is overkill — rebuild inline
    daily = df.groupBy(F.to_date("ts").alias("date")).agg(
        F.round(F.sum("value"), 2).alias("v"))
    from pyspark.sql import Window
    cents = daily.withColumn("__c", F.round(F.col("v") * 100).cast("long"))
    stats = cents.agg(F.sum("__c").alias("__total_c"),
                      F.count(F.lit(1)).alias("__n"),
                      F.stddev_pop("v").alias("__sigma"))
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    num = (F.col("__n") * F.sum("__c").over(w)
           - F.row_number().over(Window.orderBy("date")) * F.col("__total_c"))
    cusum = num / (F.col("__n") * F.lit(100.0))
    out = cents.crossJoin(F.broadcast(stats)).select(
        "date", (F.abs(cusum) > 2 * F.col("__sigma")).alias("is_shift"),
        F.round(cusum, 2).alias("cusum"))
    got = {str(r.date): (r.is_shift, r.cusum) for r in out.collect()}
    # the trough of the CUSUM (just before the shift) must flag
    assert got["2024-01-10"][0] is True
    # start and end of the series return toward zero and must not flag
    assert got["2024-01-01"][0] is False
    assert abs(got["2024-01-20"][1]) < 1e-9  # CUSUM ends at ~0 by construction


def test_event_pattern_match_counts_nonoverlapping_runs(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    t = dt.datetime(2024, 1, 1, 10)
    seq = ["view", "click", "purchase", "view", "click", "purchase", "view",
           "error", "click", "purchase"]
    rows = [(i, 7, et, t + dt.timedelta(minutes=i), 1.0)
            for i, et in enumerate(seq)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    ch = (F.when(F.col("event_type") == "view", "V")
          .when(F.col("event_type") == "click", "C")
          .when(F.col("event_type") == "purchase", "P")
          .when(F.col("event_type") == "signup", "S").otherwise("E"))
    per_user = (df.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("__s"))
                .groupBy("user_id").agg(F.array_sort(F.collect_list("__s")).alias("__a")))
    s = F.concat_ws("", F.expr("transform(__a, x -> x.ch)"))
    hits = ((F.length(s) - F.length(F.replace(s, F.lit("VCP"), F.lit("")))) / 3).cast("long")
    row = per_user.select(hits.alias("h"), s.alias("seq")).collect()[0]
    assert row.seq == "VCPVCPVECP"
    assert row.h == 2  # the V E C P tail is not a run


def test_regr_aggregates_match_closed_form(spark):
    """regr_slope/intercept/r2 on a hand-built exact line (y = 3x + 7)
    plus one noisy series where r2 < 1."""
    from pyspark.sql import functions as F

    rows = [("a", float(x), 3.0 * x + 7.0) for x in range(10)]
    rows += [("b", 0.0, 1.0), ("b", 1.0, 3.0), ("b", 2.0, 2.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in df.groupBy("g").agg(
        F.round(F.regr_slope("y", "x"), 6).alias("m"),
        F.round(F.regr_intercept("y", "x"), 6).alias("b"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    ).collect()}
    assert (out["a"].m, out["a"].b, out["a"].r2) == (3.0, 7.0, 1.0)
    # closed form for series b: slope=0.5, intercept=1.5, r2=0.25
    assert (out["b"].m, out["b"].b, out["b"].r2) == (0.5, 1.5, 0.25)


def test_event_id_gaps_finds_constructed_gap(spark):
    """The gap detector reports exact missing ranges on a constructed
    id axis (dense run, hole, dense run)."""
    from pyspark.sql import Window, functions as F

    ids = list(range(1, 11)) + list(range(15, 20))  # hole: 11..14
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    w = Window.orderBy("event_id")
    got = (
        df.select("event_id").distinct()
        .withColumn("__next", F.lead("event_id").over(w))
        .filter(F.col("__next") > F.col("event_id") + 1)
        .select((F.col("event_id") + 1).alias("s"),
                (F.col("__next") - 1).alias("e"),
                (F.col("__next") - F.col("event_id") - 1).alias("n"))
        .collect()
    )
    assert [(r.s, r.e, r.n) for r in got] == [(11, 14, 4)]
