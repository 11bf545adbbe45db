"""Scale helpers: observe-based single-pass metrics, skew report,
incremental join deltas, binned ladders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import scale


def test_observed_metrics_single_pass(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", None)], "k string, v int"
    )
    metrics = {
        "rows": F.count(F.lit(1)),
        "null_k": F.sum(F.col("k").isNull().cast("long")),
        "null_v": F.sum(F.col("v").isNull().cast("long")),
    }
    out, obs = scale.observed(df, "qc", metrics)
    assert out.count() == 3  # the one real action
    assert obs.get == {"rows": 3, "null_k": 1, "null_v": 1}


def test_skew_report_identifies_hot_key(spark):
    # 100 rows on the hot key, 10 keys with 1 row each -> total 110, 11 keys
    df = spark.createDataFrame(
        [("hot", i) for i in range(100)] + [(f"k{i}", i) for i in range(10)],
        "key string, n int",
    )
    rows = scale.skew_report(df, ["key"], top_n=3).collect()
    assert [r.key for r in rows][0] == "hot"
    top = rows[0]
    assert top.n_rows == 100
    assert abs(top.pct_of_total - 100 / 110) < 1e-6
    assert abs(top.skew_ratio - (100 * 11 / 110)) < 0.01  # 10x the mean
    # remaining slots: deterministic key-ordered ties
    assert [r.key for r in rows[1:]] == ["k0", "k1"]


def test_skew_report_uniform_ratio_near_one(spark):
    df = spark.createDataFrame(
        [(f"k{i}", j) for i in range(8) for j in range(5)], "key string, n int"
    )
    rows = scale.skew_report(df, ["key"], top_n=8).collect()
    assert all(r.skew_ratio == 1.0 for r in rows)


def test_incremental_join_delta_completeness(spark):
    """old_view ∪ ΔV must equal the full recompute exactly (insert-only
    contract), including duplicate multiplicity — checked with exceptAll
    in both directions."""
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.sources.readers import load_table
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_SMOKE, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = load_table(spark, SF_SMOKE, "customer")
    cutoff = F.lit("1997-01-01").cast("date")
    f_old = orders.filter(F.col("o_orderdate") < cutoff)
    f_delta = orders.filter(F.col("o_orderdate") >= cutoff)
    d_old = customer.filter(F.col("c_custkey") % 20 != 0)
    d_delta = customer.filter(F.col("c_custkey") % 20 == 0)

    old_view = f_old.join(d_old, "c_custkey")
    delta = scale.incremental_join_delta(f_old, f_delta, d_old, d_delta,
                                         on="c_custkey")
    incremental = old_view.unionByName(delta)
    full = orders.join(customer, "c_custkey")
    assert incremental.exceptAll(full).count() == 0
    assert full.exceptAll(incremental).count() == 0
    # and the delta is disjoint from the old view (pure inserts)
    assert delta.intersect(old_view).count() == 0


def test_binned_running_sum_equals_global_window(spark):
    """The two-level ladder must reproduce the single-partition window
    exactly, bucket boundaries included, on integer cents."""
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.sources.readers import load_table
    from conftest import SF_SMOKE
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        F.floor(F.round("o_totalprice", 2) * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    got = scale.binned_running_sum(
        orders, ["o_orderkey"], "cents", n_buckets=16
    )
    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = orders.withColumn("running_sum", F.sum("cents").over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_running_sum_layout_independent(spark):
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("v")
    )
    a = scale.binned_running_sum(df, ["id"], "v", n_buckets=8)
    b = scale.binned_running_sum(
        df.repartition(13), ["id"], "v", n_buckets=8
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # last row carries the grand total
    total = df.agg(F.sum("v")).first()[0]
    last = a.orderBy(F.desc("id")).first()
    assert last["running_sum"] == total


def test_binned_running_sum_degenerate_single_value(spark):
    """min == max on the lead column: everything lands in bucket 1 and
    the ladder still matches the naive cumulative."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(5, i, 1) for i in range(10)], "k int, tie int, v int"
    )
    out = scale.binned_running_sum(df, ["k", "tie"], "v", n_buckets=4)
    rows = {r["tie"]: r["running_sum"] for r in out.collect()}
    assert rows == {i: i + 1 for i in range(10)}


def test_binned_running_sum_null_lead_keys(spark):
    """NULL lead keys must neither drop (review finding: a NULL bucket
    fell out of the offsets join) nor misplace: they sort first, exactly
    like the global window's NULLS FIRST order."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(
        [(None, 0, 10), (None, 1, 5), (3, 2, 1), (7, 3, 2)],
        "k int, tie int, v int",
    )
    got = scale.binned_running_sum(df, ["k", "tie"], "v", n_buckets=4)
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.withColumn("running_sum", F.sum("v").over(w))
    assert got.count() == 4
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_row_number_equals_global_window(spark):
    """The rank ladder must reproduce the single-partition row_number
    exactly — ties on the lead column broken by the tiebreaker, bucket
    boundaries included."""
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.sources.readers import load_table
    from conftest import SF_SMOKE
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        F.floor(F.round("o_totalprice", 2) * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    got = scale.binned_row_number(
        orders, ["cents", "o_orderkey"], n_buckets=16, out_col="rn"
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_orderkey").asc())
    ref = orders.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_row_number_null_and_degenerate(spark):
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    # NULL lead keys rank first (ASC NULLS FIRST parity)
    df = spark.createDataFrame(
        [(None, 0), (None, 1), (3, 2), (7, 3)], "k int, tie int"
    )
    got = {
        r["tie"]: r["rn"]
        for r in scale.binned_row_number(
            df, ["k", "tie"], n_buckets=4, out_col="rn"
        ).collect()
    }
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}
    # min == max on the lead column: single bucket, still exact
    df2 = spark.createDataFrame(
        [(5, i) for i in range(10)], "k int, tie int"
    )
    got2 = {
        r["tie"]: r["rn"]
        for r in scale.binned_row_number(
            df2, ["k", "tie"], n_buckets=4, out_col="rn"
        ).collect()
    }
    assert got2 == {i: i + 1 for i in range(10)}


def test_binned_ntile_equals_global_ntile(spark):
    """The tile ladder must replicate ntile's remainder placement
    exactly — including n % k != 0 and n < k frames."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    for n_rows, k in ((1003, 4), (37, 10), (7, 10), (40, 4)):
        df = spark.range(n_rows).select(
            F.col("id"), (F.xxhash64("id") % 1000).alias("v")
        )
        got = scale.binned_ntile(
            df, ["v", "id"], k, n_buckets=8, out_col="t"
        )
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        ref = df.withColumn("t", F.ntile(k).over(w))
        assert got.exceptAll(ref).count() == 0, (n_rows, k)
        assert ref.exceptAll(got).count() == 0, (n_rows, k)


def test_binned_prefix_ops_matches_single_op_ladders(spark):
    """The fused ladder (one bucketing, several prefix ops) must equal
    the global windows for every output it carries."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    df = spark.range(500).select(
        (F.xxhash64("id") % 97).alias("k"),
        F.col("id").alias("tie"),
        (F.col("id") % 5 + 1).alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    got = scale.binned_prefix_ops(
        df,
        ["k", "tie"],
        sum_cols={"cum_a": "a", "cum_b": "b"},
        rank_col="rn",
        n_buckets=8,
    )
    w_run = Window.orderBy(F.col("k").asc(), F.col("tie").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rank = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = (
        df.withColumn("cum_a", F.sum("a").over(w_run))
        .withColumn("cum_b", F.sum("b").over(w_run))
        .withColumn("rn", F.row_number().over(w_rank))
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_id_gaps_equals_global_lead(spark):
    """The seam-aware bucketed gaps must equal the single-task
    lead-window form, including gaps that span bucket boundaries."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    # ids 0..999 minus multiples of 7 and a large hole (gaps of runs
    # >= 1, some crossing the 8 range buckets)
    df = (
        spark.range(1000)
        .filter((F.col("id") % 7 != 0) & ~F.col("id").between(400, 520))
        .select(F.col("id"))
    )
    got = scale.binned_id_gaps(df, "id", n_buckets=8)
    w = Window.orderBy("id")
    ref = (
        df.withColumn("__n", F.lead("id").over(w))
        .filter(F.col("__n") > F.col("id") + 1)
        .select(
            (F.col("id") + 1).alias("gap_start"),
            (F.col("__n") - 1).alias("gap_end"),
            (F.col("__n") - F.col("id") - 1).alias("n_missing"),
        )
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_row_number_nan_leads_rank_last(spark):
    """width_bucket(NaN) is NULL — without the NaN-bucket guard those
    rows would silently drop out of the offsets equi-join. Spark sorts
    NaN as the largest double, so they must rank last, like the global
    window ranks them."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(
        [(1.0, 0), (float("nan"), 1), (2.0, 2), (float("nan"), 3),
         (None, 4)],
        "k double, tie int",
    )
    got = scale.binned_row_number(df, ["k", "tie"], n_buckets=4, out_col="rn")
    assert got.count() == 5  # nothing dropped
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_binned_rank_ladders_layout_independent(spark):
    """Ladder outputs must not depend on physical partition layout —
    the same contract the running-sum ladder carries."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        (F.xxhash64("id") % 131).alias("k"), F.col("id").alias("tie")
    )
    a = scale.binned_row_number(df, ["k", "tie"], n_buckets=8, out_col="rn")
    b = scale.binned_row_number(
        df.repartition(17), ["k", "tie"], n_buckets=8, out_col="rn"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = scale.binned_ntile(df, ["k", "tie"], 7, n_buckets=8, out_col="t")
    d = scale.binned_ntile(
        df.repartition(17), ["k", "tie"], 7, n_buckets=8, out_col="t"
    )
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0


def test_binned_row_number_quantile_bounds_zipf_key(spark):
    """Round-10 VERDICT item 4: on a Zipf/power-law lead key the
    fixed-width bucketing collapses into one fat bucket (correct but
    single-task again); ``bounds="quantile"`` takes equi-depth edges
    from approx_percentile so no bucket dominates — while staying
    row-identical to the global window."""
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
    )
    from pyspark.sql import Window, functions as F

    n = 20_000
    # floor(1e6/(id+1)) is power-law: values crowd the bottom of a
    # [50, 1e6] range (fixed-width bucket 1 swallows >90% of rows)
    # while the largest single-value tie mass stays ~2% (so equi-depth
    # CAN spread the rows — an irreducible 50%-tie would defeat any
    # value-based bucketing)
    df = spark.range(n).select(
        F.floor(F.lit(1_000_000) / (F.col("id") + 1)).alias("k"),
        F.col("id").alias("tie"),
    )
    got = scale.binned_row_number(
        df, ["k", "tie"], n_buckets=16, bounds="quantile", out_col="rn"
    )
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    def max_share(bounds):
        per = (
            _range_bucketed(df, "k", 16, bounds)
            .groupBy("__bucket").count().collect()
        )
        return max(r["count"] for r in per) / n

    # fixed-width degenerates (>90% of rows in one bucket); equi-depth
    # caps the fattest bucket near 1/16 (ties on duplicate values can
    # merge adjacent buckets, so allow ~4x the ideal share)
    assert max_share(None) > 0.9
    assert max_share("quantile") < 4 / 16


def test_quantile_bounds_null_nan_and_degenerate(spark):
    """The equi-depth path must keep the fixed-width path's edge
    contracts: NULL leads first, NaN leads last, all-equal leads exact."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(
        [(1.0, 0), (float("nan"), 1), (2.0, 2), (float("nan"), 3),
         (None, 4), (0.5, 5)],
        "k double, tie int",
    )
    got = scale.binned_row_number(
        df, ["k", "tie"], n_buckets=4, bounds="quantile", out_col="rn"
    )
    assert got.count() == 6  # nothing dropped
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    # all-equal lead: single bucket, still exact
    df2 = spark.createDataFrame([(5.0, i) for i in range(7)], "k double, tie int")
    got2 = {
        r["tie"]: r["rn"]
        for r in scale.binned_row_number(
            df2, ["k", "tie"], n_buckets=4, bounds="quantile", out_col="rn"
        ).collect()
    }
    assert got2 == {i: i + 1 for i in range(7)}


def test_quantile_bounds_single_bucket_routes_to_observed(spark):
    """Round-11 ADVICE: bounds="quantile" with n_buckets=1 used to build
    percentile_approx(col, [], 2000) — an EMPTY percentage array —
    before the degenerate case was short-circuited, leaving behavior to
    Spark's handling of the empty foldable array rather than the
    documented 'collapses to bucket 1' contract.  nb == 1 must route to
    the observed-min/max path (still exact), and nb < 1 must raise."""
    import pytest
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
    )

    df = spark.createDataFrame(
        [(3.0, 0), (1.0, 1), (2.0, 2), (None, 3)], "k double, tie int"
    )
    # contract: observed-path bucket ids (NULL lead 0, width_bucket 1,
    # the max value in the n+1 overflow bucket — monotone, so the
    # ladder stays exact), and no percentile_approx node in the plan
    bucketed = _range_bucketed(df, "k", 1, "quantile")
    got = {r["tie"]: r["__bucket"] for r in bucketed.collect()}
    assert got == {0: 2, 1: 1, 2: 1, 3: 0}
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in plan

    # the full ladder stays exact through the degenerate request
    got_rn = {
        r["tie"]: r["rn"]
        for r in scale.binned_row_number(
            df, ["k", "tie"], n_buckets=1, bounds="quantile", out_col="rn"
        ).collect()
    }
    assert got_rn == {3: 1, 1: 2, 2: 3, 0: 4}

    with pytest.raises(ValueError, match="n_buckets"):
        _range_bucketed(df, "k", 0, "quantile")


def test_quantile_ties_splits_heavy_tied_lead(spark):
    """SCALE.md round-11 caveat, now reducible: equal lead VALUES merge
    adjacent equi-depth buckets, so a 50%-tie key degenerates
    bounds="quantile" to one fat task.  bounds="quantile-ties" gives
    each heavy value an exclusive bucket sub-split by the TIEBREAKER's
    quantile edges (valid exactly because the lead is constant there) —
    row-identical output, fat share collapsed."""
    from wistia_video_analytics_project_spark.operators import scale
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
    )
    from pyspark.sql import Window, functions as F

    n = 20_000
    # half the rows tie on lead value 7; the rest spread over 1..1000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(7.0))
        .otherwise((F.col("id") % 1000 + 1).cast("double"))
        .alias("k"),
        F.col("id").alias("tie"),
    )
    # row-identity vs the global window
    got = scale.binned_row_number(
        df, ["k", "tie"], n_buckets=16, bounds="quantile-ties",
        out_col="rn",
    )
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    # task-spread: plain quantile leaves >50% in one bucket; ties mode
    # caps the fattest bucket near the equi-depth ideal
    def max_share(bounds):
        per = (
            _range_bucketed(df, "k", 16, bounds, tie="tie")
            .groupBy("__bucket").count().collect()
        )
        return max(r["count"] for r in per) / n

    assert max_share("quantile") > 0.5
    assert max_share("quantile-ties") < 4 / 16


def test_quantile_ties_null_nan_and_no_heavy(spark):
    """Edge contracts: NULL lead first, NaN lead last, NULL tie first
    and NaN tie last WITHIN a heavy value; and on a tie-free lead the
    mode degrades gracefully to plain equi-depth behavior."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    nan = float("nan")
    rows = (
        [(7.0, float(t), t) for t in range(8)]          # heavy value
        + [(7.0, None, 100), (7.0, nan, 101)]           # tie edges
        + [(1.0, 0.0, 102), (9.0, 0.0, 103),
           (None, 0.0, 104), (nan, 0.0, 105)]           # lead edges
    )
    df = spark.createDataFrame(rows, "k double, t double, u int")
    got = scale.binned_row_number(
        df, ["k", "t", "u"], n_buckets=4, bounds="quantile-ties",
        out_col="rn",
    )
    w = Window.orderBy(
        F.col("k").asc(), F.col("t").asc(), F.col("u").asc()
    )
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    # no heavy values at all: still exact
    df2 = spark.range(500).select(
        (F.col("id") % 97).cast("double").alias("k"),
        F.col("id").alias("tie"),
    )
    got2 = scale.binned_running_sum(
        df2.withColumn("v", F.lit(1).cast("long")),
        ["k", "tie"], "v", n_buckets=8, bounds="quantile-ties",
        out_col="rs",
    )
    w2 = Window.orderBy(F.col("k").asc(), F.col("tie").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref2 = df2.withColumn("v", F.lit(1).cast("long")).withColumn(
        "rs", F.sum("v").over(w2)
    )
    assert got2.exceptAll(ref2).count() == 0
    assert ref2.exceptAll(got2).count() == 0


def test_quantile_ties_requires_tiebreaker_and_passes_through(spark):
    """Single-column callers (binned_id_gaps) must reject the mode with
    a clear error; binned_ntile rides binned_row_number and stays exact
    on a heavy-tied lead."""
    import pytest
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    ids = spark.range(100).select(F.col("id"))
    with pytest.raises(ValueError, match="tiebreaker"):
        scale.binned_id_gaps(ids, "id", n_buckets=4,
                             bounds="quantile-ties").collect()

    # round-12 ADVICE: a NON-NUMERIC tiebreaker must error, not
    # silently cast-to-NULL in the sub-bucket sketch while the window
    # orders by the raw string (which would corrupt global row order)
    strs = spark.range(100).select(
        (F.col("id") % 5).cast("double").alias("k"),
        F.col("id").cast("string").alias("tie"),
    )
    with pytest.raises(ValueError, match="NUMERIC"):
        scale.binned_row_number(
            strs, ["k", "tie"], n_buckets=4, bounds="quantile-ties",
            out_col="rn",
        ).collect()

    df = spark.range(3_000).select(
        F.when(F.col("id") % 3 != 0, F.lit(5.0))
        .otherwise((F.col("id") % 50).cast("double"))
        .alias("k"),
        F.col("id").alias("tie"),
    )
    got = scale.binned_ntile(
        df, ["k", "tie"], 7, n_buckets=8, bounds="quantile-ties",
        out_col="t",
    )
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("t", F.ntile(7).over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_observed_bounds_exclude_nan_from_bucket_range(spark):
    """Round-10 ADVICE: a single NaN lead used to poison F.max (Spark
    orders NaN largest), making __hi NaN and width_bucket NULL for
    EVERY row — output stayed correct but every row coalesced into the
    trailing NaN bucket, silently degenerating the ladder to one task.
    The observed bounds must come from the non-NaN values."""
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.when(F.col("id") == 0, float("nan"))
        .otherwise(F.col("id").cast("double"))
        .alias("k"),
        F.col("id").alias("tie"),
    )
    per = (
        _range_bucketed(df, "k", 8, None)
        .groupBy("__bucket").count().collect()
    )
    counts = {r["__bucket"]: r["count"] for r in per}
    assert counts.pop(8 + 2) == 1  # the NaN row, alone in the trailing bucket
    assert len(counts) >= 8  # real values spread over the full range
    assert max(counts.values()) < 1000 / 4


def test_quantile_bounds_pass_through_ntile_and_id_gaps(spark):
    """binned_ntile and binned_id_gaps accept bounds="quantile" and
    stay row-identical to the global windows on a skewed axis."""
    from wistia_video_analytics_project_spark.operators import scale
    from pyspark.sql import Window, functions as F

    n = 5_000
    df = spark.range(n).select(
        F.floor(F.lit(1_000_000) / (F.col("id") + 1)).alias("k"),
        F.col("id").alias("tie"),
    )
    got = scale.binned_ntile(
        df, ["k", "tie"], 7, n_buckets=16, bounds="quantile", out_col="t"
    )
    w = Window.orderBy(F.col("k").asc(), F.col("tie").asc())
    ref = df.withColumn("t", F.ntile(7).over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    # clustered id axis (ids crowd near 0 after the reciprocal), holes
    # punched deterministically
    ids = df.select(F.col("k").alias("id")).distinct().filter(
        F.pmod(F.col("id"), F.lit(7)) != 3
    )
    got_g = scale.binned_id_gaps(ids, "id", n_buckets=8, bounds="quantile")
    wg = Window.orderBy("id")
    ref_g = (
        ids.withColumn("nxt", F.lead("id").over(wg))
        .filter(F.col("nxt") > F.col("id") + 1)
        .select(
            (F.col("id") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("id") - 1).alias("n_missing"),
        )
    )
    assert got_g.exceptAll(ref_g).count() == 0
    assert ref_g.exceptAll(got_g).count() == 0
