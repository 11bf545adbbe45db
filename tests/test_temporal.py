"""Temporal operators: as-of join, interval joins, sessionization."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import temporal

T0 = dt.datetime(2024, 1, 1, 12, 0)


def _m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def quotes(spark):
    rows = [
        ("A", _m(0), 100.0),
        ("A", _m(10), 110.0),
        ("A", _m(20), 120.0),
        ("B", _m(5), 50.0),
    ]
    return spark.createDataFrame(rows, "sym string, qts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        ("A", _m(-5), 1),   # before any quote -> null
        ("A", _m(10), 2),   # exactly at quote -> inclusive match 110
        ("A", _m(15), 3),   # between -> 110
        ("A", _m(60), 4),   # after all -> 120
        ("B", _m(6), 5),    # -> 50
        ("C", _m(6), 6),    # no quotes for key -> null
    ]
    return spark.createDataFrame(rows, "sym string, tts timestamp, trade_id int")


def test_as_of_join_backward_inclusive(spark, trades, quotes):
    out = temporal.as_of_join(
        trades, quotes, on=["sym"], left_ts="tts", right_ts="qts"
    )
    got = {r.trade_id: r.px for r in out.collect()}
    assert got == {1: None, 2: 110.0, 3: 110.0, 4: 120.0, 5: 50.0, 6: None}
    assert out.count() == trades.count()  # left-join cardinality


def test_sessionize(spark):
    rows = [
        (1, _m(0)), (1, _m(10)), (1, _m(50)),   # gap 40 > 30 -> new session
        (1, _m(55)),
        (2, _m(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = temporal.sessionize(df, "user_id", "ts")
    got = {(r.user_id, r.ts): r.session_id for r in out.collect()}
    assert got[(1, _m(0))] == 1 and got[(1, _m(10))] == 1
    assert got[(1, _m(50))] == 2 and got[(1, _m(55))] == 2
    assert got[(2, _m(0))] == 1


def test_session_stats(spark):
    rows = [(1, _m(0)), (1, _m(10)), (1, _m(50))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    stats = {r.session_id: r for r in
             temporal.session_stats(df, "user_id", "ts").collect()}
    assert stats[1].n_events == 2 and stats[1].duration_seconds == 600
    assert stats[2].n_events == 1 and stats[2].duration_seconds == 0


def test_session_window_matches_lag_sessionize(spark):
    rows = [
        (1, _m(0)), (1, _m(10)), (1, _m(50)), (1, _m(55)),
        (2, _m(0)), (2, _m(45)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    lag_based = {
        (r.user_id, r.session_start_ts, r.session_end_ts, r.n_events,
         r.duration_seconds)
        for r in temporal.session_stats(df, "user_id", "ts").collect()
    }
    native = {
        (r.user_id, r.session_start_ts, r.session_end_ts, r.n_events,
         r.duration_seconds)
        for r in temporal.session_window_stats(df, "user_id", "ts").collect()
    }
    assert native == lag_based


def test_as_of_join_rejects_column_collisions(spark, trades, quotes):
    clashing = quotes.withColumnRenamed("px", "trade_id")  # collides with left
    with pytest.raises(ValueError, match="collide"):
        temporal.as_of_join(trades, clashing, on=["sym"], left_ts="tts", right_ts="qts")


def test_binned_range_join_matches_plain_interval_join(spark):
    """The binned equi-join must produce exactly the pairs of the naive
    interval predicate, including rows sitting on bin boundaries."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    lrows = [(i, t + dt.timedelta(seconds=7 * i)) for i in range(40)]
    rrows = [(100 + i, t + dt.timedelta(seconds=5 * i - 60)) for i in range(60)]
    L = spark.createDataFrame(lrows, "lid long, lts timestamp")
    R = spark.createDataFrame(rrows, "rid long, rts timestamp")
    got = {
        (r.lid, r.rid)
        for r in temporal.binned_range_join(L, R, "lts", "rts", 30).collect()
    }
    naive = {
        (r.lid, r.rid)
        for r in L.crossJoin(R)
        .filter("rts >= lts - INTERVAL 30 seconds AND rts < lts")
        .collect()
    }
    assert got == naive and naive


def test_binned_range_join_with_equi_key_matches_preceding_window(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [(i % 3, i, t + dt.timedelta(minutes=i)) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, eid long, ts timestamp")
    L = df.select("k", F.col("eid").alias("lid"), F.col("ts").alias("lts"))
    R = df.select("k", F.col("eid").alias("rid"), F.col("ts").alias("rts"))
    binned = {
        (r.lid, r.rid)
        for r in temporal.binned_range_join(
            L, R, "lts", "rts", 600, on=["k"]
        ).collect()
    }
    keyed = {
        (r.lid, r.rid)
        for r in temporal.preceding_window_join(
            L, R, ["k"], "lts", "rts", "10 minutes"
        ).collect()
    }
    assert binned == keyed and binned


def test_binned_range_join_excludes_upper_bound(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame([(1, t)], "lid long, lts timestamp")
    R = spark.createDataFrame([(2, t)], "rid long, rts timestamp")
    assert temporal.binned_range_join(L, R, "lts", "rts", 60).count() == 0


def test_interpolate_linear_fills_gaps(spark):
    rows = [(0, 10.0), (1, None), (2, None), (3, 40.0), (4, None), (6, None)]
    df = spark.createDataFrame(rows, "x long, v double")
    got = {r.x: r.v_interp
           for r in temporal.interpolate_linear(df, "x", "v").collect()}
    assert got[0] == 10.0 and got[3] == 40.0  # observations untouched
    assert got[1] == 20.0 and got[2] == 30.0  # linear between 10 and 40
    assert got[4] == 40.0 and got[6] == 40.0  # trailing carried forward


def test_interpolate_linear_leading_backfill_and_groups(spark):
    rows = [("a", 0, None), ("a", 1, 5.0), ("a", 3, 9.0),
            ("b", 0, 100.0), ("b", 2, None)]
    df = spark.createDataFrame(rows, "g string, x long, v double")
    got = {(r.g, r.x): r.v_interp
           for r in temporal.interpolate_linear(df, "x", "v", ["g"]).collect()}
    assert got[("a", 0)] == 5.0          # leading backfill
    assert got[("a", 3)] == 9.0
    assert got[("b", 2)] == 100.0        # group isolation: no bleed from 'a'


def test_interpolate_linear_all_null_group_stays_null(spark):
    df = spark.createDataFrame([("a", 0, None), ("a", 1, None)],
                               "g string, x long, v double")
    out = temporal.interpolate_linear(df, "x", "v", ["g"]).collect()
    assert all(r.v_interp is None for r in out)


def _asof_fixture(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(25)), (1, ts(40)), (2, ts(5)), (3, ts(7))],
        "k int, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(30), "b"), (2, ts(20), "c")],
        "k int, rts timestamp, payload string",
    )
    return left, right


def _pandas_asof(left, right):
    import pandas as pd

    lp = left.toPandas().sort_values("lts").reset_index(drop=True)
    rp = right.toPandas().sort_values("rts").reset_index(drop=True)
    merged = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="k")
    return {
        (r.k, r.lts): (None if pd.isna(r.payload) else r.payload)
        for r in merged.itertuples()
    }


def test_as_of_join_matches_pandas_merge_asof(spark):
    left, right = _asof_fixture(spark)
    got = {
        (r["k"], r["lts"]): r["payload"]
        for r in temporal.as_of_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["payload"],
        ).collect()
    }
    assert got == _pandas_asof(left, right)


def test_holt_linear_invariants():
    import numpy as np

    # constant series: level locks to the constant, trend decays to ~0
    levels, trends, fitted = temporal.holt_linear([5.0] * 30)
    assert abs(levels[-1] - 5.0) < 1e-9 and abs(trends[-1]) < 1e-9
    # exactly linear series: one-step predictions are exact after start
    ys = [2.0 + 3.0 * i for i in range(20)]
    levels, trends, fitted = temporal.holt_linear(ys)
    np.testing.assert_allclose(fitted[2:], ys[2:], rtol=1e-9)
    np.testing.assert_allclose(trends[-1], 3.0, rtol=1e-9)
    # beta=0 degenerates to SES around the initial trend: recursion
    # matches a hand-rolled reference
    ys = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0]
    a = 0.4
    levels, trends, fitted = temporal.holt_linear(ys, alpha=a, beta=0.0)
    b0 = ys[1] - ys[0]
    lvl = ys[0]
    for i, y in enumerate(ys[1:], start=1):
        lvl = a * y + (1 - a) * (lvl + b0)
        assert abs(levels[i] - lvl) < 1e-12
        assert trends[i] == b0


def test_holt_linear_validates():
    with pytest.raises(ValueError):
        temporal.holt_linear([1.0])
    with pytest.raises(ValueError):
        temporal.holt_linear([1.0, 2.0], alpha=0.0)


def test_peak_concurrency_matches_bruteforce(spark):
    """Daily peaks must match a brute-force sweep over the same session
    intervals rebuilt in pandas."""
    import duckdb

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    got = {
        r.day: r.peak_concurrency
        for r in entrymod.q_peak_concurrency_daily(spark, SF_SMOKE).collect()
    }
    spans = duckdb.sql(
        f"""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us
          FROM '{SF_SMOKE}/events.parquet'),
        lagged AS (
          SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS prev_us
          FROM ev),
        sess AS (
          SELECT user_id, us,
                 sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
          FROM lagged)
        SELECT min(us) AS s, max(us) AS e
        FROM sess GROUP BY user_id, sid
        """
    ).fetchall()
    # brute-force: sweep all boundaries globally, track running count
    bounds = []
    for s, e in spans:
        bounds.append((s, 0))   # starts sort before ends at equal us
        bounds.append((e, 1))
    bounds.sort()
    import datetime

    active = 0
    peaks: dict = {}
    for us, kind in bounds:
        active += 1 if kind == 0 else -1
        if kind == 0:
            day = datetime.datetime.fromtimestamp(
                us / 1e6, tz=datetime.timezone.utc
            ).date()
            peaks[day] = max(peaks.get(day, 0), active)
    # a day's peak can also be inherited purely from carry (no starts
    # that day reaching the max) — the brute force above only records
    # at starts, so compare only days where a start occurred AND allow
    # the query's value to be >= (it also sees carry-only plateaus)
    assert peaks, "no sessions"
    for day, p in peaks.items():
        assert got.get(day, 0) >= p, day
    # global maximum must agree exactly (it is always attained at a
    # session start)
    assert max(got.values()) == max(peaks.values())


def test_peak_concurrency_midnight_carry(spark):
    """Sessions spanning midnight: the next day's peak must include the
    carried-in plateau even when that day has only -1 boundaries (the
    round-6 review finding), and a day lying wholly inside a long
    session still reports the carry."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    rows = []
    eid = 0
    # two users active 23:50 day1 -> 00:10/00:05 day2 (sessions span
    # midnight; gap < 30 min keeps each as ONE session)
    for user, end_min in ((1, 10), (2, 5)):
        for ts in (f"2024-03-01 23:50:00", f"2024-03-01 23:59:00",
                   f"2024-03-02 00:0{end_min // 10}:00",
                   f"2024-03-02 00:{end_min:02d}:00"):
            eid += 1
            rows.append((eid, user, ts))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    df.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    ).createOrReplaceTempView("__ev_pc")
    # re-run the binding's SQL body (extracted from source) against the
    # crafted view — the binding itself is table-bound
    import inspect

    src = inspect.getsource(entrymod.q_peak_concurrency_daily)
    start = src.index('"""', src.index("spark.sql")) + 3
    end = src.index('"""', start)
    res = {str(r.day): r.peak_concurrency
           for r in spark.sql(src[start:end]).collect()}
    assert res["2024-03-01"] == 2
    assert res["2024-03-02"] == 2  # carried-in plateau, only -1 bounds
