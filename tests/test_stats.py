"""Statistical queries vs direct numpy references.

The oracle gate proves Spark and DuckDB agree; these tests prove the
shared FORMULA is right — each statistic is recomputed from the raw
parquet with an independent in-memory implementation (textbook
definitions, not the query's algebra) and compared to the query output.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from conftest import SF_SMOKE


def _events() -> pd.DataFrame:
    df = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pandas()
    # NANOS timestamps load as datetime64[ns] in pandas — already usable
    return df


def _orders() -> pd.DataFrame:
    return pq.read_table(f"{SF_SMOKE}/orders.parquet").to_pandas()


def test_mann_whitney_matches_textbook(spark):
    orders = _orders()
    a = orders.loc[
        orders.o_orderpriority.isin(["1-URGENT", "2-HIGH"]), "o_totalprice"
    ].to_numpy()
    b = orders.loc[
        ~orders.o_orderpriority.isin(["1-URGENT", "2-HIGH"]), "o_totalprice"
    ].to_numpy()
    # textbook midrank U: rank the pooled sample, U1 = R1 - n1(n1+1)/2
    pooled = np.concatenate([a, b])
    uniq, inv, cnt = np.unique(pooled, return_inverse=True, return_counts=True)
    before = np.cumsum(cnt) - cnt
    midrank = before + (cnt + 1) / 2.0  # 1-based
    r = midrank[inv]
    n1, n2 = len(a), len(b)
    u1 = r[:n1].sum() - n1 * (n1 + 1) / 2.0
    big_t = float((cnt.astype(np.float64) ** 3 - cnt).sum())
    nn = n1 + n2
    sigma = np.sqrt(
        n1 * n2 / 12.0 * ((nn + 1.0) - big_t / (nn * (nn - 1.0)))
    )
    z = (u1 - n1 * n2 / 2.0) / sigma

    row = entrymod.queries()["mann_whitney_order_values"](spark, SF_SMOKE).collect()[0]
    assert row["n_a"] == n1 and row["n_b"] == n2
    assert row["u_statistic"] == pytest.approx(u1, abs=0.51)
    assert row["sigma_u"] == pytest.approx(sigma, abs=1e-3)
    assert row["z_score"] == pytest.approx(z, abs=1e-3)


def test_chi_square_matches_textbook(spark):
    ev = _events()
    dow = ev.ts.dt.dayofweek + 1  # pandas Monday=0 -> isodow
    table = pd.crosstab(ev.event_type, dow)
    o = table.to_numpy(dtype=np.float64)
    e = np.outer(o.sum(axis=1), o.sum(axis=0)) / o.sum()
    chi2 = ((o - e) ** 2 / e).sum()

    row = entrymod.queries()["chi_square_type_weekday"](spark, SF_SMOKE).collect()[0]
    assert row["n_events"] == int(o.sum())
    assert row["n_cells"] == o.size
    assert row["chi2"] == pytest.approx(chi2, abs=1e-3)


def test_kaplan_meier_matches_textbook(spark):
    ev = _events()
    g = ev.groupby("user_id")
    first = g.ts.min().dt.normalize()
    last = g.ts.max().dt.normalize()
    purch = ev[ev.event_type == "purchase"].groupby("user_id").ts.min().dt.normalize()
    t = pd.Series(index=first.index, dtype="float64")
    observed = first.index.isin(purch.index)
    t[observed] = (purch - first[purch.index]).dt.days
    t[~observed] = (last[~observed] - first[~observed]).dt.days
    t = t.to_numpy()
    obs = np.asarray(observed)

    # textbook product-limit over event times
    surv = {}
    s = 1.0
    for ti in np.sort(np.unique(t[obs])):
        n_i = int((t >= ti).sum())
        d_i = int(((t == ti) & obs).sum())
        s *= 1.0 - d_i / n_i
        surv[int(ti)] = s

    got = {
        r["t"]: r
        for r in entrymod.queries()["purchase_survival_km"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(surv)
    for ti, s_ref in surv.items():
        assert got[ti]["survival"] == pytest.approx(s_ref, abs=1e-5), ti
        assert got[ti]["n_at_risk"] == int((t >= ti).sum())


def test_ab_test_matches_textbook(spark):
    ev = _events()
    g = ev.groupby("user_id")
    first = g.ts.min()
    purch = ev[ev.event_type == "purchase"].groupby("user_id").ts.min()
    conv = pd.Series(0, index=first.index)
    joined = purch.reindex(first.index)
    conv[(joined - first) <= pd.Timedelta(days=3)] = 1
    variant_a = first.index.to_numpy() % 2 == 0
    n1, n2 = int(variant_a.sum()), int((~variant_a).sum())
    c1, c2 = int(conv[variant_a].sum()), int(conv[~variant_a].sum())
    p1, p2 = c1 / n1, c2 / n2
    pooled = (c1 + c2) / (n1 + n2)
    se = np.sqrt(pooled * (1 - pooled) * (1 / n1 + 1 / n2))
    z = (p2 - p1) / se

    row = entrymod.queries()["ab_test_report"](spark, SF_SMOKE).collect()[0]
    assert (row["n_a"], row["n_b"], row["conv_a"], row["conv_b"]) == (
        n1, n2, c1, c2,
    )
    assert row["z_score"] == pytest.approx(z, abs=1e-3)
    assert row["significant"] == (abs(round(z, 4)) > 1.96)


def test_decomposition_additive_identity(spark):
    """revenue - trend - seasonal - remainder == 0 wherever the trend is
    defined (the decomposition is additive BY CONSTRUCTION; rounding at
    4 decimals bounds the residual)."""
    rows = entrymod.queries()["daily_revenue_decomposition"](
        spark, SF_SMOKE
    ).collect()
    assert rows, "no purchase days"
    n_defined = 0
    for r in rows:
        if r["trend"] is None:
            assert r["remainder"] is None
            continue
        n_defined += 1
        resid = r["revenue"] - r["trend"] - r["seasonal"] - r["remainder"]
        assert abs(resid) < 5e-4, r
    assert n_defined > 0
    # edge days (first/last 3) have no full centered window
    assert rows[0]["trend"] is None and rows[-1]["trend"] is None


def test_decomposition_trend_is_7day_mean(spark):
    rows = entrymod.queries()["daily_revenue_decomposition"](
        spark, SF_SMOKE
    ).collect()
    by_day = {r["day"]: r for r in rows}
    days = sorted(by_day)
    for i, d in enumerate(days):
        window = [
            by_day[x]["revenue"]
            for x in days
            if abs((x - d).days) <= 3
        ]
        r = by_day[d]
        if len(window) == 7 and all(
            (x - d).days in range(-3, 4)
            for x in days
            if abs((x - d).days) <= 3
        ):
            if r["trend"] is not None:
                assert r["trend"] == pytest.approx(
                    sum(window) / 7.0, abs=1e-3
                ), d


def test_ar2_matches_numpy_lstsq(spark):
    """The closed-form Cramer solution must equal numpy's least-squares
    fit of the same lagged design matrix."""
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    row = entrymod.q_ar2_revenue_forecast(spark, SF_SMOKE).collect()[0]
    # rebuild the daily series independently with plain SQL
    import duckdb

    ser = duckdb.sql(
        f"""
        SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) / 100.0 AS rev
        FROM '{SF_SMOKE}/orders.parquet'
        GROUP BY CAST(o_orderdate AS DATE) ORDER BY CAST(o_orderdate AS DATE)
        """
    ).fetchnumpy()["rev"].astype(np.float64)
    y, x1, x2 = ser[2:], ser[1:-1], ser[:-2]
    design = np.column_stack([x1, x2, np.ones_like(y)])
    coef, *_ = np.linalg.lstsq(design, y, rcond=None)
    assert row.phi1 == pytest.approx(coef[0], abs=2e-4)
    assert row.phi2 == pytest.approx(coef[1], abs=2e-4)
    assert row.intercept == pytest.approx(coef[2], abs=0.02)
    f1 = coef[2] + coef[0] * ser[-1] + coef[1] * ser[-2]
    assert row.forecast_1 == pytest.approx(f1, abs=0.02)


def test_haar_wavelet_matches_numpy_reference(spark):
    """Per-level detail energies must equal an integer-exact numpy Haar
    computed from the same daily-cents series."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    rel = duckdb.sql(
        f"""
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM '{SF_SMOKE}/orders.parquet'
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    d0 = rel[0][0]
    n = (rel[-1][0] - d0).days + 1
    series = np.zeros(n, dtype=object)  # python ints: no overflow
    for day, cents in rel:
        series[(day - d0).days] = int(cents)
    rows = entrymod.q_haar_revenue_wavelet(spark, SF_SMOKE).collect()
    assert [r.level for r in rows] == list(range(1, 9))
    for r in rows:
        half = 1 << (r.level - 1)
        nblocks = -(-n // half)
        blocks = [
            int(series[b * half : (b + 1) * half].sum())
            for b in range(nblocks)
        ]
        present = [
            bool((series[b * half : (b + 1) * half] != 0).any())
            for b in range(nblocks)
        ]
        details = [
            blocks[2 * p] - (blocks[2 * p + 1] if 2 * p + 1 < nblocks else 0)
            for p in range(-(-nblocks // 2))
        ]
        nonzero_pairs = sum(
            1
            for p in range(-(-nblocks // 2))
            if present[2 * p]
            or (2 * p + 1 < nblocks and present[2 * p + 1])
        )
        assert r.n_nonzero_pairs == nonzero_pairs
        # dense-spine energies equal the sparse ones: empty pairs add 0;
        # emitted as the exact integer digit string (cents^2) — doubles
        # above 2^50 round differently per engine (round-7 driver fail)
        want = sum(d * d for d in details)
        assert r.energy_cents2 == str(want)


def test_periodogram_matches_numpy_reference(spark):
    """Power shares must match a numpy periodogram of the same
    mean-centered daily-cents series at each candidate period."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    rel = duckdb.sql(
        f"""
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM '{SF_SMOKE}/orders.parquet'
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    d0 = rel[0][0]
    i = np.array([(day - d0).days for day, _ in rel])
    rev = np.array([c for _, c in rel], dtype=np.float64) / 100.0
    dev = rev - rev.mean()
    rows = entrymod.q_revenue_periodogram(spark, SF_SMOKE).collect()
    assert [r.period for r in rows] == [7, 14, 30, 91, 365]
    for r in rows:
        theta = 2 * np.pi * (i % r.period) / r.period
        c = float((dev * np.cos(theta)).sum())
        s = float((dev * np.sin(theta)).sum())
        share = (
            2.0 * (c * c + s * s) / (len(dev) * float((dev * dev).sum()))
        )
        assert r.power_share == pytest.approx(share, abs=2e-6)
        amp = 2.0 * (c * c + s * s) ** 0.5 / len(dev)
        assert r.amplitude_usd == pytest.approx(amp, abs=0.02)
        assert 0.0 <= r.power_share <= 1.0


def test_brand_elasticity_matches_numpy_lstsq(spark):
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    rows = entrymod.q_brand_price_elasticity(spark, SF_SMOKE).collect()
    assert rows
    brand = rows[0].p_brand
    rel = duckdb.sql(
        f"""
        SELECT ln(CAST(l.l_quantity AS DOUBLE)) AS ly,
               ln(CAST(l.l_extendedprice AS DOUBLE)
                  / CAST(l.l_quantity AS DOUBLE)) AS lx
        FROM '{SF_SMOKE}/lineitem.parquet' l
        JOIN '{SF_SMOKE}/part.parquet' p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = '{brand}'
          AND l.l_quantity > 0 AND l.l_extendedprice > 0
        """
    ).fetchnumpy()
    lx, ly = rel["lx"], rel["ly"]
    design = np.column_stack([lx, np.ones_like(lx)])
    coef, *_ = np.linalg.lstsq(design, ly, rcond=None)
    assert rows[0].n_lines == len(lx)
    assert rows[0].elasticity == pytest.approx(coef[0], abs=2e-4)
    assert rows[0].intercept == pytest.approx(coef[1], abs=2e-4)


def test_conformal_interval_coverage_and_quantile(spark):
    """q90 must be the discrete 0.9-quantile of the |lag-7 residual|
    set (an actual element), and calibration coverage >= 90% by
    construction."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    [row] = entrymod.q_conformal_revenue_interval(spark, SF_SMOKE).collect()
    rel = duckdb.sql(
        f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1)
        SELECT abs(d.cents - p.cents) AS ar
        FROM daily d JOIN daily p ON d.day = p.day + 7
        """
    ).fetchnumpy()["ar"].astype(np.int64)
    assert row.n_calib == len(rel)
    srt = np.sort(rel)
    # discrete quantile: smallest element with cumdist >= 0.9
    q = int(srt[int(np.ceil(0.9 * len(srt))) - 1])
    assert row.q90_abs_resid == pytest.approx(q / 100.0, abs=0.005)
    coverage = float((rel <= q).mean())
    assert coverage >= 0.9
    assert row.lo == pytest.approx(row.point_forecast - row.q90_abs_resid, abs=0.02)
    assert row.hi == pytest.approx(row.point_forecast + row.q90_abs_resid, abs=0.02)


def test_circadian_profile_matches_numpy_circular_stats(spark):
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    ev = _events()
    rows = entrymod.q_circadian_profile(spark, SF_SMOKE).collect()
    got = {r.event_type: r for r in rows}
    # pandas reads the parquet ts as datetime64[us]: int64 IS micros
    assert str(ev.ts.dtype) == "datetime64[us]"
    us = ev.ts.astype("int64") % 86_400_000_000
    theta = us.to_numpy() * 2 * np.pi / 86_400_000_000
    for etype, grp in ev.groupby("event_type"):
        th = theta[ev.event_type == etype]
        c, s = float(np.cos(th).sum()), float(np.sin(th).sum())
        r = got[etype]
        assert r.n == len(th)
        mean = (np.arctan2(s, c) + 2 * np.pi) % (2 * np.pi)
        assert r.peak_hour_utc == pytest.approx(
            mean * 24 / (2 * np.pi), abs=0.01
        )
        assert r.resultant_r == pytest.approx(
            np.hypot(c, s) / len(th), abs=1e-3
        )
        # synthetic timestamps are uniform around the clock: R ~ 0
        assert r.resultant_r < 0.1


def test_cuped_reduces_variance_and_matches_numpy(spark):
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    ev = _events()
    cut = ev.ts.min().normalize() + pd.Timedelta(days=15)
    g = ev.groupby("user_id")
    x = g.ts.apply(lambda s: int((s.dt.normalize() < cut).sum()))
    y = g.ts.apply(lambda s: int((s.dt.normalize() >= cut).sum()))
    xv, yv = x.to_numpy(np.float64), y.to_numpy(np.float64)
    mx, my = xv.mean(), yv.mean()
    sxx = ((xv - mx) ** 2).sum()
    sxy = ((xv - mx) * (yv - my)).sum()
    syy = ((yv - my) ** 2).sum()
    theta = sxy / sxx
    rho2 = sxy * sxy / (sxx * syy)
    rows = {r.variant: r for r in
            entrymod.q_cuped_adjusted_ab(spark, SF_SMOKE).collect()}
    assert set(rows) == {0, 1}
    for v, r in rows.items():
        mask = (x.index.to_numpy() % 2) == v
        assert r.n_users == int(mask.sum())
        assert r.mean_y == pytest.approx(yv[mask].mean(), abs=1e-3)
        adj = yv[mask] - theta * (xv[mask] - mx)
        assert r.mean_y_cuped == pytest.approx(adj.mean(), abs=1e-3)
        assert r.theta == pytest.approx(theta, abs=1e-5)
        assert r.var_reduction == pytest.approx(rho2, abs=1e-5)
    # the adjusted per-user metric must genuinely shrink variance
    adj_all = yv - theta * (xv - mx)
    assert adj_all.var() < yv.var()


# ---------------------------------------------------------------------------
# Round-9 additions — textbook re-derivations of the new statistics
# ---------------------------------------------------------------------------


def _cents(x) -> np.ndarray:
    return np.floor(np.asarray(x, dtype=np.float64) * 100 + 0.5).astype(
        np.int64
    )


def _daily_cents_1995() -> np.ndarray:
    o = _orders()
    o = o[o.o_orderdate.dt.year == 1995].copy()
    o["cents"] = _cents(o.o_totalprice)
    daily = o.groupby(o.o_orderdate.dt.normalize()).cents.sum().sort_index()
    return daily.to_numpy(), daily


def test_kruskal_wallis_matches_textbook(spark):
    o = _orders()
    cust = pq.read_table(f"{SF_SMOKE}/customer.parquet").to_pandas()
    nat = pq.read_table(f"{SF_SMOKE}/nation.parquet").to_pandas()
    reg = pq.read_table(f"{SF_SMOKE}/region.parquet").to_pandas()
    m = (
        o.merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(nat, left_on="c_nationkey", right_on="n_nationkey")
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    )
    vals = _cents(m.o_totalprice)
    groups = m.r_name.to_numpy()
    uniq, inv, cnt = np.unique(vals, return_inverse=True, return_counts=True)
    before = np.cumsum(cnt) - cnt
    midrank = (before + (cnt + 1) / 2.0)[inv]
    n = len(vals)
    h = 0.0
    for gname in np.unique(groups):
        rj = midrank[groups == gname].sum()
        nj = (groups == gname).sum()
        h += rj * rj / nj
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    big_t = float((cnt.astype(np.float64) ** 3 - cnt).sum())
    h /= 1.0 - big_t / (float(n) ** 3 - n)

    rows = entrymod.queries()["kruskal_wallis_regions"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == len(np.unique(groups))
    assert rows[0]["h_stat"] == pytest.approx(h, abs=1e-3)
    for r in rows:
        mask = groups == r["r_name"]
        assert r["n_orders"] == int(mask.sum())
        assert r["avg_rank"] == pytest.approx(midrank[mask].mean(), abs=1e-3)


def test_brown_forsythe_matches_textbook(spark):
    arr, daily = _daily_cents_1995()
    isodow = daily.index.dayofweek.to_numpy() + 1
    z = np.empty(len(arr), dtype=np.float64)
    for d in np.unique(isodow):
        mask = isodow == d
        z[mask] = np.abs(arr[mask] - np.median(arr[mask]))
    k = len(np.unique(isodow))
    n = len(z)
    zbar = z.mean()
    ssb = sum(
        (isodow == d).sum() * (z[isodow == d].mean() - zbar) ** 2
        for d in np.unique(isodow)
    )
    ssw = sum(
        ((z[isodow == d] - z[isodow == d].mean()) ** 2).sum()
        for d in np.unique(isodow)
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))

    rows = entrymod.queries()["brown_forsythe_weekday"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == k
    assert rows[0]["bf_f_stat"] == pytest.approx(f_ref, abs=1e-3)
    for r in rows:
        mask = isodow == r["isodow"]
        assert r["n_days"] == int(mask.sum())
        assert r["mean_abs_dev"] == pytest.approx(z[mask].mean(), abs=0.02)


def test_turning_points_matches_textbook(spark):
    arr, _ = _daily_cents_1995()
    t = sum(
        1
        for i in range(1, len(arr) - 1)
        if (arr[i - 1] < arr[i] > arr[i + 1])
        or (arr[i - 1] > arr[i] < arr[i + 1])
    )
    n = len(arr)
    e = 2.0 * (n - 2) / 3.0
    v = (16.0 * n - 29.0) / 90.0
    row = entrymod.queries()["turning_points_test"](spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert row["turning_points"] == t
    assert row["z_stat"] == pytest.approx((t - e) / np.sqrt(v), abs=1e-3)


def test_overdispersion_matches_textbook(spark):
    ev = _events()
    daily = (
        ev.groupby(["event_type", ev.ts.dt.normalize()])
        .size()
        .rename("x")
        .reset_index()
    )
    rows = entrymod.queries()["overdispersion_daily_events"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == daily.event_type.nunique()
    for r in rows:
        x = daily.loc[daily.event_type == r["event_type"], "x"].to_numpy(
            dtype=np.float64
        )
        assert r["n_days"] == len(x)
        assert r["mean_daily"] == pytest.approx(x.mean(), abs=1e-3)
        assert r["var_daily"] == pytest.approx(x.var(ddof=1), abs=1e-3)
        assert r["dispersion_index"] == pytest.approx(
            x.var(ddof=1) / x.mean(), abs=1e-3
        )


def test_dau_mau_matches_textbook(spark):
    ev = _events()
    month = ev.ts.dt.to_period("M")
    rows = entrymod.queries()["dau_mau_stickiness"](spark, SF_SMOKE).collect()
    assert len(rows) == month.nunique()
    for r in rows:
        sel = ev[month == pd.Period(r["month"], freq="M")]
        mau = sel.user_id.nunique()
        dau = sel.groupby(sel.ts.dt.normalize()).user_id.nunique()
        assert r["mau"] == mau
        assert r["active_days"] == len(dau)
        assert r["avg_dau"] == pytest.approx(dau.mean(), abs=0.01)
        assert r["stickiness"] == pytest.approx(dau.mean() / mau, abs=1e-5)


def test_cohort_ltv_matches_textbook(spark):
    o = _orders()
    o = o.copy()
    o["cents"] = _cents(o.o_totalprice)
    o["yr"] = o.o_orderdate.dt.year
    o["cohort"] = o.groupby("o_custkey").yr.transform("min")
    rows = entrymod.queries()["cohort_ltv_curve"](spark, SF_SMOKE).collect()
    by_key = {(r["cohort_year"], r["age_years"]): r for r in rows}
    for cohort, grp in o.groupby("cohort"):
        size = grp.o_custkey.nunique()
        cum = 0
        for age in sorted((grp.yr - grp.cohort).unique()):
            sel = grp[grp.yr - grp.cohort == age]
            cum += int(sel.cents.sum())
            r = by_key[(int(cohort), int(age))]
            assert r["cohort_size"] == size
            assert r["n_orders"] == len(sel)
            assert r["cum_revenue"] == pytest.approx(cum / 100.0, abs=0.01)
            assert r["ltv_per_customer"] == pytest.approx(
                cum / 100.0 / size, abs=0.01
            )


def test_rfm_migration_matches_textbook(spark):
    o = _orders()
    o = o.copy()
    o["cents"] = _cents(o.o_totalprice)
    o["yr"] = o.o_orderdate.dt.year

    def quintile(sub: pd.DataFrame) -> dict[int, int]:
        spend = sub.groupby("o_custkey").cents.sum().reset_index()
        spend = spend.sort_values(
            ["cents", "o_custkey"], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(spend)
        base, extra = divmod(n, 5)
        out, start = {}, 0
        for q in range(1, 6):
            sz = base + (1 if q <= extra else 0)
            for k in spend.o_custkey.iloc[start : start + sz]:
                out[int(k)] = q
            start += sz
        return out

    q1 = quintile(o[o.yr <= 1997])
    q2 = quintile(o[o.yr >= 1998])
    ref: dict[tuple[int, int], int] = {}
    for cust in set(q1) | set(q2):
        key = (q1.get(cust, 0), q2.get(cust, 0))
        ref[key] = ref.get(key, 0) + 1
    got = {
        (r["q_h1"], r["q_h2"]): r["n_customers"]
        for r in entrymod.queries()["rfm_migration_matrix"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == ref


def test_bigram_entropy_matches_textbook(spark):
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pandas()
    import collections
    import re as _re

    rows = {
        r["source"]: r
        for r in entrymod.queries()["bigram_entropy_rate"](
            spark, SF_SMOKE
        ).collect()
    }
    for source, grp in docs.groupby("source"):
        c12: collections.Counter = collections.Counter()
        c1: collections.Counter = collections.Counter()
        for text in grp.text:
            if text is None:
                continue
            t = _re.split(r"\s+", text.strip().lower())
            if len(t) < 2:
                continue
            for a, b in zip(t, t[1:]):
                c12[(a, b)] += 1
                c1[a] += 1
        n = sum(c12.values())
        h = sum(
            c * np.log(c1[a] / c) for (a, _b), c in c12.items()
        ) / (n * np.log(2.0))
        r = rows[source]
        assert r["n_bigrams"] == n
        assert r["distinct_bigrams"] == len(c12)
        assert r["cond_entropy_bits"] == pytest.approx(h, abs=1e-4)


def test_unigram_sampling_matches_textbook(spark):
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pandas()
    import collections
    import re as _re

    cnt: collections.Counter = collections.Counter()
    for text in docs.text:
        if text is None:
            continue
        for tok in _re.split(r"\s+", text.strip().lower()):
            if tok:
                cnt[tok] += 1
    wsum = sum(c**0.75 for c in cnt.values())
    csum = sum(cnt.values())
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = entrymod.queries()["unigram_sampling_075"](spark, SF_SMOKE).collect()
    assert [(r["tok"], r["c"]) for r in rows] == top
    for r, (tok, c) in zip(rows, top):
        assert r["p_raw"] == pytest.approx(c / csum, abs=1e-5)
        assert r["p_smoothed"] == pytest.approx(c**0.75 / wsum, abs=1e-5)


def test_isotropy_probe_matches_bruteforce(spark):
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    u = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n = len(u)
    gram = u @ u.T
    brute = (gram.sum() - np.trace(gram)) / (n * (n - 1))
    row = entrymod.queries()["embedding_isotropy_probe"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_vectors"] == n
    assert row["n_dims"] == mat.shape[1]
    assert row["avg_pairwise_cosine"] == pytest.approx(brute, abs=1e-5)
    assert row["mean_vector_norm"] == pytest.approx(
        np.linalg.norm(u.mean(axis=0)), abs=1e-5
    )


def test_pacf_matches_textbook(spark):
    ev = _events()
    daily = (
        ev[ev.event_type == "purchase"]
        .groupby(ev.ts.dt.normalize())
        .value.sum()
        .sort_index()
    )
    cents = np.floor(np.round(daily.to_numpy(), 2) * 100 + 0.5)
    rho = []
    for k in range(1, 5):
        a, b = cents[k:], cents[:-k]
        rho.append(np.corrcoef(a, b)[0, 1])
    r1, r2, r3, r4 = rho
    p1 = r1
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    a21 = r1 - p2 * r1
    p3 = (r3 - (a21 * r2 + p2 * r1)) / (1 - (a21 * r1 + p2 * r2))
    a31, a32 = a21 - p3 * p2, p2 - p3 * a21
    p4 = (r4 - (a31 * r3 + a32 * r2 + p3 * r1)) / (
        1 - (a31 * r1 + a32 * r2 + p3 * r3)
    )
    rows = {
        r["lag"]: r
        for r in entrymod.queries()["pacf_daily_revenue"](
            spark, SF_SMOKE
        ).collect()
    }
    for lag, (ac, pc) in enumerate(
        zip(rho, [p1, p2, p3, p4]), start=1
    ):
        assert rows[lag]["acf"] == pytest.approx(ac, abs=1e-4)
        assert rows[lag]["pacf"] == pytest.approx(pc, abs=1e-4)


def test_cramers_v_matches_textbook(spark):
    ev = _events()
    rows = {
        r["pair"]: r
        for r in entrymod.queries()["cramers_v_pairs"](
            spark, SF_SMOKE
        ).collect()
    }

    def ref(b):
        table = pd.crosstab(ev.event_type, b)
        o = table.to_numpy(dtype=np.float64)
        e = np.outer(o.sum(axis=1), o.sum(axis=0)) / o.sum()
        chi2 = ((o - e) ** 2 / e).sum()
        v = np.sqrt(chi2 / (o.sum() * (min(o.shape) - 1)))
        return chi2, v, o.size

    chi2, v, cells = ref(ev.ts.dt.dayofweek + 1)
    r = rows["type_x_weekday"]
    assert r["n_cells"] == cells
    assert r["chi2"] == pytest.approx(chi2, abs=1e-3)
    assert r["cramers_v"] == pytest.approx(v, abs=1e-5)
    band = np.minimum(3, np.floor(ev.value.fillna(0.0) / 25.0)).astype(int)
    chi2, v, cells = ref(band)
    r = rows["type_x_value_band"]
    assert r["n_cells"] == cells
    assert r["chi2"] == pytest.approx(chi2, abs=1e-3)
    assert r["cramers_v"] == pytest.approx(v, abs=1e-5)


def test_kendall_w_matches_textbook(spark):
    ev = _events()
    counts = (
        ev.groupby([ev.ts.dt.dayofweek + 1, "event_type"])
        .size()
        .rename("cnt")
        .reset_index()
        .rename(columns={"ts": "isodow"})
    )
    counts["rnk"] = counts.sort_values(
        ["cnt", "event_type"], ascending=[False, True]
    ).groupby("isodow").cumcount()
    # textbook rank per judge: order by count desc, name asc
    ranks = {}
    for dow, grp in counts.groupby("isodow"):
        ordered = grp.sort_values(
            ["cnt", "event_type"], ascending=[False, True]
        ).event_type.tolist()
        for i, t in enumerate(ordered, start=1):
            ranks.setdefault(t, []).append(i)
    rank_sums = {t: sum(v) for t, v in ranks.items()}
    n, m = len(rank_sums), 7
    mean_r = sum(rank_sums.values()) / n
    s = sum((v - mean_r) ** 2 for v in rank_sums.values())
    w = 12.0 * s / (m * m * (n**3 - n))
    rows = entrymod.queries()["kendall_w_concordance"](
        spark, SF_SMOKE
    ).collect()
    assert {r["event_type"]: r["rank_sum"] for r in rows} == rank_sums
    assert rows[0]["kendall_w"] == pytest.approx(w, abs=1e-5)
    assert rows[0]["chi2_approx"] == pytest.approx(
        m * (n - 1) * w, abs=1e-3
    )


def test_qte_matches_textbook(spark):
    o = _orders()
    o = o.copy()
    o["cents"] = _cents(o.o_totalprice)
    o["v"] = (o.o_custkey % 2).astype(int)
    rows = {
        r["decile"]: r
        for r in entrymod.queries()["quantile_treatment_effect"](
            spark, SF_SMOKE
        ).collect()
    }
    for v in (0, 1):
        sub = o[o.v == v].sort_values(
            ["cents", "o_orderkey"], ascending=[True, True]
        ).reset_index(drop=True)
        n = len(sub)
        base, extra = divmod(n, 10)
        start = 0
        for q in range(1, 11):
            sz = base + (1 if q <= extra else 0)
            sel = sub.iloc[start : start + sz]
            start += sz
            r = rows[q]
            key_n = "n_control" if v == 0 else "n_treated"
            key_m = "mean_control" if v == 0 else "mean_treated"
            assert r[key_n] == sz
            assert r[key_m] == pytest.approx(
                sel.cents.mean() / 100.0, abs=0.01
            )
    for q, r in rows.items():
        assert r["qte"] == pytest.approx(
            r["mean_treated"] - r["mean_control"], abs=0.011
        )


def test_lift_table_matches_textbook(spark):
    ev = _events()
    obs = ev[ev.ts.dt.day <= 15]
    out = ev[ev.ts.dt.day > 15]
    score = (
        obs.assign(isview=(obs.event_type == "view").astype(int))
        .groupby("user_id")
        .isview.sum()
    )
    buyers = set(out.loc[out.event_type == "purchase", "user_id"])
    users = pd.DataFrame(
        {"score": score, "pos": [int(u in buyers) for u in score.index]}
    ).reset_index()
    users = users.sort_values(
        ["score", "user_id"], ascending=[False, True]
    ).reset_index(drop=True)
    n = len(users)
    base, extra = divmod(n, 10)
    tp = users.pos.sum()
    rows = {
        r["decile"]: r
        for r in entrymod.queries()["lift_table_purchase_propensity"](
            spark, SF_SMOKE
        ).collect()
    }
    start, cum = 0, 0
    for q in range(1, 11):
        sz = base + (1 if q <= extra else 0)
        sel = users.iloc[start : start + sz]
        start += sz
        cum += sel.pos.sum()
        r = rows[q]
        assert r["n_users"] == sz
        assert r["n_pos"] == sel.pos.sum()
        assert r["conversion"] == pytest.approx(sel.pos.mean(), abs=1e-5)
        assert r["lift"] == pytest.approx(
            sel.pos.mean() / (tp / n), abs=1e-4
        )
        assert r["cum_capture"] == pytest.approx(cum / tp, abs=1e-5)


def test_mmd_matches_bruteforce(spark):
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    labels = emb.label.to_numpy()
    rows = {
        r["label"]: r
        for r in entrymod.queries()["mmd_drift_embeddings"](
            spark, SF_SMOKE
        ).collect()
    }
    for lab in np.unique(labels):
        a = mat[labels == lab]
        b = mat[labels != lab]
        ref = float(((a.mean(axis=0) - b.mean(axis=0)) ** 2).sum())
        r = rows[int(lab)]
        assert r["n_vectors"] == len(a)
        assert r["mmd2_linear"] == pytest.approx(ref, abs=1e-5)


def test_hill_matches_textbook(spark):
    o = _orders()
    cents = np.sort(_cents(o.o_totalprice))[::-1]
    top, thr = cents[:100].astype(np.float64), float(cents[100])
    gamma = float(np.log(top / thr).mean())
    row = entrymod.queries()["hill_tail_index"](spark, SF_SMOKE).collect()[0]
    assert row["k_top"] == 100
    assert row["threshold_value"] == pytest.approx(thr / 100.0, abs=0.01)
    assert row["hill_gamma"] == pytest.approx(gamma, abs=1e-5)
    assert row["tail_alpha"] == pytest.approx(1.0 / gamma, abs=1e-3)


def test_capture_recapture_matches_textbook(spark):
    ev = _events()
    u1 = set(ev.loc[ev.ts.dt.day <= 15, "user_id"])
    u2 = set(ev.loc[ev.ts.dt.day > 15, "user_id"])
    n1, n2, m = len(u1), len(u2), len(u1 & u2)
    row = entrymod.queries()["capture_recapture_users"](
        spark, SF_SMOKE
    ).collect()[0]
    assert (row["n1_first_half"], row["n2_second_half"]) == (n1, n2)
    assert row["m_recaptured"] == m
    assert row["n_observed"] == ev.user_id.nunique()
    assert row["lincoln_petersen_n"] == pytest.approx(n1 * n2 / m, abs=0.01)
    assert row["chapman_n"] == pytest.approx(
        (n1 + 1) * (n2 + 1) / (m + 1) - 1, abs=0.01
    )


def test_shapley_attribution_efficiency_and_values(spark):
    """Shapley axioms on the coalition lattice: the four values must
    sum to v(grand coalition) − v(empty), and each must match a direct
    lattice computation."""
    ev = _events()
    flags = (
        ev.assign(
            v=(ev.event_type == "view"),
            c=(ev.event_type == "click"),
            s=(ev.event_type == "signup"),
            e=(ev.event_type == "error"),
            p=(ev.event_type == "purchase"),
        )
        .groupby("user_id")[["v", "c", "s", "e", "p"]]
        .max()
        .astype(int)
    )
    mask = flags.v + flags.c * 2 + flags.s * 4 + flags.e * 8
    rate = {}
    for mk in range(16):
        sel = flags[mask == mk]
        rate[mk] = sel.p.mean() if len(sel) else 0.0
    import math

    k = 4
    ref = {}
    for bit, name in ((1, "view"), (2, "click"), (4, "signup"), (8, "error")):
        phi = 0.0
        for mk in range(16):
            if mk & bit:
                continue
            sz = bin(mk).count("1")
            w = (
                math.factorial(sz)
                * math.factorial(k - sz - 1)
                / math.factorial(k)
            )
            phi += w * (rate[mk + bit] - rate[mk])
        ref[name] = phi
    rows = {
        r["channel"]: r
        for r in entrymod.queries()["shapley_channel_attribution"](
            spark, SF_SMOKE
        ).collect()
    }
    for name, phi in ref.items():
        assert rows[name]["shapley_value"] == pytest.approx(phi, abs=1e-5)
    total = sum(r["shapley_value"] for r in rows.values())
    assert total == pytest.approx(rate[15] - rate[0], abs=1e-4)


def test_lorenz_matches_textbook(spark):
    o = _orders()
    per = (
        o.assign(cents=_cents(o.o_totalprice))
        .groupby("o_custkey")
        .cents.sum()
        .reset_index()
        .sort_values(["cents", "o_custkey"], ascending=[True, True])
        .reset_index(drop=True)
    )
    n = len(per)
    base, extra = divmod(n, 10)
    total = per.cents.sum()
    rows = {
        r["decile"]: r
        for r in entrymod.queries()["lorenz_curve_deciles"](
            spark, SF_SMOKE
        ).collect()
    }
    start, cum = 0, 0
    for q in range(1, 11):
        sz = base + (1 if q <= extra else 0)
        s = per.cents.iloc[start : start + sz].sum()
        start += sz
        cum += s
        r = rows[q]
        assert r["n_customers"] == sz
        assert r["revenue_share"] == pytest.approx(s / total, abs=1e-5)
        assert r["cum_revenue_share"] == pytest.approx(cum / total, abs=1e-5)
    # Lorenz curve must be convex-ish: shares non-decreasing
    shares = [rows[q]["revenue_share"] for q in range(1, 11)]
    assert shares == sorted(shares)


def test_granger_matches_textbook(spark):
    ev = _events()
    daily = (
        ev.assign(
            x=(ev.event_type == "view").astype(int),
            y=(ev.event_type == "purchase").astype(int),
        )
        .groupby(ev.ts.dt.normalize())[["x", "y"]]
        .sum()
        .sort_index()
    )
    y = daily.y.to_numpy(dtype=np.float64)[1:]
    y1 = daily.y.to_numpy(dtype=np.float64)[:-1]
    x1 = daily.x.to_numpy(dtype=np.float64)[:-1]
    n = len(y)
    xu = np.column_stack([np.ones(n), y1, x1])
    bu, rss_u = np.linalg.lstsq(xu, y, rcond=None)[0], None
    rss_u = float(((y - xu @ bu) ** 2).sum())
    xr = np.column_stack([np.ones(n), y1])
    br = np.linalg.lstsq(xr, y, rcond=None)[0]
    rss_r = float(((y - xr @ br) ** 2).sum())
    f_ref = (rss_r - rss_u) / (rss_u / (n - 3))
    row = entrymod.queries()["granger_views_purchases"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_days"] == n
    assert row["coef_lag_purchases"] == pytest.approx(bu[1], abs=1e-4)
    assert row["coef_lag_views"] == pytest.approx(bu[2], abs=1e-4)
    assert row["granger_f"] == pytest.approx(f_ref, abs=1e-3)


def test_weibull_fit_matches_textbook(spark):
    km = {
        r["t"]: r["survival"]
        for r in entrymod.queries()["purchase_survival_km"](
            spark, SF_SMOKE
        ).collect()
    }
    pts = [
        (np.log(t), np.log(-np.log(s)))
        for t, s in km.items()
        if 0.0 < s < 1.0 and t > 0
    ]
    x = np.array([p[0] for p in pts])
    yv = np.array([p[1] for p in pts])
    k, b = np.polyfit(x, yv, 1)
    row = entrymod.queries()["weibull_survival_fit"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_points"] == len(pts)
    assert row["weibull_shape"] == pytest.approx(k, abs=1e-3)
    assert row["weibull_scale_days"] == pytest.approx(
        np.exp(-b / k), abs=0.05
    )


def test_interpurchase_gamma_matches_textbook(spark):
    ev = _events()
    p = ev[ev.event_type == "purchase"].sort_values(["ts", "event_id"])
    gaps = []
    for _, grp in p.groupby("user_id"):
        t = grp.ts.astype("datetime64[us]").astype("int64").to_numpy()
        d = np.diff(t)
        gaps.extend(np.floor(d / 1_000_000.0).astype(np.int64))
    gaps = np.array(gaps, dtype=np.float64)
    mu, var = gaps.mean(), gaps.var(ddof=1)
    row = entrymod.queries()["interpurchase_gamma_fit"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_gaps"] == len(gaps)
    assert row["mean_gap_s"] == pytest.approx(mu, abs=0.01)
    assert row["gamma_shape"] == pytest.approx(mu * mu / var, abs=1e-3)
    assert row["gamma_scale_s"] == pytest.approx(var / mu, abs=0.01)


def test_mase_matches_textbook(spark):
    ev = _events()
    daily = (
        ev[ev.event_type == "purchase"]
        .groupby(ev.ts.dt.normalize())
        .value.sum()
        .sort_index()
    )
    cents = pd.Series(
        np.floor(np.round(daily.to_numpy(), 2) * 100 + 0.5),
        index=daily.index,
    )
    e7 = e1 = n = 0
    for day, v in cents.items():
        d7, d1 = day - pd.Timedelta(days=7), day - pd.Timedelta(days=1)
        if d7 in cents.index and d1 in cents.index:
            n += 1
            e7 += abs(v - cents[d7])
            e1 += abs(v - cents[d1])
    row = entrymod.queries()["forecast_skill_mase"](spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert row["mase"] == pytest.approx(e7 / e1, abs=1e-3)


def test_lsh_band_planner_scurve_properties(spark):
    rows = {
        r["config"]: r
        for r in entrymod.queries()["lsh_band_planner"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(rows) == {"b32_r4", "b16_r8", "b8_r16"}
    # more bands with shorter rows -> laxer curve: recall and leakage
    # both weakly higher than the strictest (few wide bands) config
    for col in ("recall_near_dups", "leakage_non_dups"):
        vals = [rows[c][col] for c in ("b32_r4", "b16_r8", "b8_r16")]
        assert vals[0] >= vals[1] >= vals[2] or any(
            v is None for v in vals
        )
    # catch probability is a probability
    for r in rows.values():
        assert 0 <= r["expected_candidates"] <= r["n_pairs"] + 0.01


def test_hhi_yearly_matches_textbook(spark):
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet").to_pandas()
    part = pq.read_table(f"{SF_SMOKE}/part.parquet").to_pandas()
    m = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    m["cents"] = np.floor(
        m.l_extendedprice * (1 - m.l_discount) * 100 + 0.5
    ).astype(np.int64)
    m["yr"] = m.l_shipdate.dt.year
    rows = {
        r["yr"]: r
        for r in entrymod.queries()["hhi_yearly_trend"](
            spark, SF_SMOKE
        ).collect()
    }
    for yr, grp in m.groupby("yr"):
        by_brand = grp.groupby("p_brand").cents.sum()
        sh = by_brand / by_brand.sum()
        r = rows[int(yr)]
        assert r["n_brands"] == len(by_brand)
        assert r["hhi"] == pytest.approx(float((sh**2).sum()), abs=1e-5)


def test_ndcg_matches_textbook(spark):
    o = _orders()
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet").to_pandas()
    o = o.sort_values(
        ["o_custkey", "o_orderdate", "o_orderkey"],
        ascending=[True, False, False],
    )
    o["r"] = o.groupby("o_custkey").cumcount() + 1
    o["n"] = o.groupby("o_custkey").o_orderkey.transform("size")
    elig = o[o.n >= 2]
    hold = elig[elig.r == 1][["o_custkey", "o_orderkey"]]
    train_keys = set(elig.loc[elig.r > 1, "o_orderkey"])
    pairs = li[["l_orderkey", "l_partkey"]].drop_duplicates()
    pop = (
        pairs[pairs.l_orderkey.isin(train_keys)]
        .groupby("l_partkey")
        .size()
        .reset_index(name="c")
        .sort_values(["c", "l_partkey"], ascending=[False, True])
        .head(20)
        .reset_index(drop=True)
    )
    rank = {k: i + 1 for i, k in enumerate(pop.l_partkey)}
    test = hold.merge(
        pairs, left_on="o_orderkey", right_on="l_orderkey"
    )
    ndcgs = []
    for cust, grp in test.groupby("o_custkey"):
        items = sorted(grp.l_partkey)
        dcg = sum(
            1.0 / np.log2(rank[k] + 1) for k in items if k in rank
        )
        idcg = sum(
            1.0 / np.log2(i + 1)
            for i in range(1, min(len(items), 20) + 1)
        )
        ndcgs.append(dcg / idcg)
    row = entrymod.queries()["recsys_ndcg_popularity"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_customers"] == len(ndcgs)
    assert row["mean_ndcg_20"] == pytest.approx(np.mean(ndcgs), abs=1e-5)
    assert row["n_with_hits"] == sum(1 for v in ndcgs if v > 0)


def test_markov_accuracy_matches_textbook(spark):
    ev = _events().sort_values(["user_id", "ts", "event_id"])
    import collections

    def transitions(sub):
        out = []
        for _, grp in sub.groupby("user_id"):
            t = grp.event_type.tolist()
            out.extend(zip(t, t[1:]))
        return out

    tr = transitions(ev[ev.ts.dt.day <= 15])
    te = transitions(ev[ev.ts.dt.day > 15])
    counts = collections.Counter(tr)
    model = {}
    for (p, nx), c in sorted(
        counts.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])
    ):
        model.setdefault(p, nx)
    rows = {
        r["prev_event"]: r
        for r in entrymod.queries()["markov_next_event_accuracy"](
            spark, SF_SMOKE
        ).collect()
    }
    per_prev = collections.defaultdict(lambda: [0, 0])
    for p, nx in te:
        per_prev[p][0] += 1
        per_prev[p][1] += int(model.get(p) == nx)
    assert set(rows) == set(per_prev)
    for p, (n, c) in per_prev.items():
        r = rows[p]
        assert r["predicted_next"] == model[p]
        assert r["n_transitions"] == n and r["n_correct"] == c
        assert r["top1_accuracy"] == pytest.approx(c / n, abs=1e-5)


def test_rmst_matches_textbook(spark):
    km = sorted(
        (r["t"], r["survival"])
        for r in entrymod.queries()["purchase_survival_km"](
            spark, SF_SMOKE
        ).collect()
    )
    rmst = sum(
        s * (km[i + 1][0] - t) for i, (t, s) in enumerate(km[:-1])
    )
    med = next((t for t, s in km if s <= 0.5), None)
    row = entrymod.queries()["survival_rmst"](spark, SF_SMOKE).collect()[0]
    assert row["horizon_days"] == km[-1][0]
    assert row["rmst_days"] == pytest.approx(rmst, abs=1e-3)
    if med is not None:
        assert row["median_survival_days"] == med


def test_information_gain_matches_textbook(spark):
    ev = _events()
    flags = (
        ev.assign(
            fv=(ev.event_type == "view"),
            fc=(ev.event_type == "click"),
            fs=(ev.event_type == "signup"),
            y=(ev.event_type == "purchase"),
        )
        .groupby("user_id")[["fv", "fc", "fs", "y"]]
        .max()
        .astype(int)
    )

    def h(p):
        if p <= 0 or p >= 1:
            return 0.0
        return float(-p * np.log2(p) - (1 - p) * np.log2(1 - p))

    hy = h(flags.y.mean())
    rows = {
        r["feature"]: r
        for r in entrymod.queries()["stump_information_gain"](
            spark, SF_SMOKE
        ).collect()
    }
    for col, name in (("fv", "has_view"), ("fc", "has_click"),
                      ("fs", "has_signup")):
        cond = sum(
            len(g) / len(flags) * h(g.y.mean())
            for _, g in flags.groupby(col)
        )
        r = rows[name]
        assert r["label_entropy_bits"] == pytest.approx(hy, abs=1e-5)
        assert r["information_gain_bits"] == pytest.approx(
            hy - cond, abs=1e-5
        )


def test_odds_ratio_matches_textbook(spark):
    o = _orders()
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet").to_pandas()
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    hp = m.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
    ret = m.l_returnflag == "R"
    a = int((hp & ret).sum())
    b = int((hp & ~ret).sum())
    c = int((~hp & ret).sum())
    d = int((~hp & ~ret).sum())
    orr = a * d / (b * c)
    se = np.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    row = entrymod.queries()["priority_return_odds_ratio"](
        spark, SF_SMOKE
    ).collect()[0]
    assert (row["a_hp_ret"], row["b_hp"], row["c_ret"], row["d_none"]) == (
        a, b, c, d,
    )
    assert row["odds_ratio"] == pytest.approx(orr, abs=1e-3)
    assert row["ci_low"] == pytest.approx(
        np.exp(np.log(orr) - 1.96 * se), abs=1e-3
    )
    assert row["ci_high"] == pytest.approx(
        np.exp(np.log(orr) + 1.96 * se), abs=1e-3
    )


def test_uniqueness_ladder_matches_textbook(spark):
    cust = pq.read_table(f"{SF_SMOKE}/customer.parquet").to_pandas()
    cust["bal"] = np.floor(cust.c_acctbal / 1000).astype(np.int64)
    rows = {
        r["quasi_id"]: r
        for r in entrymod.queries()["quasi_id_uniqueness_ladder"](
            spark, SF_SMOKE
        ).collect()
    }
    ladders = {
        "nation": ["c_nationkey"],
        "nation+bal_bucket": ["c_nationkey", "bal"],
        "nation+bal_bucket+segment": ["c_nationkey", "bal", "c_mktsegment"],
    }
    for name, keys in ladders.items():
        sz = cust.groupby(keys).size()
        r = rows[name]
        assert r["n_classes"] == len(sz)
        assert r["n_unique"] == int((sz == 1).sum())
        assert r["min_class_size"] == int(sz.min())
        assert r["unique_share"] == pytest.approx(
            (sz == 1).sum() / len(cust), abs=1e-5
        )
    # finer quasi-identifiers can only increase uniqueness
    u = [rows[n]["unique_share"] for n in ladders]
    assert u[0] <= u[1] <= u[2]


def test_kfold_balance_matches_textbook(spark):
    o = _orders()
    o = o.assign(cents=_cents(o.o_totalprice), fold=(o.o_custkey % 5))
    rows = {
        r["fold"]: r
        for r in entrymod.queries()["kfold_balance_check"](
            spark, SF_SMOKE
        ).collect()
    }
    means = []
    for f, grp in o.groupby("fold"):
        m = grp.cents.sum() / len(grp) / 100.0
        means.append(m)
        r = rows[int(f)]
        assert r["n_orders"] == len(grp)
        assert r["mean_order_value"] == pytest.approx(m, abs=0.01)
    cv = np.std(means, ddof=1) / np.mean(means)
    assert rows[0]["fold_mean_cv"] == pytest.approx(cv, abs=1e-5)


def test_bloom_planner_matches_textbook(spark):
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pandas()
    import re as _re

    shingles = set()
    for text in docs.text:
        if text is None:
            continue
        t = _re.split(r"\s+", text.strip().lower())
        if len(t) < 3:
            continue
        for i in range(len(t) - 2):
            shingles.add(" ".join(t[i : i + 3]))
    n = len(shingles)
    rows = {
        r["bits_per_key"]: r
        for r in entrymod.queries()["bloom_fpp_planner"](
            spark, SF_SMOKE
        ).collect()
    }
    for bits, k in ((8, 5), (12, 8), (16, 11)):
        r = rows[bits]
        assert r["n_distinct"] == n
        assert r["k_hashes"] == k
        fpp = (1 - np.exp(-k / bits)) ** k
        assert r["expected_fpp"] == pytest.approx(fpp, abs=1e-7)
        assert r["filter_mb"] == pytest.approx(
            n * bits / 8 / 1048576, abs=1e-3
        )


def test_topk_stability_matches_textbook(spark):
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet").to_pandas()
    li = li.assign(
        cents=np.floor(
            li.l_extendedprice * (1 - li.l_discount) * 100 + 0.5
        ).astype(np.int64),
        yr=li.l_shipdate.dt.year,
    )

    def topk(sub):
        agg = (
            sub.groupby("l_partkey").cents.sum().reset_index()
            .sort_values(["cents", "l_partkey"], ascending=[False, True])
            .head(20)
        )
        return set(agg.l_partkey)

    a, b = topk(li[li.yr <= 1997]), topk(li[li.yr >= 1998])
    common = len(a & b)
    row = entrymod.queries()["topk_stability_halves"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n_common"] == common
    assert row["topk_jaccard"] == pytest.approx(
        common / (40 - common), abs=1e-5
    )
