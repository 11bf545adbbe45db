"""Temporal operators Spark lacks natively: as-of join, sessionization.

Both are implemented as compositions of built-in DataFrame ops (no
Pandas UDF fallback needed), per the preference order in the engine
design: built-ins > applyInPandas > mapPartitions.

**As-of join** (point-in-time lookup; the time-series workhorse):
implemented with the union + last-ignorenulls window trick —

1. tag left rows src=1, right rows src=0; project right's payload into
   one struct column; union by name
2. one window per key ordered by (ts, src): ``last(payload, ignorenulls)
   over rows unbounded-preceding..current`` gives every left row the most
   recent right payload at-or-before its timestamp
3. keep left rows, unpack the struct

Cost: ONE hash shuffle on the join keys + a per-key sort — same
asymptotics as a sort-merge join, no range explosion, no per-key
driver loop — the 100 TB form.

**Sessionization**: lag-gap + running sum — two windows over one
partitioning, single shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
) -> DataFrame:
    """For each left row: columns of the latest right row with equal keys
    and ``rts <= lts`` (pandas ``merge_asof`` backward parity, inclusive).

    Unmatched left rows keep NULLs. Single sort-window pass — never a
    range join."""
    on = list(on)
    right_cols = [c for c in (right_cols or right.columns) if c not in on and c != right_ts]
    clashes = set(right_cols) & set(left.columns)
    if clashes:
        raise ValueError(
            f"right columns {sorted(clashes)} collide with left columns — "
            "rename or restrict right_cols"
        )

    l_tagged = left.withColumn("__src", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    r_tagged = (
        right.select(
            *on,
            F.col(right_ts).alias("__ts"),
            F.struct(
                F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
            ).alias("__rpay"),
        )
        .withColumn("__src", F.lit(0))
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # src=0 sorts before src=1 at equal ts -> inclusive at-or-before
    w_back = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn(
        "__match", F.last("__rpay", ignorenulls=True).over(w_back)
    ).filter(F.col("__src") == 1)
    return out.select(
        *left.columns,
        *[F.col(f"__match.{c}").alias(c) for c in right_cols],
    )


def preceding_window_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    window: str = "1 hour",
) -> DataFrame:
    """Interval/range join: pair each left row with every right row that
    shares the equi-keys and falls in the preceding time window
    ``[left.ts - window, left.ts)``.

    Spark plans this as an equi-join on ``on`` with the range predicate
    evaluated inside the join — one shuffle per side, co-partitioned on
    the keys. The pair blow-up is bounded by per-key event density ×
    window length; at 100 TB the equi-key (user) keeps partitions
    balanced and AQE splits skewed keys. Without an equi-key a range
    join degenerates to a broadcast-nested-loop — callers must supply
    ``on`` (or use :func:`binned_range_join`, which manufactures the
    equi-key from the time axis itself).
    """
    if not on:
        raise ValueError(
            "preceding_window_join requires at least one equi-key "
            "(for keyless interval joins use binned_range_join)"
        )
    iv = F.expr(f"INTERVAL {window}")
    l_ts, r_ts = F.col(f"__l.{left_ts}"), F.col(f"__r.{right_ts}")
    cond = (r_ts >= l_ts - iv) & (r_ts < l_ts)
    for k in on:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    return left.alias("__l").join(right.alias("__r"), cond, "inner")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    on: Sequence[str] = (),
) -> DataFrame:
    """Keyless-capable interval join via time binning: pair each left
    row with right rows where ``right_ts`` lies in the preceding
    ``[left_ts - window, left_ts)``. Optional ``on`` equi-keys compose
    with the bin key.

    The scale trick Spark lacks natively: bin both sides by
    ``floor(ts / window)``; a window of length W can only span TWO
    consecutive bins, so the left side explodes into exactly 2
    (bin, row) probes and the join becomes a plain equi-join on the bin
    — hash-shuffled, AQE-balanced — followed by the exact interval
    filter. No broadcast-nested-loop, no cross product: cost is
    Σ per-bin density² (keyless) instead of |L|x|R|.

    All time arithmetic is integer micros (``unix_micros``), divided
    once — engine-portable per the repo's timestamp convention.
    """
    w_us = int(window_seconds) * 1_000_000
    l_us = F.unix_micros(F.col(f"__l.{left_ts}"))
    r_us = F.unix_micros(F.col(f"__r.{right_ts}"))

    # integer `div` (not float /): bin boundaries must be exact
    l_bin = F.expr(f"unix_micros({left_ts}) div {w_us}")
    lb = left.withColumn("__bin", F.explode(F.array(l_bin, l_bin - 1)))
    rb = right.withColumn("__bin", F.expr(f"unix_micros({right_ts}) div {w_us}"))
    cond = (F.col("__l.__bin") == F.col("__r.__bin")) & (r_us < l_us) & (
        r_us >= l_us - F.lit(w_us)
    )
    for k in on:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    return lb.alias("__l").join(rb.alias("__r"), cond, "inner").drop("__bin")


def interpolate_linear(
    df: DataFrame,
    x_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    out_col: str | None = None,
    decimals: int = 4,
) -> DataFrame:
    """Linear interpolation of null ``value_col`` between the nearest
    non-null neighbors along numeric ``x_col`` (per group): the panel-
    data imputation primitive one step up from LOCF.

    Edge policy: leading nulls backfill from the first observation,
    trailing nulls carry the last observation forward (both documented
    sentinel cases of the same window machinery). ``x_col`` must be
    numeric — convert dates with ``datediff`` and timestamps with
    ``unix_micros`` first (integer axes keep the fraction math
    engine-portable). Four windows over ONE (group, x) sort — a single
    shuffle on the group key.
    """
    out = out_col or f"{value_col}_interp"
    gp = [F.col(c) for c in group_cols]
    w_prev = (
        Window.partitionBy(*gp).orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*gp).orderBy(x_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_x = F.when(v.isNotNull(), F.col(x_col))
    pv = F.last(v, ignorenulls=True).over(w_prev)
    px = F.last(obs_x, ignorenulls=True).over(w_prev)
    nv = F.first(v, ignorenulls=True).over(w_next)
    nx = F.first(obs_x, ignorenulls=True).over(w_next)
    frac = (F.col(x_col) - px) / (nx - px)
    scale = float(10**decimals)
    # floor(x*10^d + 0.5): interpolation at binary-exact fractions (1/2,
    # 1/8, ...) of fixed-decimal inputs lands exactly on round-half ties,
    # where engine-native round() disagrees — the repo's half-up rule
    interp = F.floor((pv + (nv - pv) * frac) * scale + F.lit(0.5)) / scale
    filled = (
        F.when(v.isNotNull(), v)
        .when(pv.isNotNull() & nv.isNotNull(), interp)
        .when(pv.isNotNull(), pv)  # trailing: carry forward
        .otherwise(nv)  # leading: backfill
    )
    return df.withColumn(out, filled)


#: inactivity gap that closes a session (the web-analytics convention)
SESSION_GAP = "30 minutes"


def sessionize(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    entity's previous event exceeds ``SESSION_GAP``.

    lag + conditional flag + running sum over one (entity, ts) window —
    single shuffle on the entity key. Output adds ``session_id``
    (1-based per entity) and ``session_start`` flag. Pass ``tiebreakers``
    (e.g. the event id) when timestamps can repeat within an entity, so
    the window order — and therefore the session assignment — is
    deterministic.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, *tiebreakers)
    prev_ts = F.lag(ts_col).over(w)
    is_new = (
        prev_ts.isNull() | (F.col(ts_col) > prev_ts + F.expr(f"INTERVAL {SESSION_GAP}"))
    ).cast("long")
    return events.withColumn("session_start", is_new).withColumn(
        "session_id",
        F.sum("session_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_window_stats(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-session aggregates via Spark's native ``session_window``
    (merging-window aggregation; also valid on streaming frames, unlike
    the lag-based :func:`sessionize`). Same session boundaries as the
    lag formulation for gap-exclusive semantics — asserted equal in
    tests/test_temporal.py."""
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sw"), entity_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start_ts"),
            F.max(ts_col).alias("session_end_ts"),
        )
        .select(
            entity_col,
            "session_start_ts",
            "session_end_ts",
            "n_events",
            (
                F.unix_timestamp("session_end_ts")
                - F.unix_timestamp("session_start_ts")
            ).alias("duration_seconds"),
        )
    )


def session_stats(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Per-session aggregates: bounds, event count, duration seconds."""
    s = sessionize(events, entity_col, ts_col, tiebreakers)
    return s.groupBy(entity_col, "session_id").agg(
        F.min(ts_col).alias("session_start_ts"),
        F.max(ts_col).alias("session_end_ts"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).alias("duration_seconds"),
    )


def holt_linear(values, alpha: float = 0.3, beta: float = 0.1):
    """Holt's linear (double exponential) smoothing over an ordered
    series: returns ``(levels, trends, fitted)`` lists with the
    standard recursion l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}; fitted_t is the one-step-ahead
    prediction l_{t−1}+b_{t−1}.

    The recursion is inherently sequential, so it runs driver-side over
    an already-aggregated series (the distributed work is the daily
    aggregate that produced it — same bounded-collect contract as the
    Markov/PCA tier: the series length is the DATE domain, not the row
    count). Initialized with l_0 = y_0, b_0 = y_1 − y_0 (textbook)."""
    if not 0 < alpha <= 1 or not 0 <= beta <= 1:
        raise ValueError(f"need 0<alpha<=1, 0<=beta<=1, got {alpha}, {beta}")
    ys = [float(v) for v in values]
    if len(ys) < 2:
        raise ValueError("Holt smoothing needs at least 2 points")
    level, trend = ys[0], ys[1] - ys[0]
    levels, trends, fitted = [level], [trend], [ys[0]]
    for y in ys[1:]:
        pred = level + trend
        fitted.append(pred)
        new_level = alpha * y + (1 - alpha) * pred
        trend = beta * (new_level - level) + (1 - beta) * trend
        level = new_level
        levels.append(level)
        trends.append(trend)
    return levels, trends, fitted
