"""Gold analytics layer: joins, aggregate KPIs, windows, top-k, rollups.

The reference serves these from Power BI over the star schema (DAX
measures, PDF guide p.33-34; SURVEY.md §2.3-2.6, §3.4). Here each query
shape is a named, generic operator over DataFrames so the same functions
serve the Wistia star schema and any event/fact table.

Scale posture baked in:

- Dimension joins take an explicit ``broadcast`` hint (dims are orders of
  magnitude smaller than facts; J1 note, SURVEY.md §2.3).
- Top-k is ``orderBy().limit()`` — Spark plans TakeOrderedAndProject
  (per-partition heap + driver merge of k rows, never a full sort).
- Ranking/trend windows partition before ordering, so no global sort on
  the fact; the only global window (:func:`trailing_window` over dates)
  operates on an already-aggregated tiny frame.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist

# ---------------------------------------------------------------------------
# Joins (J1-J3)
# ---------------------------------------------------------------------------


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
) -> DataFrame:
    """J1: fact ⋈ dim equi-join, dimension broadcast."""
    return fact.join(F.broadcast(dim), on=on, how=how)


# ---------------------------------------------------------------------------
# Aggregate KPIs (A7 — the DAX measure set, PDF p.33)
# ---------------------------------------------------------------------------


def engagement_kpis(
    fact: DataFrame,
    play_col: str = "play_count",
    pct_col: str = "avg_percent_watched",
    watch_col: str = "total_watch_time_seconds",
    visitor_col: str = "visitor_id",
) -> DataFrame:
    """The reference's whole DAX measure set in one scan:

    Total Plays, Avg Completion, Total Watch Hours, Engagement Rate
    (= plays / distinct visitors) — PDF p.33 Step 11.3.
    """
    return fact.agg(
        F.sum(play_col).alias("total_plays"),
        # DECIMAL(18,6) snap before rounding: avg of 2-decimal inputs can
        # tie at .xx5, where double round() is engine-dependent
        F.round(F.avg(pct_col).cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("avg_completion"),
        F.round(F.sum(watch_col) / 3600.0, 2).alias("total_watch_hours"),
        F.round(
            F.sum(play_col) / F.countDistinct(F.col(visitor_col)).cast("double"), 4
        ).alias("engagement_rate"),
    )


def measure_by(
    df: DataFrame, group_cols: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """Generic grouped-measure builder ("Videos by Channel", "Plays by
    Channel", PDF p.34): groupBy + named aggregate expressions."""
    return df.groupBy(*group_cols).agg(
        *[m.alias(name) for name, m in measures.items()]
    )


def daily_trend(
    df: DataFrame,
    date_col: Column | str,
    measures: Mapping[str, Column],
    date_name: str = "date",
) -> DataFrame:
    """"Daily Plays Trend" (PDF p.34): per-date measures, date-ordered."""
    d = F.col(date_col) if isinstance(date_col, str) else date_col
    return (
        df.groupBy(d.alias(date_name))
        .agg(*[m.alias(name) for name, m in measures.items()])
        .orderBy(date_name)
    )


# ---------------------------------------------------------------------------
# Top-k / sorts (L3)
# ---------------------------------------------------------------------------


def top_k(df: DataFrame, k: int, order: Sequence[Column]) -> DataFrame:
    """L3: deterministic top-k — caller MUST include a unique tiebreaker in
    ``order`` (ties would otherwise make limit() nondeterministic).
    Planned as TakeOrderedAndProject: no global sort."""
    return df.orderBy(*order).limit(k)


# ---------------------------------------------------------------------------
# Windows (W1-W4)
# ---------------------------------------------------------------------------


def rank_in_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order: Sequence[Column],
    keep: int | None = None,
    rank_name: str = "rank",
) -> DataFrame:
    """W2: ranking within groups ("Top 10 Videos by Plays" per channel).
    ``keep=k`` retains the top k rows per group."""
    w = Window.partitionBy(*partition_by).orderBy(*order)
    out = df.withColumn(rank_name, F.rank().over(w))
    return out.filter(F.col(rank_name) <= keep) if keep is not None else out


def trailing_window(
    df: DataFrame,
    order_col: str,
    value_col: str,
    preceding: int = 6,
    out_name: str = "trailing_sum",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """W3: trailing rows-window aggregate (7-day trend line). Without
    ``partition_by`` this is a single-partition window — correct only on
    already-aggregated small frames (e.g. one row per date), which is its
    intended use."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(order_col)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(out_name, F.sum(value_col).over(w))


def new_vs_returning(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    label_name: str = "visitor_status",
) -> DataFrame:
    """W4: first-touch detection — a row is "new" on the entity's first
    date, "returning" after (PDF p.34 "New vs Returning Visitors")."""
    w = Window.partitionBy(entity_col)
    first_date = F.min(date_col).over(w)
    return df.withColumn(
        label_name,
        F.when(F.col(date_col) == first_date, F.lit("new")).otherwise(F.lit("returning")),
    )


# ---------------------------------------------------------------------------
# Rollups (superset of the reference's reporting slices, SURVEY.md §2.4)
# ---------------------------------------------------------------------------


def rollup_report(
    df: DataFrame, group_cols: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """Hierarchical subtotals + grand total via ``rollup``. Partial
    (map-side) aggregation applies at every grouping-set level."""
    return df.rollup(*group_cols).agg(*[m.alias(n) for n, m in measures.items()])


def cube_report(
    df: DataFrame, group_cols: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """All grouping-set combinations via ``cube``."""
    return df.cube(*group_cols).agg(*[m.alias(n) for n, m in measures.items()])


def fill_date_gaps(
    daily: DataFrame,
    date_col: str,
    defaults: Mapping[str, object],
) -> DataFrame:
    """Densify a per-date report: every calendar date between min and max
    appears, absent measures filled with defaults (trend lines must not
    silently skip zero-activity days).

    The calendar spine is ``sequence(min, max)`` exploded from a 1-row
    aggregate — O(days) rows regardless of fact size — left-joined back.
    """
    bounds = daily.agg(
        F.min(date_col).alias("__lo"), F.max(date_col).alias("__hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("__lo", "__hi")).alias(date_col)
    )
    out = spine.join(daily, date_col, "left")
    return out.select(
        date_col,
        *[
            F.coalesce(F.col(c), F.lit(d)).alias(c)
            for c, d in defaults.items()
        ],
    )


def funnel(
    events: DataFrame,
    steps: Sequence[tuple[str, object]],
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel completion counts: how many entities performed step
    1, then step 2 strictly after their first step 1, then step 3
    strictly after that, ...

    ``steps`` is [(name, event_type_value), ...]. Each stage is one
    filtered aggregate joined to the previous stage's first-completion
    times — len(steps) small aggregations, each a single shuffle on the
    entity key, no window over the raw event stream. Returns one row per
    step: (step, step_name, entities).
    """
    spark = events.sparkSession
    prev: DataFrame | None = None
    counts: list[tuple[int, str, int]] = []
    for i, (name, value) in enumerate(steps):
        stage = events.filter(F.col(type_col) == value)
        if prev is not None:
            stage = stage.join(prev, entity_col).filter(
                F.col(ts_col) > F.col("__prev_ts")
            )
        firsts = stage.groupBy(entity_col).agg(F.min(ts_col).alias("__prev_ts"))
        counts.append((i + 1, name, firsts.count()))
        prev = firsts
    return spark.createDataFrame(counts, "step int, step_name string, entities long")


def funnel_single_pass(
    events: DataFrame,
    steps: Sequence[tuple[str, object]],
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Same semantics as :func:`funnel` (ordered-step completion counts)
    in ONE shuffle and ONE action, instead of len(steps) sequential
    join+aggregate rounds.

    Per entity, the time-sorted step events are folded left-to-right
    with ``aggregate`` over an array of per-step first-completion
    timestamps: step i's slot fills on the first event at step i that
    occurs strictly after slot i-1 filled. All JVM-side higher-order
    functions — no Python UDF. Per-entity memory is bounded by that
    entity's step-event count (cap upstream if an entity can be
    pathological).

    This is the 100 TB form: the sequential variant re-shuffles the
    event table per step and runs a driver-side count each round; this
    one shuffles once on the entity key and reduces to len(steps) rows.
    """
    step_vals = [v for _, v in steps]
    k = len(step_vals)
    idx = F.when(F.col(type_col) == F.lit(step_vals[0]), F.lit(0))
    for i, v in enumerate(step_vals[1:], 1):
        idx = idx.when(F.col(type_col) == F.lit(v), F.lit(i))
    ev = events.withColumn("__step", idx).filter(F.col("__step").isNotNull())
    per_entity = ev.groupBy(entity_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts_col).alias("t"), F.col("__step").alias("s"))
            )
        ).alias("__seq")
    )
    init = F.array(*[F.lit(None).cast("timestamp") for _ in range(k)])
    filled = per_entity.select(
        F.aggregate(
            "__seq",
            init,
            lambda acc, x: F.transform(
                acc,
                lambda a, i: F.when(
                    (i == x["s"])
                    & a.isNull()
                    & (
                        (i == F.lit(0))
                        # F.get is 0-based and null-safe (element_at(_, 0)
                        # raises under ANSI mode): slot i-1 must be filled
                        # and strictly earlier
                        | (
                            F.get(acc, (i - 1).cast("int")).isNotNull()
                            & (x["t"] > F.get(acc, (i - 1).cast("int")))
                        )
                    ),
                    x["t"],
                ).otherwise(a),
            ),
        ).alias("__done")
    )
    counts = filled.select(
        F.posexplode("__done").alias("__pos", "__ts")
    ).groupBy("__pos").agg(
        F.sum(F.col("__ts").isNotNull().cast("long")).alias("entities")
    )
    name_map = F.when(F.col("__pos") == 0, F.lit(steps[0][0]))
    for i, (name, _) in enumerate(steps[1:], 1):
        name_map = name_map.when(F.col("__pos") == i, F.lit(name))
    return counts.select(
        (F.col("__pos") + 1).cast("int").alias("step"),
        name_map.alias("step_name"),
        "entities",
    )


def cohort_retention(
    df: DataFrame,
    entity_col: str,
    date_col: str,
) -> DataFrame:
    """Cohort retention matrix: entities grouped by the month of their
    first activity (cohort), counted in each subsequent month-offset.

    Classic product-analytics extension of the reference's
    "New vs Returning Visitors" report (PDF p.34, W4): instead of a
    binary new/returning label, the full (cohort_month, month_offset) →
    distinct-entity matrix.

    Plan shape (round-8 rework of the watch-listed regression): the
    fact collapses ONCE to distinct (entity, activity-month) rows —
    month granularity is all the matrix reads, so this is the smallest
    sufficient frame (~|entities| x |months|) — then a window min over
    the entity key finds each entity's cohort month and a count over
    (cohort, offset) finishes.  No fact-sized join-back and no
    countDistinct (rows are already distinct per entity-month): one
    fact-sized shuffle with map-side partial aggregation, then two
    shuffles of the tiny matrix frame.  Month arithmetic is integer
    ``year*12+month`` on both sides — no fractional months_between, so
    the DuckDB oracle matches exactly.
    """
    month_no = F.year(date_col) * 12 + F.month(date_col)
    em = df.select(
        F.col(entity_col).alias("__e"), month_no.alias("__m")
    ).distinct()
    w = Window.partitionBy("__e")
    with_first = em.select(
        "__m", F.min("__m").over(w).alias("__f")
    )
    # reconstruct "yyyy-MM" from the integer cohort month:
    # year = (m-1) div 12, month = (m-1) % 12 + 1
    yr = ((F.col("__f") - 1) / 12).cast("int")
    mo = ((F.col("__f") - 1) % 12) + 1
    return (
        with_first.groupBy(
            F.concat(
                yr.cast("string"),
                F.lit("-"),
                F.lpad(mo.cast("string"), 2, "0"),
            ).alias("cohort_month"),
            (F.col("__m") - F.col("__f")).cast("int").alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("entities"))
    )


def period_over_period(
    df: DataFrame,
    date_col: str,
    measure: Column,
    period: str = "month",
    measure_name: str = "value",
) -> DataFrame:
    """Period-over-period trend: per-period measure, previous period's
    value (lag), absolute and percent change.

    The windowed step runs on the already-aggregated per-period frame
    (O(periods) rows), so the single-partition lag window is safe at any
    fact size. Percent change snaps through DECIMAL(18,6) before
    round(2) — cross-engine tie convention (CLAUDE.md).
    """
    per = df.groupBy(
        F.date_trunc(period, F.col(date_col)).cast("date").alias("period")
    ).agg(F.round(measure, 2).alias(measure_name))
    w = Window.orderBy("period")
    prev = F.lag(measure_name).over(w)
    return per.select(
        "period",
        measure_name,
        prev.alias(f"prev_{measure_name}"),
        F.round(F.col(measure_name) - prev, 2).alias("abs_change"),
        F.round(
            ((F.col(measure_name) - prev) / prev * 100.0).cast("decimal(18,6)"), 2
        )
        .cast("double")
        .alias("pct_change"),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int,
) -> DataFrame:
    """Fixed-bound equi-width histogram via ``width_bucket`` — one
    map-side expression + one aggregate, no data-dependent pass to
    discover bounds (at 100 TB a min/max pre-scan doubles the IO; callers
    pass known domain bounds instead). Values outside [lo, hi) land in
    buckets 0 / nbuckets+1 per SQL-standard width_bucket."""
    width = (hi - lo) / nbuckets
    bucket = F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(nbuckets))
    return (
        df.groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("bucket_lo", F.round(F.lit(lo) + (F.col("bucket") - 1) * width, 2))
    )


def argmax_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_col: str,
    out_name: str = "argmax",
) -> DataFrame:
    """Row-with-max per group via ``max_by`` over a struct ordering —
    single partial-aggregating shuffle, no row_number window sort.

    ``order_cols`` must end in a unique tiebreaker (struct comparison is
    lexicographic), otherwise ties make the result nondeterministic —
    same rule as the keep-first dedup fix (SURVEY.md §7.3).
    """
    ordering = F.struct(*[F.col(c) for c in order_cols])
    return df.groupBy(*group_cols).agg(
        F.max_by(F.col(payload_col), ordering).alias(out_name),
        *[F.max(F.col(c)).alias(f"max_{c}") for c in order_cols[:1]],
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = None,
    distinct_items: bool = False,
) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair that
    appears in the same basket, the number of shared baskets (duplicate
    items count once per occurrence, matching the self-join semantics).

    ONE scan + one shuffle on the basket key; each basket's sorted item
    array generates its pairs in place with JVM higher-order functions
    before the pair-count aggregate. ~25% faster than a self equi-join
    on the basket key at sf0.1 and half the scan IO. Per-task memory
    holds one basket's full item array; ``max_basket_size`` caps the
    pairs it emits.

    The pair explosion is bounded by sum(c_i²) over basket sizes; AQE
    skew handling splits oversized partitions at runtime.

    ``max_basket_size`` is the mega-basket guard (SCALE.md): baskets
    larger than the cap are deterministically truncated to their
    ``max_basket_size`` smallest items (by item sort order), bounding
    any single basket's pair contribution at C(cap, 2).
    """
    items = F.array_sort(F.collect_list(F.col(item_col)))
    if max_basket_size is not None:
        items = F.slice(items, 1, max_basket_size)
    if distinct_items:
        # fused caller-distinct (r13): one basket-key repartition feeds
        # the (basket, item) dedup aggregate AND the basket collect —
        # both satisfy their clustering from it (guide §2.4) — instead
        # of the caller paying a separate distinct() exchange on
        # (basket, item) before the basket shuffle here
        df = (
            df.select(basket_col, item_col)
            .repartition(basket_col)
            .groupBy(basket_col, item_col)
            .agg(F.lit(1))
        )
    baskets = df.groupBy(basket_col).agg(items.alias("__items"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                """
                flatten(transform(__items, (x, i) ->
                  filter(transform(slice(__items, i + 2, size(__items)),
                                   y -> struct(x AS item_a, y AS item_b)),
                         p -> p.item_b > p.item_a)))
                """
            )
        ).alias("__p")
    ).select("__p.item_a", "__p.item_b")
    return pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("pair_count")
    )


def sorted_list_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sep: str = ",",
    out_name: str = "items",
) -> DataFrame:
    """LISTAGG/string_agg with deterministic ordering:
    ``concat_ws(sep, array_sort(collect_list(x)))``. collect_list order
    is partition-dependent — sorting the array is what makes the result
    reproducible (and oracle-comparable). Bounded-size groups only:
    the whole group's values materialize in one array."""
    return df.groupBy(*group_cols).agg(
        F.concat_ws(sep, F.array_sort(F.collect_list(F.col(value_col)))).alias(
            out_name
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def pivot_report(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    measure: Column,
    fill: object = 0,
) -> DataFrame:
    """Wide report: one column per pivot value. An EXPLICIT value list is
    required — without it Spark runs an extra distinct-scan job to
    discover values, and the output schema becomes data-dependent
    (both wrong at 100 TB). Missing cells fill with ``fill``."""
    pv = df.groupBy(group_col).pivot(pivot_col, list(pivot_values)).agg(measure)
    return pv.select(
        group_col,
        *[F.coalesce(F.col(v), F.lit(fill)).alias(v) for v in pivot_values],
    )


def rolling_median(
    df: DataFrame,
    value_col: str,
    order_col: Column | str,
    frame: tuple[int, int] = (-6, 0),
    partition_cols: Sequence[str] = (),
    out_col: str = "rolling_median",
) -> DataFrame:
    """EXACT median over a trailing RANGE frame. Spark's ``median``
    aggregate rejects framed windows, so the frame's values are gathered
    with ``collect_list`` (frames allowed) and reduced with array HOFs —
    sort + middle element(s) — entirely JVM-side. Right when frames are
    small (a week of daily aggregates); for wide frames switch to
    ``percentile_approx``, which does accept frames.

    Even-sized frames interpolate the two middle values — the same
    convention DuckDB's windowed ``median`` uses, so results are
    oracle-comparable.
    """
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    w = (
        Window.partitionBy(*[F.col(c) for c in partition_cols])
        .orderBy(oc)
        .rangeBetween(*frame)
    )
    arr = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, lo).otherwise((lo + hi) / F.lit(2.0))
    return df.withColumn(out_col, med)


def sliding_distinct(
    df: DataFrame,
    date_col: str,
    entity_col: str,
    window_days: int = 7,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Rolling distinct-entity count (WAU-style): for each date, the
    number of unique entities seen in the trailing ``window_days``.

    Distinct counts can't ride a window frame, so the shape is:
    dedup to (entity, date) pairs — one shuffle that ALSO shrinks the
    data to at most |entities|x|days| rows — then a broadcast range
    join against the (tiny) date spine and one count-distinct per day.
    The expensive raw-event stream is touched exactly once.
    """
    # cached: the spine derives from the SAME pairs frame — without the
    # cache its lineage (a full raw-stream scan + distinct) runs twice
    pairs = persist(df.select(
        F.col(entity_col).alias("__e"), F.col(date_col).alias("__d")
    ).distinct())
    spine = pairs.select(F.col("__d").alias("__day")).distinct()
    delta = F.datediff(F.col("__day"), F.col("__d"))
    j = pairs.join(
        F.broadcast(spine), (delta >= 0) & (delta < window_days)
    )
    return (
        j.groupBy(F.col("__day").alias(date_col))
        .agg(F.count_distinct(F.col("__e")).alias(out_col))
    )
