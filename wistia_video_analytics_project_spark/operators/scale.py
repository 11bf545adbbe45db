"""Scale helpers: skew diagnostics, single-pass metrics, partitioned ladders.

These encode the 100 TB playbook as reusable operators:

- **observe()** — QC counters (rows, nulls, sums) collected DURING a
  real action instead of extra passes; the fix for the reference's
  ≥20-separate-actions pattern (SURVEY.md §4.2).
- **skew_report** — the heaviest keys and their share of the table,
  the diagnostic to run before choosing AQE skew-join or broadcast.
- **incremental_join_delta** — insert-only join-view maintenance that
  never re-joins the two old sides.
- **binned_* ladders** — global running sums, row numbers, prefix ops,
  id gaps and ntiles over a bucket spine instead of one
  unpartitioned-window task.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..cache import persist


def observed(
    df: DataFrame, name: str, metrics: Mapping[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a frame; they materialize as a side effect
    of the NEXT action on the returned frame (``obs.get`` blocks until
    then). One pass, no extra jobs:

        df2, obs = observed(df, "qc", {"rows": F.count(F.lit(1)),
                                       "null_keys": F.sum(F.col("k").isNull().cast("long"))})
        df2.write.parquet(path)         # the real action
        assert obs.get["null_keys"] == 0
    """
    obs = Observation(name)
    pairs = list(metrics.items())
    out = df.observe(obs, pairs[0][1].alias(pairs[0][0]),
                     *[c.alias(n) for n, c in pairs[1:]])
    return out, obs


def skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Heaviest join/aggregation keys and how skewed they are — the
    diagnostic you run BEFORE deciding between AQE skew-join, salting,
    and broadcast for a hot key.

    One shuffle: per-key counts. The corpus-wide totals (row count, key
    count) come from a second aggregate over the per-key COUNTS frame —
    O(distinct keys), never a second pass over the data — broadcast back
    as a single row. The counts frame feeds two consumers (the totals
    aggregate and the report join), so it is cached: without that, the
    totals branch would silently re-scan the raw table (pinned in
    tests/test_plans.py). Output per top key: row count, share of the
    table, and the ratio to the mean per-key load (``skew_ratio`` ~ 1.0
    means uniform; a key at 50x mean is the one that stalls its task at
    100 TB).
    """
    keys = [F.col(c) for c in key_cols]
    counts = persist(df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows")))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            *key_cols,
            "n_rows",
            # floor(x*10^n + 0.5)/10^n: bit-exact half-up on both engines
            # (count ratios land exactly on .5 ties, where native round()
            # disagrees across engines)
            (F.floor(F.col("n_rows") / F.col("__total") * 1e6 + F.lit(0.5)) / 1e6)
            .alias("pct_of_total"),
            # double FIRST: a long product n_rows * n_keys can overflow
            # at corpus scale (and widens to HUGEINT in DuckDB)
            (
                F.floor(
                    F.col("n_rows").cast("double")
                    * F.col("__n_keys")
                    / F.col("__total")
                    * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols])
        .limit(top_n)
    )


def incremental_join_delta(
    fact_old: DataFrame,
    fact_delta: DataFrame,
    dim_old: DataFrame,
    dim_delta: DataFrame,
    on: str | Sequence[str],
) -> DataFrame:
    """Incremental maintenance of an inner-join view V = F ⋈ D under
    INSERT-ONLY deltas:

        ΔV = ΔF ⋈ D_old  ∪  F_old ⋈ ΔD  ∪  ΔF ⋈ ΔD

    Appending ΔV to the old view equals a full recompute over
    (F_old ∪ ΔF) ⋈ (D_old ∪ ΔD) — asserted in tests — without ever
    re-joining the two OLD sides, which is the data-sized term a 100 TB
    nightly refresh cannot afford. The delta sides are small by
    contract, so both ΔD joins carry an explicit broadcast hint; the
    one surviving big join (ΔF ⋈ D_old) is a normal key join AQE can
    plan. Contract: deltas are pure inserts (no updates/deletes — use
    the SCD2/CDC operators for those) and the dim key stays unique
    across D_old ∪ ΔD.
    """
    keys = [on] if isinstance(on, str) else list(on)
    part1 = fact_delta.join(dim_old, keys)
    part2 = fact_old.join(F.broadcast(dim_delta), keys)
    part3 = fact_delta.join(F.broadcast(dim_delta), keys)
    return part1.unionByName(part2).unionByName(part3)


def _lb_lift(df, arr_col, val, max_steps, out_col) -> DataFrame:
    """Append ``out_col`` = |{a in arr_col : a < val}| via binary
    lifting over the sorted array column — O(log B) ``element_at``
    probes per row with a DYNAMIC length guard (``size(arr)``), for
    arrays whose length is only bounded, not fixed, at plan time.  Same
    named-column-per-level discipline as the fixed-length lift in
    :func:`_quantile_bucketed` (inlining the accumulator doubles the
    expression tree per level)."""
    out = df.withColumn(out_col, F.lit(0))
    step = 1
    while step * 2 <= max_steps:
        step *= 2
    while step >= 1:
        probe = F.col(out_col) + F.lit(step)
        out = out.withColumn(
            out_col,
            F.col(out_col)
            + F.when(
                (probe <= F.size(arr_col))
                & (F.element_at(arr_col, probe) < val),
                F.lit(step),
            ).otherwise(F.lit(0)),
        )
        step //= 2
    return out


def _quantile_tie_bucketed(df, lead, tie, nb, nan_int) -> DataFrame:
    """Two-level equi-depth ``__bucket`` (a struct, totally ordered and
    join/group/window-compatible) that survives HEAVY-TIED lead keys —
    the one degeneration ``bounds="quantile"`` shares with the global
    window (SCALE.md round-11: equal lead VALUES merge adjacent
    equi-depth buckets, so a 50%-tie key still collapses to one fat
    task).

    Mechanism: lead values holding more than ``1/nb`` of the rows are
    HEAVY.  Each heavy value becomes its own breakpoint in the combined
    breakpoint list ``P = sort(quantile_edges ∪ heavy_values)``, and

        level1 = 2·|{p ∈ P : p < k}| + (k is heavy)

    gives every heavy value an EXCLUSIVE odd bucket (monotone in k:
    rows between breakpoints get even ids, and a heavy value's own
    breakpoint separates it from everything above).  Inside a heavy
    bucket the lead is CONSTANT, so sub-bucketing by the TIEBREAKER's
    per-heavy-value quantile edges preserves the (lead, tie) total
    order — which is exactly why naive two-level bucketing on mixed
    buckets would be wrong (sub is a function of tie alone and may
    invert against the lead).  Non-heavy rows take sub = 0.

    Costs two extra passes over ``df`` (heavy detection is a map-side
    combined ``groupBy(lead).count()``; per-heavy-value tie edges scan
    the heavy rows), so it is OPT-IN via ``bounds="quantile-ties"`` —
    pay it when the lead is known low-cardinality/heavy-tied.  The
    tiebreaker must be numeric (quantile-sketchable); NULL leads sort
    first (level1 -1), NaN leads last (level1 4·nb), NULL ties first
    within a heavy bucket (sub 0), NaN ties last (sub nb+2) — the same
    ASC NULLS FIRST / NaN-largest parity the other paths keep."""
    dbl = F.col(lead).cast("double")
    tdb = F.col(tie).cast("double")
    probs = [i / nb for i in range(1, nb)]
    empty = F.array().cast("array<double>")
    stats = df.agg(
        F.percentile_approx(
            F.when(~F.isnan(dbl), dbl), probs, 2_000
        ).alias("__edges"),
        F.count(F.lit(1)).alias("__n"),
    )
    # heavy values: > |df|/nb rows each -> at most nb-1 of them, so
    # every frame below is broadcast-sized by construction
    heavy = (
        df.where(F.col(lead).isNotNull() & ~F.isnan(dbl))
        .groupBy(dbl.alias("__hv"))
        .agg(F.count(F.lit(1)).alias("__hc"))
        .join(F.broadcast(stats.select("__n")), how="cross")
        .where(F.col("__hc") * nb > F.col("__n"))
    )
    heavy_edges = (
        df.join(F.broadcast(heavy.select("__hv")), dbl == F.col("__hv"))
        .groupBy("__hv")
        .agg(
            F.percentile_approx(
                F.when(~F.isnan(tdb), tdb), probs, 2_000
            ).alias("__tedges")
        )
    )
    breakpoints = (
        stats.join(
            F.broadcast(
                heavy.agg(
                    F.sort_array(F.collect_list("__hv")).alias("__hvals")
                )
            ),
            how="cross",
        ).select(
            F.array_sort(
                F.concat(
                    F.coalesce(F.col("__edges"), empty),
                    F.coalesce(F.col("__hvals"), empty),
                )
            ).alias("__bp"),
            F.coalesce(F.col("__hvals"), empty).alias("__hvals"),
        )
    )
    out = df.join(F.broadcast(breakpoints), how="cross")
    # |P| <= 2*nb - 2 (nb-1 edges + nb-1 heavy values)
    out = _lb_lift(out, F.col("__bp"), dbl, 2 * nb, "__lb1")
    out = out.join(
        F.broadcast(heavy_edges), dbl == F.col("__hv"), "left"
    )
    out = _lb_lift(out, F.col("__tedges"), tdb, nb, "__lb2")
    is_heavy = F.array_contains(F.col("__hvals"), dbl)
    level1 = (
        F.when(F.col(lead).isNull(), F.lit(-1))
        .when(F.isnan(dbl), F.lit(4 * nb))
        .otherwise(
            F.col("__lb1") * 2
            + F.when(is_heavy, F.lit(1)).otherwise(F.lit(0))
        )
    )
    sub = (
        F.when(
            F.col("__tedges").isNull() | F.col(tie).isNull(), F.lit(0)
        )
        .when(F.isnan(tdb), F.lit(int(nan_int)))
        .otherwise(F.col("__lb2") + 1)
    )
    return out.withColumn(
        "__bucket", F.struct(level1.alias("l1"), sub.alias("sub"))
    ).drop("__bp", "__hvals", "__hv", "__tedges", "__lb1", "__lb2")


def _quantile_bucketed(df, lead, dbl, nb, nan_bucket) -> DataFrame:
    """Equi-depth ``__bucket`` assignment for :func:`_range_bucketed`'s
    ``bounds="quantile"`` mode.  Requires ``nb >= 2`` — the caller
    routes the degenerate single-bucket case to the observed-min/max
    path (round-11 ADVICE: ``nb == 1`` would build
    ``percentile_approx(col, [], 2000)``, an empty percentage array
    whose behavior is engine-defined rather than contractual)."""
    probs = [i / nb for i in range(1, nb)]
    # NaN is excluded from the sketch the same way as from the
    # observed min/max: QuantileSummaries has no NaN ordering.
    # Accuracy 2000 bounds the rank error at 0.05% — two orders
    # below the 1/n_buckets bucket width, at a fraction of the
    # default sketch's merge cost.
    edges = df.agg(
        F.percentile_approx(
            F.when(~F.isnan(dbl), dbl), probs, 2_000
        ).alias("__edges")
    )
    # bucket id = 1 + |{edges e : e < v}| — computed by binary
    # lifting (lower_bound) over the sorted edge array: log2(B)
    # element_at probes per row instead of an O(B) per-row filter
    # HOF (measured 2x wall on 16M rows before this rewrite).
    # Each lift level lands in its own projected column — inlining
    # the accumulator into one expression doubles the tree per
    # level (the accumulator is referenced twice), exploding
    # analysis/codegen cost exponentially.
    n_edges = nb - 1
    out = df.crossJoin(F.broadcast(edges)).withColumn(
        "__bl", F.lit(0)
    )
    step = 1
    while step * 2 <= n_edges:
        step *= 2
    while step >= 1:
        probe = F.col("__bl") + F.lit(step)
        out = out.withColumn(
            "__bl",
            F.col("__bl")
            + F.when(
                (probe <= F.lit(n_edges))
                & (F.element_at(F.col("__edges"), probe) < dbl),
                F.lit(step),
            ).otherwise(F.lit(0)),
        )
        step //= 2
    return (
        out.withColumn(
            "__bucket",
            F.when(F.col(lead).isNull(), F.lit(0))
            .when(F.isnan(dbl), nan_bucket)
            .when(F.col("__edges").isNull(), F.lit(1))
            .otherwise(F.col("__bl") + F.lit(1)),
        )
        .drop("__edges", "__bl")
    )


def _range_bucketed(
    df: DataFrame,
    lead: str,
    n_buckets: int,
    bounds: tuple[float, float] | str | None,
    tie: str | None = None,
) -> DataFrame:
    """Attach the ladder's ``__bucket`` column.

    ``bounds`` selects the bucketing strategy:

    - ``(lo, hi)`` literals — fixed-width range buckets, no extra pass;
    - ``None`` — fixed-width over an observed min/max 1-row broadcast
      (NaN-resistant: the min/max exclude NaN so a single NaN lead
      cannot poison ``__hi`` and collapse every row into the trailing
      bucket — the round-10 ADVICE degeneration);
    - ``"quantile"`` — EQUI-DEPTH buckets from ``approx_percentile``
      edges (round-10 VERDICT item 4): a heavy-skew lead (power-law
      degree, Zipf count) concentrates most rows into one fixed-width
      bucket, degenerating the ladder back to a single fat task;
      quantile edges put ~|df|/n_buckets rows in every bucket
      regardless of the value distribution, at the cost of one
      approx-percentile pass. Bucket ids stay monotone in the lead
      (id = #edges strictly below the value + 1), so rank order is
      preserved and the ladders' output is identical either way.
      ``n_buckets == 1`` routes to the observed-min/max path (the edge
      list would be empty — round-11 ADVICE); ``n_buckets < 1`` raises.
    - ``"quantile-ties"`` — equi-depth PLUS heavy-value tie-splitting
      (round 12): lead values holding > 1/n_buckets of the rows get an
      exclusive bucket sub-split by the ``tie`` column's quantile edges
      (sound because the lead is constant there — see
      :func:`_quantile_tie_bucketed`). Requires ``tie``; costs two
      extra passes; for leads where equal VALUES would merge the
      equi-depth buckets back into one fat task (SCALE.md round-12:
      fat share 50.4% -> 1.6% on a 50%-tie key; wins only at the scale
      where one task's rows exceed a core's budget).

    NULL leads land in bucket 0 (ASC NULLS FIRST parity); a degenerate
    lo == hi range collapses to bucket 1; NaN leads go to a trailing
    bucket past the overflow bucket (Spark orders NaN largest)."""
    # width_bucket returns NULL for NaN input; a NULL bucket key would
    # silently DROP those rows in the offsets equi-join. Spark orders
    # NaN as the LARGEST double, so NaN leads belong in a trailing
    # bucket past the n+1 overflow bucket.
    nan_bucket = F.lit(int(n_buckets) + 2)
    dbl = F.col(lead).cast("double")
    if isinstance(bounds, str):
        if bounds not in ("quantile", "quantile-ties"):
            raise ValueError(f"unknown bounds mode {bounds!r}")
        nb = int(n_buckets)
        if nb < 1:
            raise ValueError(f"n_buckets must be >= 1, got {nb}")
        if bounds == "quantile-ties":
            if tie is None:
                raise ValueError(
                    "bounds='quantile-ties' needs a tiebreaker column —"
                    " pass >=2 order columns (the mode exists to split"
                    " heavy-tied leads BY the tiebreaker)"
                )
            # The sub-bucket edges sketch tie via cast('double') but the
            # within-bucket window orders by the RAW column — a
            # string/partially-castable tie would silently cast to
            # NULL/garbage and bucket in an order that disagrees with
            # the window's, corrupting the global row order instead of
            # erroring (round-12 ADVICE).  Enforce the documented
            # numeric-tiebreaker contract up front.
            from pyspark.sql.types import NumericType

            tie_type = df.schema[tie].dataType
            if not isinstance(tie_type, NumericType):
                raise ValueError(
                    "bounds='quantile-ties' needs a NUMERIC tiebreaker"
                    f" (quantile-sketchable); {tie!r} is {tie_type}"
                )
            if nb >= 2:
                return _quantile_tie_bucketed(
                    df, lead, tie, nb, int(n_buckets) + 2
                )
            bounds = None  # degenerate single bucket: observed path
        if nb == 1:
            # Degenerate single-bucket request: the edge list would be
            # EMPTY (percentile_approx with an empty percentage array —
            # engine-defined behavior, round-11 ADVICE). The observed
            # min/max path below implements the documented "collapses
            # to bucket 1" contract directly, so route there.
            bounds = None
        else:
            return _quantile_bucketed(df, lead, dbl, nb, nan_bucket)
    if bounds is not None:
        lo, hi = float(bounds[0]), float(bounds[1])
        bucket = (
            F.when(F.col(lead).isNull(), F.lit(0))
            .when(F.lit(lo) == F.lit(hi), F.lit(1))
            .otherwise(
                F.coalesce(
                    F.width_bucket(dbl, F.lit(lo), F.lit(hi),
                                   F.lit(int(n_buckets))),
                    nan_bucket,
                )
            )
        )
        return df.withColumn("__bucket", bucket).withColumn(
            "__lo", F.lit(lo)
        ).withColumn("__hi", F.lit(hi))
    # observed bounds over NON-NaN values only: F.max(lead) would
    # return NaN (Spark orders NaN largest), making width_bucket NULL
    # for EVERY row — output stays correct (all rows coalesce into the
    # trailing bucket) but the ladder silently degenerates to one task
    b = df.agg(
        F.min(F.when(~F.isnan(dbl), dbl)).alias("__lo"),
        F.max(F.when(~F.isnan(dbl), dbl)).alias("__hi"),
    )
    return df.crossJoin(F.broadcast(b)).withColumn(
        "__bucket",
        F.when(F.col(lead).isNull(), F.lit(0))
        .when(F.col("__lo") == F.col("__hi"), F.lit(1))
        .otherwise(
            F.coalesce(
                F.width_bucket(dbl, F.col("__lo"), F.col("__hi"),
                               F.lit(int(n_buckets))),
                nan_bucket,
            )
        ),
    )


def binned_running_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    n_buckets: int = 64,
    out_col: str = "running_sum",
    bounds: tuple[float, float] | str | None = None,
) -> DataFrame:
    """Global running (cumulative) sum WITHOUT a single-partition window.

    A bare ``Window.orderBy(...)`` collapses the whole frame into one
    task — the classic 100 TB cumulative-metric killer (Spark even
    warns ``No Partition Defined for Window``). This is the two-level
    ladder SCALE.md references:

    1. bucket rows by range over the leading order column
       (``width_bucket`` on the observed min/max — a broadcast 1-row
       aggregate, no sort);
    2. per-bucket totals (tiny frame) get exclusive prefix offsets via
       a window over ``n_buckets`` rows;
    3. the within-bucket running sum is a window PARTITIONED by bucket,
       so every task holds one bucket, and the broadcast offset is
       added.

    Result is row-identical to the single-partition window (asserted in
    tests) provided ``order_cols`` is a UNIQUE total order — the same
    determinism contract every ranked query in this repo carries. The
    leading order column must be numeric (range-bucketable). For
    integral ``value_col`` types the match is exact; for floats the
    ladder regroups the summation like any distributed sum, so agree
    only to accumulation noise — run money in integer cents (CLAUDE.md).
    """
    lead = order_cols[0]
    # the ladder consumes df three times (bounds, bucket counts, the
    # join-back) — cache it so a non-trivial input plan computes once;
    # inputs are entity-level aggregates by contract (never raw facts)
    df = persist(df)
    tie = order_cols[1] if len(order_cols) > 1 else None
    bucketed = _range_bucketed(df, lead, n_buckets, bounds, tie=tie)
    per_bucket = bucketed.groupBy("__bucket").agg(
        F.sum(value_col).alias("__btotal")
    )
    w_b = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("__btotal").over(w_b), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy("__bucket").orderBy(
        *[F.col(c).asc() for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, F.col("__offset") + F.sum(value_col).over(w_in))
        .drop("__bucket", "__lo", "__hi", "__offset")
    )


def binned_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    n_buckets: int = 64,
    out_col: str = "row_num",
    bounds: tuple[float, float] | str | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` WITHOUT a single-partition sort.

    The ranking sibling of :func:`binned_running_sum`, and the house
    pattern behind the round-10 ``curriculum_deciles`` rewrite: a bare
    ``row_number().over(Window.orderBy(...))`` collapses the frame into
    one task, which the plan audit now rejects on corpus/entity-sized
    inputs. Instead:

    1. bucket rows by range over the leading order column (monotone, so
       bucket order == rank order; equal keys share a bucket);
    2. the <=``n_buckets``-row count spine yields each bucket's
       exclusive global offset;
    3. rank = offset + ``row_number`` PARTITIONED by bucket.

    Output is row-identical to the global window (asserted in tests)
    provided ``order_cols`` is a UNIQUE total order — the determinism
    contract every ranked query in this repo carries. The leading order
    column must be numeric (range-bucketable); NULL leads rank first,
    matching ASC NULLS FIRST. Value skew concentrates rows in few
    buckets (worst case one fat task — same as the global window);
    domain-spread keys get the full ``n_buckets``-way parallelism.
    """
    lead = order_cols[0]
    # cached for the same three-consumer reason as binned_running_sum
    df = persist(df)
    tie = order_cols[1] if len(order_cols) > 1 else None
    bucketed = _range_bucketed(df, lead, n_buckets, bounds, tie=tie)
    per_bucket = bucketed.groupBy("__bucket").agg(
        F.count(F.lit(1)).cast("long").alias("__bcount")
    )
    w_b = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("__bcount").over(w_b), F.lit(0))
        .cast("long")
        .alias("__offset"),
    )
    w_in = Window.partitionBy("__bucket").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            out_col, F.col("__offset") + F.row_number().over(w_in)
        )
        .drop("__bucket", "__lo", "__hi", "__offset")
    )


def binned_prefix_ops(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Mapping[str, str] | None = None,
    rank_col: str | None = None,
    n_buckets: int = 64,
    bounds: tuple[float, float] | str | None = None,
) -> DataFrame:
    """Several global prefix operations over ONE shared bucketing.

    Chaining :func:`binned_running_sum` / :func:`binned_row_number`
    calls that share the same ``order_cols`` pays the ladder's fixed
    cost (bounds pass, bucket counts, broadcast join, cache) once per
    call; this fused form pays it once total — one bucketing, one
    per-bucket aggregate carrying every partial, one broadcast offsets
    join, and all the within-bucket windows ride a single window spec.

    ``sum_cols`` maps output column -> value column (each becomes a
    global running sum); ``rank_col`` names a global row_number output.
    Same exactness and unique-total-order contract as the single-op
    ladders (asserted in tests).
    """
    sum_cols = dict(sum_cols or {})
    if not sum_cols and rank_col is None:
        raise ValueError("binned_prefix_ops: nothing to compute")
    lead = order_cols[0]
    df = persist(df)
    tie = order_cols[1] if len(order_cols) > 1 else None
    bucketed = _range_bucketed(df, lead, n_buckets, bounds, tie=tie)
    partials = [
        F.sum(vcol).alias(f"__bt_{out}") for out, vcol in sum_cols.items()
    ]
    if rank_col is not None:
        partials.append(F.count(F.lit(1)).cast("long").alias("__bt__rn"))
    per_bucket = bucketed.groupBy("__bucket").agg(*partials)
    w_b = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_cols = [
        F.coalesce(F.sum(f"__bt_{out}").over(w_b), F.lit(0)).alias(
            f"__off_{out}"
        )
        for out in sum_cols
    ]
    if rank_col is not None:
        off_cols.append(
            F.coalesce(F.sum("__bt__rn").over(w_b), F.lit(0))
            .cast("long")
            .alias("__off__rn")
        )
    offsets = per_bucket.select("__bucket", *off_cols)
    order = [F.col(c).asc() for c in order_cols]
    w_run = Window.partitionBy("__bucket").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rank = Window.partitionBy("__bucket").orderBy(*order)
    out = bucketed.join(F.broadcast(offsets), "__bucket")
    drop = ["__bucket", "__lo", "__hi"]
    for o, vcol in sum_cols.items():
        out = out.withColumn(
            o, F.col(f"__off_{o}") + F.sum(vcol).over(w_run)
        )
        drop.append(f"__off_{o}")
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.col("__off__rn") + F.row_number().over(w_rank)
        )
        drop.append("__off__rn")
    return out.drop(*drop)


def binned_id_gaps(
    df: DataFrame,
    id_col: str,
    n_buckets: int = 64,
    bounds: tuple[float, float] | str | None = None,
) -> DataFrame:
    """Gaps-and-islands over a numeric id axis WITHOUT a single-task
    lead window.

    The classic form — ``lead(id).over(Window.orderBy(id))`` on the
    distinct-id frame — collapses every id into one task. Here the id
    axis range-buckets like the other ladders: the within-bucket lead
    runs PARTITIONED by bucket, and the only pairs a partitioned lead
    cannot see — each bucket's last id vs the NEXT non-empty bucket's
    first id — come from a lead over the <=``n_buckets``-row
    (min, max) bucket spine. Union of the two is row-identical to the
    global-window form (asserted in tests).

    Returns ``(gap_start, gap_end, n_missing)`` per maximal missing
    run. ``df`` should be the distinct non-null id frame. ``bounds``
    follows :func:`_range_bucketed` (``"quantile"`` for id axes so
    sparse/clustered that fixed-width buckets go fat — rare for dense
    surrogate ids, common for timestamps-as-ids).
    """
    df = persist(df)  # consumed by bounds, the lead, and the spine
    bucketed = _range_bucketed(df, id_col, n_buckets, bounds).select(
        "__bucket", id_col
    )
    w_in = Window.partitionBy("__bucket").orderBy(id_col)
    within = bucketed.withColumn(
        "__next", F.lead(id_col).over(w_in)
    ).filter(F.col("__next") > F.col(id_col) + 1)
    spine = bucketed.groupBy("__bucket").agg(
        F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx")
    )
    w_b = Window.orderBy("__bucket")
    seams = (
        spine.withColumn("__nextmn", F.lead("__mn").over(w_b))
        .filter(F.col("__nextmn") > F.col("__mx") + 1)
        .select(
            F.col("__mx").alias(id_col), F.col("__nextmn").alias("__next")
        )
    )
    pairs = within.select(id_col, "__next").unionByName(seams)
    return pairs.select(
        (F.col(id_col) + 1).alias("gap_start"),
        (F.col("__next") - 1).alias("gap_end"),
        (F.col("__next") - F.col(id_col) - 1).alias("n_missing"),
    )


def binned_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n_tiles: int,
    n_buckets: int = 64,
    out_col: str = "tile",
    bounds: tuple[float, float] | str | None = None,
) -> DataFrame:
    """Exact global ``ntile(n)`` WITHOUT a single-task sort.

    Built on :func:`binned_row_number` plus the integer arithmetic that
    REPLICATES ntile's remainder rule — with ``r = n % k`` and
    ``q = n div k``, the first ``r`` tiles hold ``q+1`` rows:

    - rank <= r·(q+1):  tile = (rank−1) div (q+1) + 1
    - otherwise:        tile = r + (rank − r·(q+1) − 1) div q + 1

    Output is row-identical to ``ntile(k).over(Window.orderBy(...))``
    (asserted in tests) under the same unique-total-order contract.
    The q = 0 case (fewer rows than tiles) never reaches the second
    branch; ``greatest`` keeps its divisor nonzero under ANSI anyway.
    """
    k = int(n_tiles)
    ranked = binned_row_number(
        df, order_cols, n_buckets=n_buckets, out_col="__bn_rn",
        bounds=bounds,
    )
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("__bn_n"))
    j = ranked.crossJoin(F.broadcast(tot))
    tile = (
        F.when(
            F.col("__bn_rn")
            <= (F.col("__bn_n") % k) * (F.expr(f"__bn_n div {k}") + 1),
            F.expr(f"(__bn_rn - 1) div (__bn_n div {k} + 1)"),
        ).otherwise(
            F.col("__bn_n") % k
            + F.expr(
                f"(__bn_rn - (__bn_n % {k}) * (__bn_n div {k} + 1) - 1)"
                f" div greatest(__bn_n div {k}, 1L)"
            )
        )
        + 1
    ).cast("int")
    return j.withColumn(out_col, tile).drop("__bn_rn", "__bn_n")
