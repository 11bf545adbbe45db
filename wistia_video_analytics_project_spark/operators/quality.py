"""Data-quality operators Q1-Q5 (SURVEY.md §2.11).

The reference's distinctive surface: runtime data-quality checks inline in
the pipeline (`wistia-Databricks notebool-03.py:262-346`). Differences by
design:

- Audits RETURN metric DataFrames (one aggregation pass via conditional
  aggregates) instead of printing; the reference issues ≥20 separate
  ``.count()`` actions, recomputing lineage each time (SURVEY.md §3.3).
- Keep-first dedup takes an explicit deterministic ordering; the
  reference's ``row_number().over(partitionBy(keys).orderBy(lit(1)))``
  (`notebool-03.py:315`) is nondeterministic under shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def null_empty_audit(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Q1: per-column null / blank counts in ONE aggregation pass.

    Returns one row per audited column: (column, null_count, empty_count,
    total_count). Reference: `notebool-03.py:262-277` (one filter+count
    action per column — O(cols) full scans; ours is a single scan with
    conditional sums, which at 100 TB is the difference between 1 and N
    passes over the table).
    """
    cols = list(cols or df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("total_count")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
        if dtypes.get(c) == "string":
            aggs.append(
                F.sum((F.trim(F.col(c)) == "").cast("long")).alias(f"__empty_{c}")
            )
        else:
            aggs.append(F.lit(0).cast("long").alias(f"__empty_{c}"))
    row = df.agg(*aggs)
    # unpivot driver-side metadata (fixed small width), one row per column
    stacked = row.selectExpr(
        "total_count",
        "stack({n}, {args}) as (column, null_count, empty_count)".format(
            n=len(cols),
            args=", ".join(f"'{c}', __null_{c}, __empty_{c}" for c in cols),
        ),
    )
    return stacked.select("column", "null_count", "empty_count", "total_count")


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str] | None = None
) -> DataFrame:
    """Q3: keep exactly one row per key group (`notebool-03.py:308-317`).

    ``order_by`` gives the deterministic "first" (ascending, nulls last);
    when omitted, all non-key columns in schema order are the tiebreaker —
    still deterministic, unlike the reference's ``orderBy(lit(1))``.

    Scale note: expressed as ``row_number`` over ``partitionBy(keys)`` —
    a single hash-shuffle on the dedup keys; when it directly follows an
    aggregation on the same keys Catalyst reuses that partitioning.
    """
    order_cols = [c for c in (order_by or []) if c in df.columns]
    if not order_cols:
        order_cols = [c for c in df.columns if c not in keys] or list(keys)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Q4 input: key groups appearing more than once
    (`notebool-03.py:311-314, 326-328`: ``groupBy(keys).count().
    filter("count > 1")``)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def assert_unique(df: DataFrame, keys: Sequence[str]) -> None:
    """Q4: post-dedup uniqueness assertion (`notebool-03.py:325-329`).
    Raises ``ValueError`` when any key group has >1 row."""
    dupes = duplicate_groups(df, keys).limit(5).collect()
    if dupes:
        raise ValueError(
            f"uniqueness violated on keys {list(keys)}: sample duplicate groups {dupes}"
        )


def quality_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Q5: final quality report — row count + exact distinct keys
    (`notebool-03.py:335-346`) in one pass. At 100 TB the exact
    count-distinct becomes the dominant cost."""
    aggs = [F.count(F.lit(1)).alias("row_count")] + [
        F.countDistinct(F.col(k)).alias(f"distinct_{k}") for k in key_cols
    ]
    return df.agg(*aggs)


# ---------------------------------------------------------------------------
# Declarative expectations (Q-family extension)
# ---------------------------------------------------------------------------


def expect_not_null(*cols: str) -> tuple[str, "F.Column"]:
    """Violations: rows where any listed column is NULL."""
    cond = F.lit(False)
    for c in cols:
        cond = cond | F.col(c).isNull()
    return (f"not_null({','.join(cols)})", cond)


def expect_values_in(col: str, values: Sequence[object]) -> tuple[str, "F.Column"]:
    """Violations: non-null values outside the accepted set."""
    return (
        f"values_in({col})",
        F.col(col).isNotNull() & ~F.col(col).isin(list(values)),
    )


def expect_between(col: str, lo: object, hi: object) -> tuple[str, "F.Column"]:
    """Violations: non-null values outside [lo, hi]."""
    return (
        f"between({col})",
        F.col(col).isNotNull() & ((F.col(col) < lo) | (F.col(col) > hi)),
    )


def expect_matches(col: str, pattern: str) -> tuple[str, "F.Column"]:
    """Violations: non-null strings not fully matching the regex."""
    return (
        f"matches({col})",
        F.col(col).isNotNull() & ~F.col(col).rlike(pattern),
    )


def expectations_report(
    df: DataFrame, checks: Sequence[tuple[str, "F.Column"]]
) -> DataFrame:
    """Run a declarative check suite in ONE aggregation pass (the
    dbt-test / Great-Expectations shape without the framework): each
    check is (name, violation_predicate); the report is one row per
    check with its violation count and pass flag.

    All violation predicates evaluate as conditional sums inside a
    single scan — adding a check costs one column, never another pass
    (the reference's inline QC re-scans per check, SURVEY.md §3.3).
    Uniqueness checks aggregate differently (need a groupBy) — use
    ``assert_unique``/``duplicate_groups`` for those.
    """
    aggs = [F.count(F.lit(1)).alias("total_count")] + [
        F.sum(cond.cast("long")).alias(f"__v_{i}")
        for i, (_, cond) in enumerate(checks)
    ]
    row = df.agg(*aggs)
    stacked = row.selectExpr(
        "total_count",
        "stack({n}, {args}) as (check, violations)".format(
            n=len(checks),
            args=", ".join(
                f"'{name}', __v_{i}" for i, (name, _) in enumerate(checks)
            ),
        ),
    )
    return stacked.select(
        "check",
        F.coalesce("violations", F.lit(0)).alias("violations"),
        "total_count",
        (F.coalesce("violations", F.lit(0)) == 0).alias("passed"),
    )


def diff_tables(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed table diff — the pipeline-regression primitive: classify
    every key as added / removed / changed / unchanged between two
    snapshots (e.g. yesterday's silver vs today's rerun).

    One full-outer join on the keys (co-partitioned shuffle per side),
    null-safe column comparison so NULL->value edits count as changes.
    Returns (keys..., change_type); filter 'unchanged' out for the
    actionable report, aggregate for the summary.
    """
    keys = list(key_cols)
    o = old.select(*keys, *compare_cols).alias("o")
    n = new.select(*keys, *compare_cols).alias("n")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"o.{k}") == F.col(f"n.{k}"))
    joined = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(F.col(f"o.{keys[0]}").isNull(), F.lit("added"))
        .when(F.col(f"n.{keys[0]}").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
            for k in keys
        ],
        change.alias("change_type"),
    )


def table_profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column profile — null count, distinct count, min/max — in ONE
    aggregation job over the table (column stats computed side by side,
    then unpivoted to a tall report).

    ``exact_distinct=False`` (default, the 100 TB path) uses HLL
    ``approx_count_distinct``: one scan, no expand. ``True`` computes
    exact distincts — Spark plans a single stage with an Expand (k
    copies of each row), which is the oracle/verification configuration,
    not the scale one. min/max surface as strings so one tall schema
    covers every column type; profile double columns with care (float
    formatting is engine-specific).
    """
    cols = list(columns or df.columns)
    distinct = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__{c}__nulls"),
            distinct(F.col(c)).alias(f"__{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"__{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"__{c}__max"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__rows").alias("n_rows"),
                F.col(f"__{c}__nulls").alias("n_nulls"),
                F.col(f"__{c}__distinct").alias("n_distinct"),
                F.col(f"__{c}__min").alias("min_value"),
                F.col(f"__{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(entries).alias("p")).select("p.*")


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    small_k: int = 5,
) -> DataFrame:
    """Re-identification risk report for a quasi-identifier set — the
    privacy gate a training-data pipeline runs before release.

    - ``k_min``: the dataset's k-anonymity (size of the smallest
      equivalence class over ``quasi_cols`` — any record in a class of
      size k hides among k candidates);
    - ``l_min``: l-diversity (fewest DISTINCT ``sensitive_col`` values
      in any class — a k-anonymous class with one sensitive value still
      leaks it);
    - ``n_small_classes`` / ``pct_rows_at_risk``: classes below
      ``small_k`` and the share of rows they hold.

    One groupBy over the quasi columns, then one aggregate over the
    class frame — O(classes) after the first shuffle. Every output is
    built from exact integer counts (single final division for the
    pct), so the report is engine-exact.
    """
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__size"),
        F.count_distinct(F.col(sensitive_col)).alias("__l"),
    )
    return classes.agg(
        F.min("__size").cast("bigint").alias("k_min"),
        F.min("__l").cast("bigint").alias("l_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("__size").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("__size") < small_k, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_classes"),
        F.round(
            F.sum(F.when(F.col("__size") < small_k, F.col("__size")).otherwise(0))
            .cast("double")
            / F.sum("__size").cast("double"),
            6,
        ).alias("pct_rows_at_risk"),
    )
