"""SCD Type-2 dimension maintenance (history-preserving upserts).

The reference's gold dims are truncate-and-reload snapshots (ADF
preCopyScript TRUNCATE; no history). A production dimension needs
history: when a tracked attribute changes, the open row is CLOSED
(``valid_to`` stamped) and a new open version appended.

Without a transactional table format (Delta/Iceberg jars absent here),
MERGE is emulated with pure DataFrame ops — the pattern the pyspark
guide names for CDC/SCD2: join to detect changes, union the three row
classes. All joins are key-equi-joins (one shuffle each side, or
broadcast when the update batch is small — the common case: daily
updates are tiny vs the accumulated dimension).

Row classes in the output:
1. historical rows (already closed) — pass through untouched
2. open rows with no change — pass through
3. open rows whose tracked attributes changed — closed at the update's
   effective timestamp
4. new versions (changed + brand-new keys) — open from the effective ts
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: open rows carry valid_to = NULL
SCD_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(snapshot: DataFrame, valid_from: Column) -> DataFrame:
    """Bootstrap an SCD2 table from a plain snapshot: all rows open."""
    return (
        snapshot.withColumn("valid_from", valid_from.cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def _differs(tracked: Sequence[str]) -> Column:
    """Null-safe any-attribute-changed predicate between ``u`` and ``c``."""
    cond = F.lit(False)
    for t in tracked:
        cond = cond | ~F.col(f"u.{t}").eqNullSafe(F.col(f"c.{t}"))
    return cond


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: Sequence[str],
    effective_ts: Column,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension; returns the new table.

    ``updates`` carries (key, tracked...) — one row per key (enforce
    upstream with ``quality.dedup_keep_first``). Unchanged updates are
    no-ops; changed keys close their open row and append a new version;
    unknown keys insert as new open rows.
    """
    non_tracked = [
        c for c in dim.columns if c not in (key, *tracked, *SCD_COLS)
    ]
    if non_tracked:
        raise ValueError(
            f"dim carries non-tracked attribute columns {non_tracked}; "
            "include them in `tracked` or drop them"
        )

    upd = F.broadcast(updates.select(key, *tracked).alias("u"))

    closed_rows = dim.filter(~F.col("is_current"))
    open_rows = dim.filter(F.col("is_current")).alias("c")

    # Single pass over (open ⋈ updates): each joined row EXPLODES into
    # its output row class — unchanged -> [current], changed ->
    # [closed version, new version] — instead of re-deriving the join
    # for each class (the previous form scanned the dimension once per
    # branch; this halves the dimension IO per apply).
    joined = open_rows.join(upd, F.col(f"c.{key}") == F.col(f"u.{key}"), "left")
    changed_flag = F.col(f"u.{key}").isNotNull() & _differs(tracked)
    eff = effective_ts.cast("timestamp")

    dim_cols = list(dim.columns)

    def _row(values: dict[str, Column]) -> Column:
        return F.struct(*[values[c].alias(c) for c in dim_cols])

    cur = _row({c: F.col(f"c.{c}") for c in dim_cols})
    closed = _row(
        {
            **{c: F.col(f"c.{c}") for c in dim_cols},
            "valid_to": eff,
            "is_current": F.lit(False),
        }
    )
    fresh = _row(
        {
            key: F.col(f"u.{key}"),
            **{t: F.col(f"u.{t}") for t in tracked},
            "valid_from": eff,
            "valid_to": F.lit(None).cast("timestamp"),
            "is_current": F.lit(True),
        }
    )
    open_out = joined.select(
        F.explode(
            F.when(changed_flag, F.array(closed, fresh)).otherwise(F.array(cur))
        ).alias("__r")
    ).select("__r.*")

    # brand-new keys: updates with no open row
    open_keys = open_rows.select(F.col(f"c.{key}").alias(key))
    inserts = scd2_init(
        updates.select(key, *tracked).join(open_keys, key, "left_anti"),
        effective_ts,
    )
    return closed_rows.unionByName(open_out).unionByName(inserts)


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change batch (insert/update/delete rows) onto a
    snapshot — the Type-1 MERGE primitive next to this module's SCD2:
    latest change per key wins, deletes drop the key, untouched base
    rows pass through.

    ``changes`` carries the full row image plus ``op_col`` in
    {'I','U','D'} and a per-key-unique ``seq_col`` (commit version /
    LSN) — ties are broken by preferring the higher sequence, so
    replayed batches are idempotent. Base rows rank below every change
    (null sequence sorts last under DESC). One shuffle on the key.
    """
    data_cols = base.columns
    b = base.select(
        *data_cols,
        F.lit(None).cast("long").alias("__seq"),
        F.lit("I").alias("__op"),
    )
    c = changes.select(
        *data_cols,
        F.col(seq_col).cast("long").alias("__seq"),
        F.col(op_col).alias("__op"),
    )
    # op as secondary key: a (contract-violating) same-seq tie still
    # resolves deterministically, and desc op ranks 'U' > 'I' > 'D' —
    # the conservative read: a delete only applies when it is strictly
    # the latest change, never on an ambiguous tie
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        F.col("__seq").desc_nulls_last(), F.col("__op").desc()
    )
    return (
        b.unionByName(c)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__op") != "D"))
        .select(*data_cols)
    )
