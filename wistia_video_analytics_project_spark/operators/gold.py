"""Gold-layer typed views: the declared-DDL boundary (SURVEY.md §1.3/§7.3).

The reference's gold zone is an Azure SQL table with a declared schema
(PDF p.26): composite PK ``(media_id, visitor_id, date)``,
``play_rate DECIMAL(5,2)``, ``watched_percent DECIMAL(5,2)``,
``total_watch_time INT``, ``date DATE``.  The ADF copy activity maps
silver doubles onto those decimals with ``typeConversionSettings``
(`wistia-Azure-Data-Factory-ETL-Pipeline.json:437-450`) and
``allowDataTruncation: true`` (`:204`) — i.e. silently truncates
out-of-range values at copy time.

This module makes that boundary explicit and deterministic instead of
silent:

- doubles are cast to ``DECIMAL(5,2)`` (HALF_UP at 2 decimals, exactly
  what the SQL target stores);
- out-of-range values (|x| > 999.99) are clamped to ±999.99 — the
  ADF truncation-style load, which never drops a PK row;
- integer seconds use half-up ``floor(x + 0.5)`` — bit-exact across
  engines, unlike engine-native double→int casts (Spark truncates,
  most SQL engines round).

Everything is a plain column expression — no UDFs, fully codegen'd,
and the cast survives predicate pushdown on the untouched key columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: DECIMAL(5,2) domain bound — the largest value the gold DDL can store.
DECIMAL_5_2_MAX = 999.99


def decimal_5_2(col: Column | str) -> Column:
    """Cast a double column to the gold ``DECIMAL(5,2)``, clamping
    out-of-range values to ±999.99. Plain-cast semantics (HALF_UP
    rounding) for in-range values — parity with
    ``CAST(x AS DECIMAL(5,2))`` in the SQL target."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.least(F.greatest(c, F.lit(-DECIMAL_5_2_MAX)), F.lit(DECIMAL_5_2_MAX))
    return c.cast("decimal(5,2)")


def int_seconds(col: Column | str) -> Column:
    """Half-up double→INT for ``total_watch_time`` — ``floor(x + 0.5)``
    is bit-exact in every engine, unlike native casts (Spark truncates
    toward zero, DuckDB/SQL Server round)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c + F.lit(0.5)).cast("int")


def to_gold_fact(
    fact: DataFrame,
    rate_col: str = "play_rate",
    pct_col: str = "avg_percent_watched",
    watch_col: str = "total_watch_time_seconds",
) -> DataFrame:
    """Silver ``fact_media_engagement`` -> the gold DDL view (PDF p.26).

    Renames ``avg_percent_watched`` -> ``watched_percent`` and
    ``total_watch_time_seconds`` -> ``total_watch_time`` to match the
    SQL DDL, applies the decimal/int boundary casts, and leaves key
    columns untouched (so partition pruning and PK semantics survive).
    The result carries true ``DECIMAL(5,2)`` / ``INT`` columns instead
    of doubles.
    """
    return (
        fact.withColumn(rate_col, decimal_5_2(rate_col))
        .withColumn(pct_col, decimal_5_2(pct_col))
        .withColumn(watch_col, int_seconds(watch_col))
        .withColumnRenamed(pct_col, "watched_percent")
        .withColumnRenamed(watch_col, "total_watch_time")
    )
