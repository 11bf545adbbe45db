"""Sinks: parquet (partitioned), JDBC truncate-load (S7-S8).

The reference writes unpartitioned overwrite-mode Parquet for silver
(`wistia-Databricks notebool-03.py:356-370`) and copies it to Azure SQL
via an ADF Copy with ``preCopyScript: TRUNCATE TABLE``
(`wistia-Azure-Data-Factory-ETL-Pipeline.json:117-120, 180-207`).

Scale posture:

- fact tables default to ``partitionBy(date)`` so downstream date
  predicates prune partitions (the reference's biggest single missed
  optimization at scale — SURVEY.md §4.2).
- the JDBC copy is Spark-native (``format("jdbc")`` with
  ``truncate=true``), replacing the external copy tool; writes fan out
  per partition with a bounded connection count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame, path: str, partition_by: Sequence[str] | None = None
) -> None:
    """S7: columnar overwrite sink. ``partition_by`` enables partition
    pruning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def jdbc_truncate_load(
    df: DataFrame,
    url: str,
    table: str,
    options: dict[str, str] | None = None,
    num_partitions: int = 8,
) -> None:
    """S8: gold load with TRUNCATE-then-insert semantics (idempotent
    reruns, like the reference's preCopyScript). ``truncate=true`` keeps
    the table's DDL (PK/indexes) instead of drop+recreate.
    ``num_partitions`` caps concurrent DB connections — a 1000-executor
    write must not open 1000 connections against one database.

    Type boundary: pass the DataFrame through
    ``operators.gold.to_gold_fact`` first so the JDBC writer sends true
    ``DECIMAL(5,2)`` / ``INT`` columns matching the gold DDL (PDF p.26)
    instead of doubles — the explicit replacement for ADF's silent
    ``allowDataTruncation`` copy conversion
    (`wistia-Azure-Data-Factory-ETL-Pipeline.json:437-450, 204`).
    """
    w = (
        df.coalesce(num_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", "true")
        .option("batchsize", "10000")
        .mode("overwrite")
    )
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.save()
