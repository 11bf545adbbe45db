"""Sinks: partitioned parquet (S7).

The reference writes unpartitioned overwrite-mode Parquet for silver
(`wistia-Databricks notebool-03.py:356-370`) and copies it to Azure SQL
via an ADF Copy with ``preCopyScript: TRUNCATE TABLE``
(`wistia-Azure-Data-Factory-ETL-Pipeline.json:117-120, 180-207`). The
engine keeps no SQL copy: the gold queries read silver through the
in-memory star schema (``sql.register_star_schema``).

Scale posture: fact tables default to ``partitionBy(date)`` so
downstream date predicates prune partitions (the reference's biggest
single missed optimization at scale — SURVEY.md §4.2).
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
