"""Schema-enforced file readers (SURVEY.md §2.1).

The reference reads raw JSON with multiline inference over glob paths
(`wistia-Databricks notebool-03.py:89-105`). Inference costs an extra
full scan and can flip types between runs (SURVEY.md §1.3), so the engine
makes an explicit schema the default and inference an opt-in. The raw
JSON read itself (S1/S2) is ``incremental.read_new_runs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schemas


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet source; optional schema assertion (projection by declared
    columns keeps the scan's ReadSchema minimal)."""
    df = spark.read.parquet(path)
    if schema is not None:
        df = df.select(
            *(df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields)
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema from ``schemas.TPCH``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", schemas.TPCH.get(name))
