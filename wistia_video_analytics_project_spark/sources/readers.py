"""Schema-enforced file readers (SURVEY.md §2.1).

The reference reads raw JSON with multiline inference over glob paths
(`wistia-Databricks notebool-03.py:89-105`). Inference costs an extra
full scan and can flip types between runs (SURVEY.md §1.3). The raw JSON
read itself (S1/S2) is ``incremental.read_new_runs``, always with a
declared schema. Every driver testdata table is read through
``load_table`` with its declared schema from ``schemas.TPCH``; only a
``read_parquet`` call without a schema (the dashboard refresh over
engine-written silver) infers it from the parquet footers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schemas


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet source. Without ``schema`` Spark infers it from the footers,
    which costs a Spark job per call.

    With ``schema`` the scan reads it as declared, so no footer is read
    before the query runs (0 jobs), and the columns are then cast to it.
    Timestamps are read as TIMESTAMP_NTZ, the type pyarrow stores for the
    testdata's naive timestamps; the cast makes them session-zone
    timestamps, as an inferred read followed by the cast would. A declared
    column the files lack reads as NULL rather than failing."""
    if schema is None:
        return spark.read.parquet(path)
    stored = T.StructType([
        T.StructField(f.name, T.TimestampNTZType(), f.nullable)
        if isinstance(f.dataType, T.TimestampType) else f
        for f in schema.fields
    ])
    df = spark.read.schema(stored).parquet(path)
    return df.select(*(df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema from ``schemas.TPCH``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", schemas.TPCH[name])
