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
        actual = dict(df.dtypes)
        cols = []
        for f in schema.fields:
            c = df[f.name]
            if isinstance(f.dataType, T.TimestampType) and actual.get(f.name) == "bigint":
                # TIMESTAMP(NANOS) column surfaced as int64 via
                # spark.sql.legacy.parquet.nanosAsLong — truncate to micros
                # (integer floor-div), same as DuckDB's nanos->micros read.
                from pyspark.sql import functions as F

                c = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            cols.append(c.cast(f.dataType).alias(f.name))
        df = df.select(*cols)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV source — schema REQUIRED (CSV inference needs a full extra
    scan and degrades every column to string on ambiguity, which then
    defeats predicate pushdown downstream). ``FAILFAST`` by default:
    a malformed row at 100 TB should fail the stage loudly, not silently
    null-fill (pass ``mode='PERMISSIVE'`` + a ``_corrupt_record`` field
    in the schema to quarantine instead)."""
    return (
        spark.read.schema(schema)
        .option("header", "true" if header else "false")
        .option("delimiter", delimiter)
        .option("mode", mode)
        .csv(path)
    )


def read_text_docs(
    spark: SparkSession, path: str, wholetext: bool = True
) -> DataFrame:
    """Raw text-file ingestion for the LLM document tier: each file (or
    each line when ``wholetext=False``) becomes a document row with a
    deterministic content-addressed ``doc_id`` (xxhash64 of provenance
    path + text — stable across reruns and cluster layouts, unlike
    ``monotonically_increasing_id``) and the source path kept for
    provenance (S10)."""
    from pyspark.sql import functions as F

    df = spark.read.option("wholetext", "true" if wholetext else "false").text(
        path
    )
    df = df.select(
        F.col("value").alias("text"),
        F.input_file_name().alias("source_path"),
    )
    return df.select(
        F.xxhash64("source_path", "text").alias("doc_id"),
        "text",
        "source_path",
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema from ``schemas.TPCH``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", schemas.TPCH.get(name))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several testdata tables at once: ``load_tables(spark, d,
    'lineitem', 'orders')``. With no names, loads all known tables."""
    names = names or tuple(schemas.TPCH)
    return {n: load_table(spark, sf_dir, n) for n in names}
