"""Schema-enforced file readers (SURVEY.md §2.1).

The reference reads raw JSON with multiline inference over glob paths
(`wistia-Databricks notebool-03.py:89-105`). Inference costs an extra
full scan and can flip types between runs (SURVEY.md §1.3). The raw JSON
read itself (S1/S2) is ``incremental.read_new_runs``, always with a
declared schema. Every driver testdata table is read through
``load_table`` with its declared schema from ``schemas.TPCH``; a
``read_parquet`` call without a schema (the dashboard refresh over
engine-written silver) takes the schema Spark wrote into one file's
footer, read on the driver, so neither read starts a Spark job.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.errors.exceptions.captured import convert_exception
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schemas


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet source. Without ``schema`` the schema is one data file's
    footer schema (:func:`_footer_schema`), and a partitioned table's
    partition columns come from its directory names, as in an inferred
    read; the read starts no job.

    With ``schema`` the scan reads it as declared, so no footer is read
    before the query runs (0 jobs), and the columns are then cast to it.
    Timestamps are read as TIMESTAMP_NTZ, the type pyarrow stores for the
    testdata's naive timestamps; the cast makes them session-zone
    timestamps, as an inferred read followed by the cast would. A declared
    column the files lack reads as NULL rather than failing."""
    if schema is None:
        return spark.read.schema(_footer_schema(spark, path)).parquet(path)
    stored = T.StructType([
        T.StructField(f.name, T.TimestampNTZType(), f.nullable)
        if isinstance(f.dataType, T.TimestampType) else f
        for f in schema.fields
    ])
    df = spark.read.schema(stored).parquet(path)
    return df.select(*(df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields))


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The data schema of the parquet table at ``path``, read on the driver
    from the footer of its first data file.

    Spark's own inference (without ``mergeSchema``) also reads one data
    file's footer, but in a one-task job. Every file of a table one Spark
    write produced carries the same schema, so any one serves: here the
    first, in Hadoop FS listing order, whose name and directories start
    with neither ``_`` nor ``.``, so ``_SUCCESS`` markers, checksums and
    ``_temporary`` leftovers are skipped. The schema is the one Spark
    wrote into the footer, converted under the session's parquet
    settings. A missing path raises ``PATH_NOT_FOUND`` and a path with no
    data file ``UNABLE_TO_INFER_SCHEMA``, as a Spark read does."""
    def java(name: str) -> JavaClass:
        # named in full: each package step of ``spark._jvm.org...`` is a
        # py4j round trip of its own
        return JavaClass(name, spark._jvm._gateway_client)

    errors = "org.apache.spark.sql.errors.QueryCompilationErrors"
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = java("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        raise convert_exception(java(errors).dataPathNotExistError(fs.makeQualified(root).toString()))
    status = _first_data_file(fs, fs.getFileStatus(root))
    if status is None:
        raise convert_exception(java(errors).dataSchemaNotSpecifiedError("Parquet"))
    footer = java("org.apache.parquet.hadoop.Footer")(
        status.getPath(),
        java(parquet + "ParquetFooterReader").readFooter(
            java("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf),
            java("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        ),
    )
    converter = java(parquet + "ParquetToSparkSchemaConverter")(state.conf())
    return T.StructType.fromJson(
        json.loads(java(parquet + "ParquetFileFormat").readSchemaFromFooter(footer, converter).json())
    )


def _first_data_file(fs, status):
    """Depth-first: the first non-hidden file under ``status``, or None."""
    if not status.isDirectory():
        return status
    for child in fs.listStatus(status.getPath()):
        if child.getPath().getName().startswith(("_", ".")):
            continue
        found = _first_data_file(fs, child)
        if found is not None:
            return found
    return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema from ``schemas.TPCH``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", schemas.TPCH[name])
