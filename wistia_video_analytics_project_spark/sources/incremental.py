"""Incremental run-folder processing (the scale fix for S1's full glob).

The reference re-reads EVERY historical run folder on every transform
(`wistia-Databricks notebool-03.py:90-94`: ``read.json(RAW/media/*/
*.json)``) — O(history) work per run. At 100 TB of accumulated raw zone
that's the difference between a pipeline and an outage.

This module processes only folders newer than the watermark: run folders
are named ``<prefix>_<YYYYMMDD_HHMMSS>`` (`notebool-02.py:242, 249`), so
the folder NAME carries the run time — selecting new work is a cheap
driver-side listing, not a data scan. Combined with
``WatermarkStore``, each transform run reads only its delta, and the
read starts no Spark job of its own: Spark's file index lists the
folders on the driver too.

(The streaming-tier equivalent is the file source's own checkpointed
discovery; this is the batch form.)
"""

from __future__ import annotations

import datetime as dt
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import scoped_conf

LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
RUN_TS_PATTERN = re.compile(r"_(\d{8}_\d{6})$")
RUN_TS_FORMAT = "%Y%m%d_%H%M%S"


def parse_run_ts(folder_name: str) -> dt.datetime | None:
    """``media/gskhw4w4lm_20240101_020000`` -> 2024-01-01 02:00:00."""
    m = RUN_TS_PATTERN.search(folder_name.rstrip("/"))
    if not m:
        return None
    try:
        return dt.datetime.strptime(m.group(1), RUN_TS_FORMAT)
    except ValueError:
        return None


def list_new_run_folders(base_path: str, since: dt.datetime) -> list[str]:
    """Run folders under ``base_path`` with run timestamp > ``since``.
    Listing only — no file contents touched. Folders without a parsable
    timestamp are skipped (never silently reprocessed)."""
    try:
        names = sorted(os.listdir(base_path))
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        full = os.path.join(base_path, name)
        if not os.path.isdir(full):
            continue
        ts = parse_run_ts(name)
        if ts is not None and ts > since:
            out.append(full)
    return out


def read_new_runs(
    spark: SparkSession,
    base_path: str,
    since: dt.datetime,
    schema: T.StructType,
) -> tuple[DataFrame, list[str], dt.datetime | None]:
    """(delta frame, folders read, max run ts) — the incremental JSON read.

    Returns an empty frame when nothing is new. Caller advances the
    watermark to ``max_ts`` AFTER a successful downstream write, so a
    failed run retries the same delta (at-least-once). Nothing merges
    the delta into earlier output: the silver sink
    (``sinks.write_parquet``) overwrites, so silver holds only the
    latest run's records (ROADMAP item 1).

    Past ``parallelPartitionDiscovery.threshold`` paths (default 32; a
    day lands 100) Spark's file index lists them in a Spark job, which
    costs more than the driver listing at every size measured (4,000
    folders: 14.3 s against 0.6 s at local[4]). The threshold is raised
    to the folder count for the reader call only; the index is built
    before ``.json()`` returns.
    """
    folders = list_new_run_folders(base_path, since)
    if not folders:
        return spark.createDataFrame([], schema), [], None
    with scoped_conf(spark, {LISTING_THRESHOLD: len(folders)}):
        df = spark.read.schema(schema).option("multiLine", "true").json(folders)
    max_ts = max(t for t in (parse_run_ts(f) for f in folders) if t is not None)
    return df, folders, max_ts
