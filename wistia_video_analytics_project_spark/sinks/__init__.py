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


def compact_parquet(
    spark,
    path: str,
    target_partitions: int,
    sort_by: Sequence[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_partitions`` files (optionally clustered by ``sort_by``).

    The small-files problem is THE silent killer of long-lived streaming
    /incremental tables: a micro-batch-per-minute sink produces ~500k
    files/year, and open/seek overhead starts to dominate scans.
    Rewrites into a staging dir first, then swaps via filesystem rename.
    The delete→rename window is NOT transactional — on a production
    lake this job runs under a table format (Delta/Iceberg) or a
    partition-level lock; here it is the single-writer maintenance op.
    Returns the number of data files after compaction.
    """
    df = spark.read.parquet(path)
    out = df.repartition(target_partitions)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    staged = path.rstrip("/") + "__compact_staged"
    out.write.mode("overwrite").parquet(staged)

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(path).getFileSystem(hconf)
    if not fs.delete(HPath(path), True):
        raise IOError(f"compact_parquet: failed to remove {path}")
    if not fs.rename(HPath(staged), HPath(path)):
        raise IOError(
            f"compact_parquet: rename {staged} -> {path} failed; "
            f"data is intact in {staged}"
        )
    n = 0
    for status in fs.listStatus(HPath(path)):
        name = status.getPath().getName()
        if name.startswith("part-"):
            n += 1
    return n


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    delimiter: str = ",",
) -> None:
    """CSV sink — interchange/export only (no column pruning, no
    predicate pushdown, no types on re-read without a declared schema);
    silver+ storage stays parquet."""
    (
        df.write.mode(mode)
        .option("header", "true" if header else "false")
        .option("delimiter", delimiter)
        .csv(path)
    )


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


# ---------------------------------------------------------------------------
# Versioned, manifest-committed snapshot publishing
# ---------------------------------------------------------------------------

_MANIFEST = "_MANIFEST.json"


def publish_snapshot(
    df: DataFrame,
    base_path: str,
    version: int,
    zone_cols: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Publish ``df`` as ``{base_path}/v={version:06d}/`` with a manifest
    commit marker — the object-store-safe publishing protocol a 100 TB
    gold layer needs:

    - data lands first; ``_MANIFEST.json`` is written ONLY after the
      write action succeeds, so readers treat a version directory
      without a manifest as uncommitted garbage (a torn job can never
      surface a half-written snapshot);
    - the manifest carries row count, the full schema, and per-column
      min/max "zone" stats for ``zone_cols`` — ALL captured via
      ``observe`` during the single write pass (no second scan of the
      data to describe it);
    - version resolution scans manifests, not directories, so cleanup
      of failed attempts is optional, not correctness-critical.

    On a real object store the latest-pointer update should be a
    conditional put; on a filesystem the manifest scan in
    :func:`latest_snapshot_version` makes a pointer unnecessary.

    Returns the manifest dict.
    """
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    vdir = os.path.join(base_path, f"v={int(version):06d}")
    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in zone_cols or []:
        metrics.append(F.min(c).alias(f"min__{c}"))
        metrics.append(F.max(c).alias(f"max__{c}"))
    obs = Observation(f"publish_v{version}")
    observed_df = df.observe(obs, *metrics)
    w = observed_df.write.mode("error")  # a version is immutable
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(vdir)
    got = obs.get
    manifest = {
        "version": int(version),
        "rows": int(got["rows"]),
        "schema": json.loads(df.schema.json()),
        "zone_stats": {
            c: {"min": _json_safe(got[f"min__{c}"]),
                "max": _json_safe(got[f"max__{c}"])}
            for c in zone_cols or []
        },
        "partition_by": list(partition_by or []),
    }
    tmp = os.path.join(vdir, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, default=str)
    os.replace(tmp, os.path.join(vdir, _MANIFEST))  # atomic commit
    return manifest


def _json_safe(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
        return str(v)
    return v


def snapshot_versions(base_path: str) -> list[int]:
    """COMMITTED versions under ``base_path`` (manifest present),
    ascending. Directories without a manifest are uncommitted attempts
    and are ignored."""
    import os
    import re

    out = []
    if not os.path.isdir(base_path):
        return out
    for name in os.listdir(base_path):
        # {:06d} pads but never truncates — accept 7+ digit versions too
        m = re.fullmatch(r"v=(\d{6,})", name)
        if m and os.path.exists(os.path.join(base_path, name, _MANIFEST)):
            out.append(int(m.group(1)))
    return sorted(out)


def read_snapshot(
    spark,
    base_path: str,
    version: int | None = None,
    verify: bool = False,
):
    """Read a published snapshot (default: latest committed version).

    ``verify=True`` recounts the data and raises on divergence from the
    manifest — the cheap read-side integrity check (count-only second
    pass; zone stats are trusted, they only widen pruning).
    """
    import json
    import os

    versions = snapshot_versions(base_path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot under {base_path}")
    v = int(version) if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not committed under {base_path}")
    vdir = os.path.join(base_path, f"v={v:06d}")
    with open(os.path.join(vdir, _MANIFEST)) as fh:
        manifest = json.load(fh)
    df = spark.read.parquet(vdir)
    if verify:
        n = df.count()
        if n != manifest["rows"]:
            raise ValueError(
                f"snapshot v{v} row count {n} != manifest {manifest['rows']}"
            )
    return df


def publish_next_snapshot(
    df: DataFrame,
    base_path: str,
    zone_cols: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Publish under the next free version number: max committed + 1
    (1 for an empty base). Versions are immutable, so a crashed attempt
    at N leaves an uncommitted dir — the next call retries N+0 only if
    N never committed; otherwise it moves on. Single-writer contract
    (one publisher per base path), same as any directory-versioned
    store without a coordination service."""
    versions = snapshot_versions(base_path)
    v = (versions[-1] + 1) if versions else 1
    import os

    while os.path.isdir(os.path.join(base_path, f"v={v:06d}")):
        v += 1  # skip uncommitted wreckage from torn attempts
    return publish_snapshot(
        df, base_path, v, zone_cols=zone_cols, partition_by=partition_by
    )
