"""SparkSession construction with scale-aware defaults.

The reference runs on a tiny Databricks cluster (PDF guide p.3: 1-2 x
Standard_DS3_v2, Spark 3.4.1) and sets no Spark configuration at all. Our
engine pins the configuration that matters for correctness (UTC session
timezone — ``from_unixtime``/``to_date`` are session-zone dependent,
SURVEY.md §7.3) and for scale (AQE, shuffle partition sizing, Arrow).

Two entry points:

- :func:`get_spark` — build a session (local dev / tests).
- :func:`configure_runtime` — apply the runtime-settable subset to an
  EXISTING session (the verify driver hands us its own session; runtime
  confs like ``spark.sql.session.timeZone`` are safe to set post-hoc).

:func:`scoped_conf` sets runtime confs for one block only.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24g, capped at half of physical memory so the heap cannot grow past
    the machine on a smaller or shared box."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


# Confs that can only be set at session build time.
_BUILD_TIME_CONF = {
    # Arrow for any pandas interchange / Pandas UDFs (extensions tier).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-schema pruning so `events[].type`-style struct access prunes
    # unread struct fields at the parquet scan (SURVEY.md §4.2).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Local mode runs everything in the driver JVM: the 1g default heap
    # starves 32 executor threads into constant GC/spill (observed:
    # GCLocker allocation stalls in wide aggregations). On a cluster this
    # knob is per-executor and set by the deployment, not here.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
}

# Runtime-settable confs — safe on a session we did not build.
_RUNTIME_CONF = {
    # Oracle parity: DuckDB timestamps are UTC-naive (SURVEY.md §7.3).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # On a 1000-executor cluster this is the main defense against both
    # over-partitioned small shuffles and hot-key skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def default_parallelism() -> int:
    """Shuffle-partition default: match local cores (the driver exports
    SPARK_GRAFT_CPUS); at cluster scale this would be ~2-3x total cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def configure_runtime(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


# Serializes scoped_conf blocks: the runtime conf is session-wide, so two
# threads scoping one key at once (concurrent pipeline stages) could
# restore in the wrong order and leave it changed.
_SCOPED_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str | int | bool]) -> Iterator[None]:
    """Set runtime ``conf`` for the body of a ``with`` block, then restore
    each key's prior value, also when the body raises.

    The conf is session-wide: during the block the value is visible to
    every job the session runs, from any thread. Blocks are serialized
    across threads (one re-entrant lock), so do not wait in the body on
    another thread that enters ``scoped_conf``."""
    with _SCOPED_CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def get_spark(
    app_name: str = "wistia-video-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` with N = SPARK_GRAFT_CPUS when no
    cluster master is configured (tests / local bench). On a real cluster,
    pass ``master=None`` with a cluster master configured externally.
    """
    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cores}]"
    if master:
        builder = builder.master(master)
    for k, v in _BUILD_TIME_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cores)
    )
    # local mode: one JVM; driver memory is the only knob. Keep modest so
    # tests coexist; bench overrides via extra_conf.
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_runtime(spark, shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")
    return spark
