"""Streaming jobs over the event schema (SURVEY.md §2.9).

Each job is a pure ``streaming DataFrame -> streaming DataFrame``
transform so the same logic binds to any source (file, Kafka, rate) and
any sink. Tests drive them with a file source + memory sink via
:func:`run_to_memory_sink` (synchronous ``processAllAvailable``).

Watermark semantics: the reference tolerates 7 days of late data via its
`since` lookback (`wistia-Databricks notebool-02.py:149-150, 202`); the
streaming tier expresses the same tolerance as an event-time watermark,
which ALSO bounds state size — at 100 TB/day of events, unbounded
watermarks mean unbounded state stores.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..session import scoped_conf


def windowed_engagement(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "7 days",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
    play_filter: tuple[str, str] | None = ("event_type", "view"),
) -> DataFrame:
    """Streaming analog of the fact build (`notebool-03.py:225-234`):
    tumbling event-time window x keys, count/sum/avg aggregates.

    Late data beyond ``watermark`` is dropped AND the window state is
    garbage-collected past it. Output mode append: a window emits once,
    when the watermark passes its end — the streaming equivalent of the
    reference's "daily run covers yesterday".
    """
    df = events
    if play_filter is not None:
        col, val = play_filter
        df = df.filter(F.col(col) == val)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("play_count"),
            F.round(F.sum(F.coalesce(F.col(value_col), F.lit(0.0))), 2).alias(
                "total_watch_time_seconds"
            ),
            # DECIMAL(18,6) snap before rounding (engine convention for
            # avg of fixed-decimal inputs — see CLAUDE.md)
            F.round(
                F.avg(F.coalesce(F.col(value_col), F.lit(0.0))).cast("decimal(18,6)"),
                2,
            )
            .cast("double")
            .alias("avg_percent_watched"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.to_date("w.start").alias("date"),
            *key_cols,
            "play_count",
            "total_watch_time_seconds",
            "avg_percent_watched",
        )
    )


def sliding_window_traffic(
    events: DataFrame,
    window_duration: str = "2 days",
    slide: str = "1 day",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding event-time windows (the third window shape, next to
    tumbling and session): each event lands in ``duration/slide``
    overlapping windows, giving smoothed traffic aggregates per type.
    Append mode emits a window once its end passes the watermark —
    same closed-window contract the tumbling job proves, so the result
    is deterministic and SQL-mirrorable (each event unnests into its
    window starts)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window_duration, slide).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.to_date("w.start").alias("window_start"),
            F.to_date("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the dynamic-gap
    analog of the batch ``temporal.sessionize`` operator (§2.9 surface):
    per key, events closer than ``gap`` merge into one session
    ``[first_ts, last_ts + gap)``; a session is emitted exactly once,
    when the watermark passes its end.

    State per key is one open session (merged in place by the session
    state store), so memory is bounded by |active keys|, not event
    volume — with the watermark garbage-collecting closed sessions this
    holds at any scale. Session bounds are reported as epoch MICROS
    (integer) per the engine's timestamp-parity convention.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col(value_col), F.lit(0.0))), 2).alias(
                "total_value"
            ),
        )
        .select(
            *key_cols,
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def stream_stream_window_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join — the streaming twin of
    ``temporal.preceding_window_join`` (same pairing semantics:
    right rows in ``[left.ts - window, left.ts)`` per equi-key).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so each side's buffered state expires once the other
    side's watermark passes — REQUIRED: an unbounded stream-stream join
    buffers forever. Equality with the batch operator on a replayed
    history is asserted in tests.

    ``how`` extends to the outer modes (``leftOuter`` / ``rightOuter``
    / ``fullOuter``): an outer row emits with nulls only once the
    OTHER side's watermark has passed its whole match window — i.e. the
    engine can prove no future match exists — so rows inside the final
    watermark horizon at end-of-stream are withheld, exactly the
    late-data contract the windowed aggregations follow.  Matched pairs
    are emitted identically to the inner join (pytested).
    """
    if not on:
        raise ValueError("stream-stream join requires at least one equi-key")
    allowed = {"inner", "leftOuter", "rightOuter", "fullOuter"}
    if how not in allowed:
        raise ValueError(f"how must be one of {sorted(allowed)}")
    l = left.withWatermark(left_ts, watermark).alias("__l")
    r = right.withWatermark(right_ts, watermark).alias("__r")
    l_ts, r_ts = F.col(f"__l.{left_ts}"), F.col(f"__r.{right_ts}")
    cond = (r_ts >= l_ts - F.expr(f"INTERVAL {window}")) & (r_ts < l_ts)
    for k in on:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    return l.join(r, cond, how)


def foreach_batch_parquet_upsert(
    target_path: str,
    key_cols: Sequence[str],
    partition_col: str,
    order_by: Sequence[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """ForeachBatch MERGE into a partitioned parquet target — the shipped
    distributed upsert body (the reference's keyed gold load,
    `wistia-Azure-Data-Factory-ETL-Pipeline.json:117-120`, minus the
    external copy tool). Per micro-batch:

    1. keep ONE deterministic row per key within the batch
       (``dedup_keep_first`` under ``order_by``);
    2. read only the target partitions the batch touches;
    3. anti-join out target rows whose key reappears in the batch;
    4. rewrite exactly those partitions via dynamic partition overwrite.

    No data row moves through the driver — only the small set of touched
    ``partition_col`` values is collected; work per batch is proportional
    to the touched partitions, never the table. Replaying a failed epoch
    is idempotent: per-key overwrite converges to the same state.

    Constraint: ``partition_col`` must be contained in (or functionally
    determined by) ``key_cols`` — a key whose partition value changed
    across batches would strand its old row in the previous partition.
    """
    if partition_col not in key_cols:
        raise ValueError(
            f"partition_col {partition_col!r} must be one of key_cols "
            f"{list(key_cols)} (a migrating key would strand stale rows)"
        )

    from ..operators.quality import dedup_keep_first

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        latest = dedup_keep_first(batch, key_cols, order_by=order_by)
        parts = [r[0] for r in latest.select(partition_col).distinct().collect()]
        try:
            existing = spark.read.parquet(target_path).filter(
                F.col(partition_col).isin(parts)
            )
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            existing = None
        out = latest if existing is None else latest.unionByName(
            existing.join(
                F.broadcast(latest.select(*key_cols)), on=list(key_cols), how="left_anti"
            )
        )
        with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
            out.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)

    return apply


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    state_partitions: int | None = 8,
) -> list[dict]:
    """Drive a streaming frame to completion against the memory sink
    (test/demo helper): processAllAvailable() then stop. Results land in
    ``SELECT * FROM <query_name>``; returns the query's recentProgress
    dicts (captured before stop) so callers can assert on state-store
    metrics — e.g. that the configured provider actually ran.

    ``state_partitions`` bounds ``spark.sql.shuffle.partitions`` for
    the streaming query only (restored after stop): every stateful
    task pays a fixed state-store open/commit constant per microbatch,
    so at the bounded volumes this helper drives, 32 partitions means
    32 near-empty state stores PER stateful operator — measured 2.6x
    total wall on the stream-stream join entry (10.6 s -> 4.0 s at 8).
    Production jobs should instead size the setting to state-key
    cardinality; pass ``None`` to leave the session setting untouched.
    The setting is captured when the query STARTS and persists through
    its checkpoint lineage, which is why it is applied around
    ``start()`` rather than per-batch."""
    conf = {}
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = state_partitions
    with scoped_conf(stream_df.sparkSession, conf):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p is not None]
        finally:
            q.stop()
    return progress
