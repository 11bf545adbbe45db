"""Streaming tier: windowed fact build, stream joins, foreachBatch merge.

File source (parquet written to tmp) -> memory/foreachBatch sink with
processAllAvailable() drives each job synchronously (pyspark_guide
pattern)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F, types as T

from wistia_video_analytics_project_spark.streaming import (
    run_to_memory_sink,
    windowed_engagement,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def run_foreach_batch(stream_df, fn) -> None:
    """Drive a streaming frame through a foreachBatch sink to completion."""
    q = stream_df.writeStream.outputMode("append").foreachBatch(fn).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def foreach_batch_upsert(target: dict[tuple, tuple], key_cols):
    """Dict-backed keyed upsert, a sink double for asserting stream
    contents. It collects every batch row to the driver; the shipped
    merge body is ``foreach_batch_parquet_upsert``."""

    def apply(batch, epoch_id: int) -> None:
        cols = batch.columns
        key_idx = [cols.index(k) for k in key_cols]
        for row in batch.collect():
            t = tuple(row)
            target[tuple(t[i] for i in key_idx)] = t

    return apply


@pytest.fixture()
def event_dir(spark, tmp_path):
    t = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (t, 1, "view", 10.0),
        (t + dt.timedelta(minutes=5), 1, "view", 30.0),
        (t + dt.timedelta(minutes=7), 1, "click", 99.0),  # filtered out
        (t + dt.timedelta(days=1), 1, "view", 20.0),
        (t + dt.timedelta(days=1, hours=1), 2, "view", 40.0),
    ]
    path = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(path)
    return path


def test_windowed_engagement(spark, event_dir):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(event_dir)
    # watermark must be short enough that day-2 events push it past the
    # end of the day-1 window, or append mode emits nothing
    agg = windowed_engagement(stream, window_duration="1 day", watermark="1 hour")
    run_to_memory_sink(agg, "win_out")
    rows = {
        (str(r.date), r.user_id): r
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    # append mode emits only windows the final watermark passed; day 1
    # closes once day-2 events advance the watermark beyond its end
    r = rows[("2024-01-01", 1)]
    assert r.play_count == 2  # clicks excluded
    assert r.total_watch_time_seconds == 40.0
    assert r.avg_percent_watched == 20.0
    assert ("2024-01-02", 1) not in rows  # still open at end of input


def test_foreach_batch_parquet_upsert_merges_and_replays(spark, tmp_path):
    """The shipped distributed merge sink: keyed upsert into partitioned
    parquet, update-in-place across batches, idempotent epoch replay —
    and no .collect() of data rows anywhere in the sink path."""
    from wistia_video_analytics_project_spark.streaming import (
        foreach_batch_parquet_upsert,
    )

    target = str(tmp_path / "merged")
    sink = foreach_batch_parquet_upsert(
        target, key_cols=["user_id", "date"], partition_col="date",
        order_by=["loaded_at"],
    )
    b1 = spark.createDataFrame(
        [(1, "2024-01-01", 10.0, 1), (2, "2024-01-01", 20.0, 1)],
        "user_id long, date string, total double, loaded_at long",
    )
    sink(b1, 0)
    # batch 2: updates user 1 on day 1, inserts day 2; day-1 partition for
    # user 2 must survive the rewrite
    b2 = spark.createDataFrame(
        [(1, "2024-01-01", 99.0, 2), (3, "2024-01-02", 30.0, 2)],
        "user_id long, date string, total double, loaded_at long",
    )
    sink(b2, 1)
    expect = {(1, "2024-01-01"): 99.0, (2, "2024-01-01"): 20.0, (3, "2024-01-02"): 30.0}
    # NB: partition-dir values read back type-inferred (string -> date)
    got = {
        (r.user_id, str(r.date)): r.total for r in spark.read.parquet(target).collect()
    }
    assert got == expect
    sink(b2, 1)  # epoch replay (crash after write, before commit)
    got2 = {
        (r.user_id, str(r.date)): r.total for r in spark.read.parquet(target).collect()
    }
    assert got2 == expect
    # within-batch duplicate keys: deterministic keep-first under order_by
    b3 = spark.createDataFrame(
        [(5, "2024-01-03", 1.0, 1), (5, "2024-01-03", 2.0, 2)],
        "user_id long, date string, total double, loaded_at long",
    )
    sink(b3, 2)
    assert {
        r.total for r in spark.read.parquet(target).filter("user_id = 5").collect()
    } == {1.0}


def test_foreach_batch_parquet_upsert_rejects_migrating_key(tmp_path):
    from wistia_video_analytics_project_spark.streaming import (
        foreach_batch_parquet_upsert,
    )

    with pytest.raises(ValueError, match="partition_col"):
        foreach_batch_parquet_upsert(str(tmp_path), key_cols=["user_id"], partition_col="date")


def test_foreach_batch_parquet_upsert_streaming_end_to_end(spark, tmp_path, event_dir):
    """Same sink driven by a real streaming query."""
    from wistia_video_analytics_project_spark.streaming import (
        foreach_batch_parquet_upsert,
    )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(event_dir)
    keyed = stream.filter(F.col("event_type") == "view").select(
        "user_id", F.to_date("ts").cast("string").alias("date"), "ts", "value"
    )
    target = str(tmp_path / "stream_merged")
    run_foreach_batch(
        keyed,
        foreach_batch_parquet_upsert(
            target, key_cols=["user_id", "date", "ts"], partition_col="date"
        ),
    )
    assert spark.read.parquet(target).count() == 4  # 4 distinct view events


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Checkpointed file-source stream: restart resumes from the
    checkpoint, so rows ingested before the stop are not re-emitted."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out: dict[tuple, tuple] = {}

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        q = (
            stream.select("user_id", "ts", "value")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(foreach_batch_upsert(out, key_cols=["user_id", "ts"]))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    t = dt.datetime(2024, 1, 1, 10, 0)
    spark.createDataFrame([(t, 1, "view", 1.0)], EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    assert len(out) == 1
    out.clear()  # wipe the sink double: a re-read would repopulate it
    spark.createDataFrame(
        [(t + dt.timedelta(minutes=1), 2, "view", 2.0)], EVENT_SCHEMA
    ).write.mode("append").parquet(str(src))
    run_once()
    # only the NEW row arrives after restart; the old one stays consumed
    assert list(out) == [(2, t + dt.timedelta(minutes=1))]


def test_native_session_window_streaming(spark, tmp_path):
    """session_window works on streams: events within the gap merge into
    one session; the closed session emits once the watermark passes."""
    t = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (t, 1, "view", 1.0),
        (t + dt.timedelta(minutes=10), 1, "view", 1.0),   # same session
        (t + dt.timedelta(hours=5), 1, "view", 1.0),      # far future: advances watermark
    ]
    path = str(tmp_path / "sess")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(path)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("sw.start").alias("start"), "user_id", "n_events")
    )
    run_to_memory_sink(agg, "sess_out")
    got = {(r.start, r.n_events) for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert got == {(t, 2)}  # merged 2-event session emitted; open one held back


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    """Replaying the sf0.001 event history through the watermarked
    stream-stream join must produce exactly the batch
    preceding_window_join pairs."""
    from wistia_video_analytics_project_spark.operators import temporal
    from wistia_video_analytics_project_spark.session import configure_runtime
    from wistia_video_analytics_project_spark.sources import load_table
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        stream_stream_window_join,
    )
    from pyspark.sql import functions as F

    configure_runtime(spark)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    stage = str(tmp_path / "ss_events")
    events.write.parquet(stage)
    schema = events.schema

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts"
        )
        v = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
        )
        return p, v

    sp, sv = split(spark.readStream.schema(schema).parquet(stage))
    joined = stream_stream_window_join(
        sp, sv, ["user_id"], "ts", "vts", window="1 hour", watermark="2 hours"
    ).select(
        F.col("__l.event_id").alias("purchase_id"), F.col("__r.view_id").alias("view_id")
    )
    run_to_memory_sink(joined, "ss_join_t")
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_join_t").collect()
    }

    bp, bv = split(events)
    batch = temporal.preceding_window_join(
        bp, bv.withColumnRenamed("vts", "ts"), ["user_id"], "ts", "ts", "1 hour"
    ).select(
        F.col("__l.event_id").alias("purchase_id"),
        F.col("__r.view_id").alias("view_id"),
    )
    want = {(r.purchase_id, r.view_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_session_window_stats_matches_batch_sessionize(spark, tmp_path):
    """The named streaming job agrees with the batch gaps-and-islands
    operator on every closed session (same gap, same cutoff rule)."""
    from wistia_video_analytics_project_spark.operators import temporal
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        session_window_stats,
    )

    t = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (t, 1, "view", 1.0),
        (t + dt.timedelta(minutes=10), 1, "view", 2.5),
        (t + dt.timedelta(minutes=50), 1, "view", 4.0),   # new session (40m gap)
        (t + dt.timedelta(minutes=12), 2, "view", 8.0),
        (t + dt.timedelta(hours=6), 1, "view", 0.5),      # advances watermark
    ]
    path = str(tmp_path / "sess_ev")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(path)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    run_to_memory_sink(session_window_stats(stream), "sess_stats_out")
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.total_value)
        for r in spark.sql("SELECT * FROM sess_stats_out").collect()
    }

    batch = temporal.sessionize(
        spark.createDataFrame(rows, EVENT_SCHEMA), "user_id", "ts"
    )
    gap_us = 30 * 60 * 1_000_000
    cutoff_us = max(int(r[0].timestamp() * 1e6) for r in rows) - 3_600_000_000
    want = set()
    for r in (
        batch.groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s"),
            (F.unix_micros(F.max("ts")) + F.lit(gap_us)).alias("e"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    ):
        if r.e <= cutoff_us:
            want.add((r.user_id, r.s, r.e, r.n, r.v))
    # user1 sessions 1+2 and user2's session are closed by the final
    # watermark (15:00); only the 16:00 event's session stays open
    assert got == want and len(got) == 3


def test_sliding_window_traffic_equals_batch(spark, tmp_path):
    """The streaming sliding-window aggregate over a bounded input must
    equal the batch recompute (explode each event into its two window
    starts), restricted to watermark-closed windows."""
    import datetime as dt

    from pyspark.sql import functions as F
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        sliding_window_traffic,
    )

    base = dt.datetime(2024, 1, 1, 6, 0, 0)
    rows = [
        (i, base + dt.timedelta(hours=7 * i), "view" if i % 2 else "click",
         float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    stage = str(tmp_path / "sliding_events")
    df.write.parquet(stage)
    stream = spark.readStream.schema(df.schema).parquet(stage)
    agg = sliding_window_traffic(
        stream, window_duration="2 days", slide="1 day", watermark="1 hour"
    )
    run_to_memory_sink(agg, "t_sliding")
    got = spark.sql("SELECT * FROM t_sliding")

    max_ts = df.agg(F.max("ts")).first()[0]
    batch = (
        df.select(
            "event_type",
            "value",
            F.explode(
                F.array(
                    F.date_trunc("day", "ts") - F.expr("INTERVAL 1 DAY"),
                    F.date_trunc("day", "ts"),
                )
            ).alias("ws"),
        )
        .groupBy("ws", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias(
                "total_value"
            ),
        )
        .filter(
            F.col("ws") + F.expr("INTERVAL 2 DAY")
            <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
        )
        .select(
            F.to_date("ws").alias("window_start"),
            F.to_date(F.col("ws") + F.expr("INTERVAL 2 DAY")).alias(
                "window_end"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert got.count() > 0


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """leftOuter mode: matched pairs equal the inner join exactly, and
    purchases with no preceding view emit once with a NULL view id —
    but only those whose match window the final watermark has provably
    closed (rows inside the horizon are withheld, the standard
    late-data contract)."""
    from wistia_video_analytics_project_spark.session import configure_runtime
    from wistia_video_analytics_project_spark.sources import load_table
    from wistia_video_analytics_project_spark.streaming import (
        run_to_memory_sink,
        stream_stream_window_join,
    )
    from pyspark.sql import functions as F

    configure_runtime(spark)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    stage = str(tmp_path / "sslo_events")
    events.write.parquet(stage)
    schema = events.schema

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"), "ts"
        )
        v = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("vts"),
        )
        return p, v.withColumnRenamed("v_user", "user_id")

    sp, sv = split(spark.readStream.schema(schema).parquet(stage))
    joined = stream_stream_window_join(
        sp, sv, ["user_id"], "ts", "vts",
        window="1 hour", watermark="2 hours", how="leftOuter",
    ).select(
        F.col("__l.purchase_id").alias("purchase_id"),
        F.col("__l.ts").alias("pts"),
        F.col("__r.view_id").alias("view_id"),
    )
    run_to_memory_sink(joined, "sslo_t")
    rows = spark.sql("SELECT * FROM sslo_t").collect()
    got_pairs = {
        (r.purchase_id, r.view_id) for r in rows if r.view_id is not None
    }
    got_nulls = {r.purchase_id for r in rows if r.view_id is None}

    bp, bv = split(events)
    batch = bp.alias("__l").join(
        bv.alias("__r"),
        (F.col("__r.user_id") == F.col("__l.user_id"))
        & (F.col("__r.vts") >= F.col("__l.ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("__r.vts") < F.col("__l.ts")),
        "inner",
    ).select("__l.purchase_id", "__r.view_id")
    want_pairs = {(r.purchase_id, r.view_id) for r in batch.collect()}
    assert got_pairs == want_pairs and len(want_pairs) > 0

    unmatched = {
        r.purchase_id
        for r in bp.join(
            batch.select("purchase_id").distinct(), "purchase_id", "left_anti"
        ).collect()
    }
    # every null emission is a genuinely unmatched purchase
    assert got_nulls <= unmatched
    # every unmatched purchase safely below the final watermark horizon
    # (max ts - 2h watermark, minus the 1h window margin) DID emit
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=3)
    safe = {
        r.purchase_id
        for r in bp.filter(F.col("ts") < F.lit(horizon)).join(
            batch.select("purchase_id").distinct(), "purchase_id", "left_anti"
        ).collect()
    }
    assert safe <= got_nulls and len(safe) > 0


def test_stream_stream_join_rejects_unknown_mode(spark):
    from wistia_video_analytics_project_spark.streaming import (
        stream_stream_window_join,
    )

    df = spark.range(1).select(
        "id", F.current_timestamp().alias("ts")
    )
    with pytest.raises(ValueError, match="how"):
        stream_stream_window_join(df, df, ["id"], "ts", "ts", how="cross")


def test_complete_mode_totals_match_batch(spark):
    """Shape nine: the throttled multi-microbatch complete-mode totals
    must equal the one-shot batch aggregate exactly (integer cents)."""
    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in entrymod.queries()["streaming_running_totals_complete"](
            spark, SF_SMOKE
        ).collect()
    }
    events = entrymod._t(spark, SF_SMOKE, "events")
    cents = F.floor(
        F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)
    ).cast("long")
    ref = {
        r.event_type: (r.n, round(r.c / 100.0, 2))
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
        .collect()
    }
    assert got == ref


def test_split_event_streams_disjoint_and_covering(spark):
    """The parity split behind the union shape partitions the fact."""
    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    a, b, _tag = entrymod._staged_event_stream_split(spark, SF_SMOKE)
    # read the staged dirs back as batch frames via their plans' paths
    events = entrymod._t(spark, SF_SMOKE, "events")
    total = events.count()
    import glob
    import os
    import tempfile

    dirs = sorted(
        glob.glob(
            os.path.join(
                tempfile.gettempdir(), f"stream_events_p*_{_tag}_{os.getpid()}"
            )
        )
    )
    assert len(dirs) == 2
    da = spark.read.parquet(dirs[0])
    db = spark.read.parquet(dirs[1])
    assert da.count() + db.count() == total
    # disjoint on user parity
    assert da.filter(F.pmod("user_id", F.lit(2)) == 1).count() == 0
    assert db.filter(F.pmod("user_id", F.lit(2)) == 0).count() == 0
