"""Incremental run-folder source: watermark-driven delta reads."""

from __future__ import annotations

import datetime as dt
import json
import os

from wistia_video_analytics_project_spark import schemas
from wistia_video_analytics_project_spark.sources import incremental


def _write_run(base, name, records):
    d = os.path.join(base, name)
    os.makedirs(d)
    with open(os.path.join(d, "part-0.json"), "w") as f:
        json.dump(records, f)


def test_parse_run_ts():
    assert incremental.parse_run_ts("m1_20240101_020000") == dt.datetime(2024, 1, 1, 2)
    assert incremental.parse_run_ts("no-timestamp") is None
    assert incremental.parse_run_ts("bad_99999999_999999") is None


def test_list_new_run_folders(tmp_path):
    base = str(tmp_path / "media")
    for name in ["m1_20240101_020000", "m1_20240102_020000", "m1_20240103_020000",
                 "junk-folder"]:
        os.makedirs(os.path.join(base, name))
    got = incremental.list_new_run_folders(base, dt.datetime(2024, 1, 1, 12))
    assert [os.path.basename(p) for p in got] == [
        "m1_20240102_020000", "m1_20240103_020000"
    ]
    assert incremental.list_new_run_folders(str(tmp_path / "missing"), dt.datetime(2024, 1, 1)) == []


def test_read_new_runs_delta_only(spark, tmp_path):
    base = str(tmp_path / "media")
    _write_run(base, "m1_20240101_020000",
               [{"hashed_id": "old", "name": "Old", "created": 1}])
    _write_run(base, "m1_20240102_020000",
               [{"hashed_id": "new1", "name": "New 1", "created": 2}])
    _write_run(base, "m2_20240102_030000",
               [{"hashed_id": "new2", "name": "New 2", "created": 3}])

    df, folders, max_ts = incremental.read_new_runs(
        spark, base, dt.datetime(2024, 1, 1, 12), schemas.RAW_MEDIA
    )
    got = sorted(r.hashed_id for r in df.collect())
    assert got == ["new1", "new2"]  # the 0101 run is NOT re-read
    assert len(folders) == 2
    assert max_ts == dt.datetime(2024, 1, 2, 3)
    assert df.columns == [f.name for f in schemas.RAW_MEDIA.fields]


def test_read_new_runs_empty_delta(spark, tmp_path):
    base = str(tmp_path / "media")
    _write_run(base, "m1_20240101_020000", [{"hashed_id": "x", "name": "X", "created": 1}])
    df, folders, max_ts = incremental.read_new_runs(
        spark, base, dt.datetime(2024, 2, 1), schemas.RAW_MEDIA
    )
    assert df.count() == 0 and folders == [] and max_ts is None
    assert [f.name for f in df.schema.fields] == ["hashed_id", "name", "created"]


# ---------------------------------------------------------------------------
# mergeable exact state (operators/mergeable.py)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from wistia_video_analytics_project_spark.operators import mergeable  # noqa: E402
from wistia_video_analytics_project_spark.sources import load_table  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


def _report_rows(df):
    return [
        (r.day, r.n_events, r.total_value, r.n_users) for r in df.collect()
    ]


def test_merged_state_equals_full_recompute(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    merged = mergeable.merge_states(
        mergeable.daily_state(ev.filter(F.col("ts") < cutoff)),
        mergeable.daily_state(ev.filter(F.col("ts") >= cutoff)),
    )
    full = mergeable.daily_state(ev)
    assert _report_rows(mergeable.state_report(merged)) == _report_rows(
        mergeable.state_report(full)
    )


def test_merge_is_order_insensitive_and_associative(spark):
    """3-way split merged in different orders/groupings must agree —
    the property that makes late backfill batches safe to fold in."""
    ev = load_table(spark, SF_SMOKE, "events")
    c1 = F.lit("2024-01-10 00:00:00").cast("timestamp")
    c2 = F.lit("2024-01-20 00:00:00").cast("timestamp")
    a = mergeable.daily_state(ev.filter(F.col("ts") < c1))
    b = mergeable.daily_state(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2))
    )
    c = mergeable.daily_state(ev.filter(F.col("ts") >= c2))
    r1 = _report_rows(mergeable.state_report(mergeable.merge_states(a, b, c)))
    r2 = _report_rows(mergeable.state_report(mergeable.merge_states(c, a, b)))
    r3 = _report_rows(
        mergeable.state_report(
            mergeable.merge_states(mergeable.merge_states(c, b), a)
        )
    )
    assert r1 == r2 == r3


def test_distinct_users_exact_across_batch_boundary(spark):
    """A user active on the same day in BOTH batches must count once:
    bitmaps OR, they don't add."""
    rows_a = [("2024-01-01 10:00:00", 7, 1.0), ("2024-01-01 11:00:00", 8, 1.0)]
    rows_b = [("2024-01-01 12:00:00", 7, 1.0), ("2024-01-01 13:00:00", 9, 1.0)]
    mk = lambda rows: spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows], "ts string, user_id long, value double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id", "value")
    merged = mergeable.merge_states(
        mergeable.daily_state(mk(rows_a)), mergeable.daily_state(mk(rows_b))
    )
    [row] = mergeable.state_report(merged).collect()
    assert row.n_events == 4 and row.n_users == 3


def test_merge_states_requires_input():
    import pytest

    with pytest.raises(ValueError):
        mergeable.merge_states()
