"""Sources (REST ingester, watermark, parquet reader) and the parquet sink."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException

from wistia_video_analytics_project_spark import schemas, sinks
from wistia_video_analytics_project_spark.sources import load_table
from wistia_video_analytics_project_spark.sources.rest import RestIngester
from wistia_video_analytics_project_spark.sources.watermark import WatermarkStore

from conftest import SF_SMOKE


def make_fake_transport(pages, fail_statuses=()):
    """pages: list of payloads per page (1-indexed). fail_statuses: queue
    of statuses to emit before succeeding."""
    calls = []
    queue = list(fail_statuses)

    def transport(url, params):
        calls.append((url, dict(params)))
        if queue:
            return queue.pop(0), None
        page = params.get("page", 1)
        if page <= len(pages):
            return 200, pages[page - 1]
        return 200, []

    transport.calls = calls
    return transport


def test_rest_pagination_stops_on_short_page():
    pages = [[{"visitor_key": f"v{i}", "country": "US"} for i in range(3)], []]
    ing = RestIngester("http://x", transport=make_fake_transport(pages), per_page=3)
    got = list(ing.fetch_pages("visitors"))
    assert len(got) == 3
    # short/empty page 2 ends pagination: exactly 2 calls
    assert len(ing.transport.calls) == 2

    # every page full: the max_pages cap ends it (notebool-02.py:148,165-167)
    full = [[{"visitor_key": f"p{p}v{i}", "country": "US"} for i in range(2)]
            for p in range(5)]
    capped = RestIngester(
        "http://x", transport=make_fake_transport(full), per_page=2, max_pages=3
    )
    assert len(list(capped.fetch_pages("visitors"))) == 6
    assert [c[1]["page"] for c in capped.transport.calls] == [1, 2, 3]


def test_rest_429_backoff_then_success():
    sleeps = []
    pages = [[{"visitor_key": "v", "country": "US"}]]
    ing = RestIngester(
        "http://x",
        transport=make_fake_transport(pages, fail_statuses=[429, 429]),
        backoff_base_s=5.0,
        sleeper=sleeps.append,
    )
    got = list(ing.fetch_pages("visitors"))
    assert len(got) == 1
    assert sleeps == [5.0, 10.0]  # 2^0*5, 2^1*5  (notebool-02.py:113-114)


def test_rest_429_exhausts_retries_then_raises():
    sleeps = []
    tr = make_fake_transport([], fail_statuses=[429] * 10)
    ing = RestIngester(
        "http://x", transport=tr, backoff_base_s=5.0, sleeper=sleeps.append
    )
    with pytest.raises(IOError, match="status 429"):
        ing.fetch_one("media/m1")
    assert len(tr.calls) == ing.max_retries + 1
    assert sleeps == [5.0, 10.0, 20.0]


def test_rest_404_returns_none_and_500_raises():
    ing = RestIngester("http://x", transport=make_fake_transport([], [404]))
    assert ing.fetch_one("media/gone") is None
    ing2 = RestIngester("http://x", transport=make_fake_transport([], [500]))
    with pytest.raises(IOError, match="status 500"):
        ing2.fetch_one("media/broken")


def test_rest_since_param_passed():
    tr = make_fake_transport([[]])
    ing = RestIngester("http://x", transport=tr)
    list(ing.fetch_pages("visitors", since="2024-01-01T00:00:00"))
    assert tr.calls[0][1]["since"] == "2024-01-01T00:00:00"


def test_watermark_roundtrip_and_default(tmp_path):
    store = WatermarkStore(str(tmp_path / "meta" / "last_run.json"))
    now = dt.datetime(2024, 6, 1)
    assert store.read(now=now) == now - dt.timedelta(days=7)
    store.write(dt.datetime(2024, 5, 31, 2, 0))
    assert store.read() == dt.datetime(2024, 5, 31, 2, 0)
    # corrupt file falls back to lookback
    with open(store.path, "w") as f:
        f.write("{broken")
    assert store.read(now=now) == now - dt.timedelta(days=7)


def test_parquet_sink_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "2024-01-01"), ("b", "2024-01-02")], "k string, date string"
    )
    out = str(tmp_path / "fact")
    sinks.write_parquet(df, out, partition_by=["date"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("date=")
    ) == ["date=2024-01-01", "date=2024-01-02"]
    back = spark.read.parquet(out)
    assert back.count() == 2


def test_gold_fact_decimal_boundary(spark):
    """Gold DDL boundary: to_gold_fact gives DECIMAL(5,2)/INT columns,
    rounds half up, and clamps a >999.99 overflow row
    (`...ETL-Pipeline.json:437-450`)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from wistia_video_analytics_project_spark.operators import gold

    silver = spark.createDataFrame(
        [("m1", "v1", 1.3, 52.35, 123.6), ("m2", "v2", 5000.0, 12.0, 1.4)],
        "media_id string, visitor_id string, play_rate double, "
        "avg_percent_watched double, total_watch_time_seconds double",
    )
    out = gold.to_gold_fact(silver)
    by_name = {f.name: f.dataType for f in out.schema.fields}
    assert by_name["play_rate"] == T.DecimalType(5, 2)
    assert by_name["total_watch_time"] == T.IntegerType()
    rows = {r.media_id: r for r in out.collect()}
    assert rows["m1"].play_rate == Decimal("1.30")
    assert rows["m1"].total_watch_time == 124
    assert rows["m2"].play_rate == Decimal("999.99")  # clamped overflow


def test_urllib_transport_real_http():
    """Drive the default transport against a real in-process HTTP server:
    JSON 200, 404, and query-param passthrough."""
    import http.server
    import json as jsonlib
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path.startswith("/ok"):
                body = jsonlib.dumps({"got": self.path}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(404)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from wistia_video_analytics_project_spark.sources.rest import urllib_transport

        base = f"http://127.0.0.1:{srv.server_address[1]}"
        status, payload = urllib_transport(f"{base}/ok", {"page": 2, "since": "x"})
        assert status == 200
        assert "page=2" in payload["got"] and "since=x" in payload["got"]
        status404, payload404 = urllib_transport(f"{base}/missing", {})
        assert status404 == 404 and payload404 is None
    finally:
        srv.shutdown()


def test_load_table_declared_read_starts_no_job(spark):
    """Every testdata table loads with its declared schema without a
    footer-inference job, and equals an inferred read cast to that schema."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    for name, schema in schemas.TPCH.items():
        before = sched.nextJobId()
        got = load_table(spark, SF_SMOKE, name)
        assert sched.nextJobId() == before, name
        inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet")
        want = inferred.select(
            *(inferred[f.name].cast(f.dataType).alias(f.name) for f in schema.fields)
        )
        assert got.schema == want.schema, name
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), name
        assert got.count() == want.count(), name


def test_load_table_missing_path_raises(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "orders")
