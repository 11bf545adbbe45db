"""Sources (REST ingester, watermark) and sinks (parquet, CSV, JDBC)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from wistia_video_analytics_project_spark import sinks
from wistia_video_analytics_project_spark.sources.rest import (
    RestIngester,
    fetch_distributed,
)
from wistia_video_analytics_project_spark.sources.watermark import WatermarkStore

SCHEMA = T.StructType(
    [
        T.StructField("visitor_key", T.StringType()),
        T.StructField("country", T.StringType()),
    ]
)


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


def test_resolve_config_chain(spark):
    """Explicit → env → Spark conf → hard error (the reference's
    secret-scope bootstrap chain, notebool-02.py:54-82)."""
    from wistia_video_analytics_project_spark.sources.rest import resolve_config

    # 1. explicit wins over everything
    assert (
        resolve_config(
            "wistia.api.token", explicit="tok-x", env={"WISTIA_API_TOKEN": "tok-env"}
        )
        == "tok-x"
    )
    # 2. env fallback (key upper-cased, dots -> underscores)
    assert (
        resolve_config("wistia.api.token", env={"WISTIA_API_TOKEN": "tok-env"})
        == "tok-env"
    )
    # 3. Spark conf fallback
    spark.conf.set("wistia.api.token", "tok-conf")
    try:
        assert resolve_config("wistia.api.token", spark=spark, env={}) == "tok-conf"
    finally:
        spark.conf.unset("wistia.api.token")
    # 4. hard error naming the probed locations
    with pytest.raises(KeyError, match="WISTIA_API_TOKEN"):
        resolve_config("wistia.api.token", spark=spark, env={})


def test_rest_from_conf_sends_token_on_every_request():
    from wistia_video_analytics_project_spark.sources.rest import RestIngester

    tr = make_fake_transport([[{"visitor_key": "v", "country": "US"}]])
    ing = RestIngester.from_conf(
        env={"WISTIA_API_URL": "http://x", "WISTIA_API_TOKEN": "sek"},
        transport=tr,
    )
    assert ing.base_url == "http://x"
    list(ing.fetch_pages("visitors"))
    ing.fetch_one("media/m1")
    assert all(c[1]["api_password"] == "sek" for c in tr.calls)
    # per-call params override the default slot if a caller insists
    ing.fetch_one("media/m2", {"api_password": "other"})
    assert tr.calls[-1][1]["api_password"] == "other"


def test_rest_fetch_rows_dataframe(spark):
    pages = [[{"visitor_key": "v1", "country": "US", "extra": "ignored"}]]
    ing = RestIngester("http://x", transport=make_fake_transport(pages))
    df = ing.fetch_rows(spark, "visitors", SCHEMA)
    assert df.collect()[0].visitor_key == "v1"
    assert df.columns == ["visitor_key", "country"]


def test_fetch_distributed(spark):
    def make():
        pages = [[{"visitor_key": "a", "country": "US"},
                  {"visitor_key": "b", "country": "DE"}]]
        return RestIngester("http://x", transport=make_fake_transport(pages))

    df = fetch_distributed(spark, make, ["visitors/m1", "visitors/m2"], SCHEMA)
    rows = df.collect()
    assert len(rows) == 4  # 2 paths x 2 records
    assert {r.country for r in rows} == {"US", "DE"}


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


def test_jdbc_truncate_load_roundtrip(spark):
    """S8 gold load against Spark's bundled Derby: write, overwrite with
    truncate semantics (idempotent rerun), read back."""
    url = "jdbc:derby:memory:goldtest;create=true"
    df1 = spark.createDataFrame(
        [("m1", 5), ("m2", 7)], "media_id string, plays int"
    )
    sinks.jdbc_truncate_load(df1, url, "stg_fact", num_partitions=2)
    df2 = spark.createDataFrame([("m3", 9)], "media_id string, plays int")
    sinks.jdbc_truncate_load(df2, url, "stg_fact", num_partitions=2)  # rerun
    back = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:goldtest")
        .option("dbtable", "stg_fact")
        .load()
    )
    assert [(r.media_id, r.plays) for r in back.collect()] == [("m3", 9)]


def test_jdbc_gold_decimal_boundary(spark):
    """S8 + gold DDL boundary: to_gold_fact types survive the JDBC write —
    Derby stores and returns DECIMAL(5,2)/INT, including a clamped
    >999.99 overflow row (`...ETL-Pipeline.json:437-450`)."""
    from decimal import Decimal

    from wistia_video_analytics_project_spark.operators import gold

    url = "jdbc:derby:memory:golddec;create=true"
    silver = spark.createDataFrame(
        [("m1", "v1", 1.3, 52.35, 123.6), ("m2", "v2", 5000.0, 12.0, 1.4)],
        "media_id string, visitor_id string, play_rate double, "
        "avg_percent_watched double, total_watch_time_seconds double",
    )
    sinks.jdbc_truncate_load(gold.to_gold_fact(silver), url, "gold_fact", num_partitions=1)
    back = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:golddec")
        .option("dbtable", "gold_fact")
        .load()
    )
    by_name = {f.name: f.dataType for f in back.schema.fields}
    from pyspark.sql import types as T

    assert by_name["play_rate"] == T.DecimalType(5, 2)
    assert by_name["total_watch_time"] == T.IntegerType()
    rows = {r.media_id: r for r in back.collect()}
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


def test_csv_roundtrip_with_schema(spark, tmp_path):
    from pyspark.sql import types as T

    from wistia_video_analytics_project_spark.sinks import write_csv
    from wistia_video_analytics_project_spark.sources import read_csv

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b,with,commas", -2.0)], schema)
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = read_csv(spark, path, schema)
    assert back.schema == schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_csv_failfast_on_malformed(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from wistia_video_analytics_project_spark.sources import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,score\n1,2.5\nnot_a_number,oops\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("score", T.DoubleType())]
    )
    with pytest.raises(Exception):
        read_csv(spark, str(p), schema).collect()


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark.sinks import compact_parquet

    path = str(tmp_path / "many_files")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*")) == 64

    n_files = compact_parquet(spark, path, target_partitions=4, sort_by=["id"])
    assert n_files == 4
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10_000))


def _page_server(records_by_path, per_page=2, since_filter=None):
    """In-process HTTP server paginating `records_by_path` like the
    reference API: ?page=N&per_page=M (+optional since= filtering)."""
    import http.server
    import json as jsonlib
    import threading
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        seen_params = []

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            qs = dict(urllib.parse.parse_qsl(parsed.query))
            Handler.seen_params.append(qs)
            key = parsed.path.lstrip("/")
            if key not in records_by_path:
                self.send_error(404)
                return
            recs = records_by_path[key]
            if since_filter and "since" in qs:
                recs = [r for r in recs if r[since_filter] >= qs["since"]]
            page = int(qs.get("page", "1"))
            pp = int(qs.get("per_page", str(per_page)))
            chunk = recs[(page - 1) * pp : page * pp]
            body = jsonlib.dumps(chunk).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, Handler


def test_rest_datasource_end_to_end(spark):
    """spark.read.format('rest_api'): executor-side paginated fetch of
    two resource paths, plus since-filter pushdown into the request."""
    from wistia_video_analytics_project_spark.sources.pyds import RestDataSource

    data = {
        "medias/m1/stats": [
            {"id": i, "name": f"a{i}", "created": f"2024-01-{i+1:02d}"}
            for i in range(5)
        ],
        "medias/m2/stats": [
            {"id": 100 + i, "name": f"b{i}", "created": f"2024-02-{i+1:02d}"}
            for i in range(3)
        ],
    }
    srv, handler = _page_server(data, since_filter="created")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(RestDataSource)
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        reader = (
            spark.read.format("rest_api")
            .schema("id long, name string, created string")
            .option("base_url", base)
            .option("paths", "medias/m1/stats,medias/m2/stats")
            .option("per_page", "2")
            .option("since_col", "created")
        )
        all_rows = reader.load().collect()
        assert len(all_rows) == 8
        assert {r.id for r in all_rows} == set(range(5)) | {100, 101, 102}

        # pushdown: >= bound travels as the since= request parameter and
        # the API prunes at the source
        handler.seen_params.clear()
        from pyspark.sql import functions as F

        got = (
            reader.load()
            .filter(F.col("created") >= "2024-02-01")
            .collect()
        )
        assert {r.id for r in got} == {100, 101, 102}
        assert any(
            p.get("since") == "2024-02-01" for p in handler.seen_params
        ), handler.seen_params
    finally:
        srv.shutdown()
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_rest_datasource_requires_schema_and_options(spark):
    import pytest
    from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual

    from wistia_video_analytics_project_spark.sources.pyds import (
        RestDataSource,
        RestReader,
    )
    from pyspark.sql.types import StructType

    with pytest.raises(Exception):
        RestReader(StructType([]), {"base_url": "http://x"})  # no paths
    with pytest.raises(Exception):
        RestReader(StructType([]), {"paths": "a"})  # no base_url

    # strict > is re-checked by Spark (returned unhandled); >= is absorbed
    r = RestReader(
        StructType([]),
        {"base_url": "http://x", "paths": "a", "since_col": "created"},
    )
    gt = GreaterThan(("created",), "2024-01-05")
    ge = GreaterThanOrEqual(("created",), "2024-01-02")
    left = list(r.pushFilters([gt, ge]))
    assert left == [gt]
    assert r.since == "2024-01-05"  # tightest bound wins


def test_rest_sink_posts_batches(spark):
    """df.write.format('rest_api_sink'): rows POST as JSON batches from
    executor tasks; every row arrives exactly the rows we sent."""
    import http.server
    import json as jsonlib
    import threading

    received = []
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            batch = jsonlib.loads(self.rfile.read(n))
            with lock:
                received.append(batch)
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from wistia_video_analytics_project_spark.sources.pyds import (
            RestWriteDataSource,
        )

        spark.dataSource.register(RestWriteDataSource)
        df = spark.createDataFrame(
            [(i, f"n{i}") for i in range(7)], "id long, name string"
        ).repartition(2)
        (
            df.write.format("rest_api_sink")
            .option("url", f"http://127.0.0.1:{srv.server_address[1]}/collect")
            .option("batch_size", "3")
            .mode("append")
            .save()
        )
        flat = [r for b in received for r in b]
        assert sorted(r["id"] for r in flat) == list(range(7))
        # batch_size respected (no batch exceeds 3)
        assert max(len(b) for b in received) <= 3
    finally:
        srv.shutdown()


def test_rest_sink_retries_then_fails_loudly(spark):
    """A permanently-failing endpoint must fail the write after the
    configured retries, not drop data silently."""
    import http.server
    import threading

    import pytest

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.send_error(503)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from wistia_video_analytics_project_spark.sources.pyds import (
            RestWriteDataSource,
        )

        spark.dataSource.register(RestWriteDataSource)
        df = spark.createDataFrame([(1, "a")], "id long, name string")
        with pytest.raises(Exception, match="rest_api_sink|POST|abort|FAILED"):
            (
                df.write.format("rest_api_sink")
                .option("url", f"http://127.0.0.1:{srv.server_address[1]}/x")
                .option("max_retries", "2")
                .mode("append")
                .save()
            )
    finally:
        srv.shutdown()


def test_read_text_docs_wholefile_ids_stable(spark, tmp_path):
    from wistia_video_analytics_project_spark.sources import read_text_docs

    (tmp_path / "a.txt").write_text("alpha doc body")
    (tmp_path / "b.txt").write_text("beta doc body")
    df = read_text_docs(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 2
    assert {r.text for r in rows} == {"alpha doc body", "beta doc body"}
    assert all(r.source_path.startswith("file:") for r in rows)
    # content-addressed ids: stable across re-read and layout
    again = {r.text: r.doc_id for r in read_text_docs(spark, str(tmp_path)).collect()}
    assert all(again[r.text] == r.doc_id for r in rows)
    # line mode
    (tmp_path / "c.txt").write_text("l1\nl2\n")
    lines = read_text_docs(spark, str(tmp_path / "c.txt"), wholetext=False)
    assert {r.text for r in lines.collect()} == {"l1", "l2"}


def test_rest_stream_reader_offset_range_replay():
    """readBetweenOffsets must return exactly the records in
    (start, end] — the checkpoint-replay contract."""
    import json as jsonlib

    from pyspark.sql.types import StructType

    from wistia_video_analytics_project_spark.sources.pyds import (
        RestSimpleStreamReader,
    )

    records = [
        {"id": i, "cursor": f"c{i:04d}"} for i in range(6)
    ]
    srv, _ = _page_server(
        {"events": records}, per_page=100, since_filter="cursor"
    )
    try:
        import pyspark.sql.types as T

        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("cursor", T.StringType())]
        )
        r = RestSimpleStreamReader(
            schema,
            {
                "base_url": f"http://127.0.0.1:{srv.server_address[1]}",
                "paths": "events",
                "since_col": "cursor",
            },
        )
        assert r.initialOffset() == {"since": ""}
        rows, off = r.read({"since": ""})
        assert len(list(rows)) == 6 and off == {"since": "c0005"}
        # replay a bounded range: strictly after c0001, up to c0003
        replay = list(r.readBetweenOffsets({"since": "c0001"}, {"since": "c0003"}))
        assert [t[0] for t in replay] == [2, 3]
    finally:
        srv.shutdown()
