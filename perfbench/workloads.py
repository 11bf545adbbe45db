"""The benchmark's workloads: the medallion pipeline and the gold dashboard.

A workload has ``stage(spark)`` (input staging, untimed, once per run),
``setup(spark)`` (fixture build plus discarded warm-up ops, timed),
``warmup_passes`` (untimed passes the runner makes after the setups),
``pass_ops()`` (the op names of one pass), ``before_op()`` (an untimed
reset) and ``run_op(name, plant)``. ``run_op`` performs one op, raising if
it fails, and returns a ``check()`` callable that lists correctness errors
(empty when the outputs are right). The runner times the op and calls
``check()`` after the timer stops, so checks never count as op time.

Stage attribution is taken from outside the package: the raw and sink
callables handed to ``wistia_pipeline`` are the benchmark's own, and each
is wrapped in a span. ``StageResult.duration_s`` is never used: it times
lazy DataFrame construction (about 0 s) while the compute lands in the
sinks.

``plant`` injects a fault into one op, to show the checks catch it:
``"wrong"`` makes the op's output wrong, ``"raise"`` makes the op fail.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from wistia_video_analytics_project_spark import cache, schemas, sinks, sql
from wistia_video_analytics_project_spark.operators import quality
from wistia_video_analytics_project_spark.pipeline import wistia_pipeline
from wistia_video_analytics_project_spark.sources import incremental, readers
from wistia_video_analytics_project_spark.sources.rest import RestIngester
from wistia_video_analytics_project_spark.sources.watermark import WatermarkStore

import expect
import gen

TABLES = ("dim_media", "dim_visitor", "fact_engagement")
FACT_KEYS = ["media_id", "visitor_id", "date"]


class FakeApi:
    """In-process REST transport over the generated API content.

    Throttled resources answer 429 on their first request of a day; the
    ingester retries them with a no-op sleeper, so no op sleeps."""

    def __init__(self, api: dict):
        self.api = api
        self.media = {m["hashed_id"]: m for m in api["media"]}
        self.requests = 0
        self.retries = 0
        self._throttled: set[tuple] = set()

    def start_day(self, day: int) -> None:
        self._throttled = {(k, m) for d, k, m in self.api["throttled"] if d == day}

    def __call__(self, url: str, params: dict) -> tuple[int, object]:
        self.requests += 1
        kind, mid = url.rsplit("/", 2)[-2:]
        if (kind, mid) in self._throttled:
            self._throttled.discard((kind, mid))
            self.retries += 1
            return 429, None
        if kind == "media":
            return 200, self.media[mid]
        page, size = params["page"], params["per_page"]
        records = self.api["days"][params["day"]]["visitors"][mid]
        return 200, records[(page - 1) * size: page * size]


def day_records(api: dict, days) -> tuple[list[dict], list[dict]]:
    """(media records, visitor records) the API serves for ``days``."""
    media = [m for _ in days for m in api["media"]]
    visitors = [r for d in days for recs in api["days"][d]["visitors"].values() for r in recs]
    return media, visitors


def _write_json(folder: str, payload: list) -> None:
    os.makedirs(folder, exist_ok=True)
    with open(os.path.join(folder, "part-0.json"), "w") as f:
        json.dump(payload, f)


def dir_usage(paths) -> tuple[int, int]:
    """(bytes, data files) under ``paths``."""
    size = files = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return size, files


def _sink(silver: str, tracer, plant: str | None = None):
    """The sink callable handed to ``wistia_pipeline``: one span per table
    around ``sinks.write_parquet`` (fact partitioned by ``date``)."""

    def sink(table, df, ctx):
        if plant == "wrong" and table == "fact_engagement":
            df = df.unionByName(df.limit(1).withColumn("visitor_id", F.lit("planted")))
        with tracer.span(f"sinks.write.{table}"):
            sinks.write_parquet(
                df, os.path.join(silver, table),
                partition_by=["date"] if table == "fact_engagement" else None)

    return sink


class Medallion:
    """The scheduled daily run through the package's pipeline: each op
    fetches one day from the fake REST API, lands its bronze run folders
    and processes the delta since the watermark, replaying from day 0
    after the last day."""

    #: the op time keeps falling for about six ops in a new JVM; the three
    #: setups make three of them
    warmup_passes = 1

    def __init__(self, api: dict, work: str, tracer):
        self.api, self.work, self.tracer = api, work, tracer
        self.bronze = os.path.join(work, "bronze")
        self.silver = os.path.join(work, "silver")
        self.wm_path = os.path.join(work, "metadata", "last_run.json")
        self.transport = FakeApi(api)
        self.ingester = RestIngester(
            "http://fake/api", transport=self.transport, backoff_base_s=0.0,
            sleeper=lambda _s: None,
        )
        self.expected: dict[int, expect.Silver] = {}
        self.next_day = 0
        #: per-op sizes recorded in a traced run: bronze bytes selected,
        #: silver bytes and files written
        self.sizes: dict[str, int] = {}

    def pass_ops(self) -> list[str]:
        return ["daily_run"]

    def stage(self, spark) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def setup(self, spark) -> None:
        """Fixture build and one discarded warm-up op (not checked: a
        broken op still raises, and measured ops are checked)."""
        self.spark = spark
        self.next_day = 0
        self.before_op()
        self.run_op("daily_run")

    def land(self, day: int) -> None:
        """Fetch one day from the REST API and land its bronze run folders."""
        t = self.tracer
        tag = gen.run_ts(day).strftime(incremental.RUN_TS_FORMAT)
        self.transport.start_day(day)
        req0, retry0 = self.transport.requests, self.transport.retries
        with t.span("rest") as attrs:
            payloads = []
            for m in self.api["media"]:
                mid = m["hashed_id"]
                payloads.append(
                    ("media", mid, [self.ingester.fetch_one(f"media/{mid}", {"day": day})]))
                payloads.append(
                    ("visitors", mid,
                     list(self.ingester.fetch_pages(f"visitors/{mid}", {"day": day}))))
            attrs["requests"] = self.transport.requests - req0
            attrs["retries"] = self.transport.retries - retry0
        with t.span("bronze.land"):
            for kind, mid, payload in payloads:
                _write_json(os.path.join(self.bronze, kind, f"{mid}_{tag}"), payload)

    def before_op(self) -> None:
        """Untimed reset: replay from day 0 once every day has been run."""
        if self.next_day == 0:
            shutil.rmtree(self.work, ignore_errors=True)

    def run_op(self, name: str, plant: str | None = None):
        t = self.tracer
        day = self.next_day
        self.next_day = (day + 1) % gen.N_DAYS
        run_ts = gen.run_ts(day)
        wm = WatermarkStore(self.wm_path, lookback_days=1)

        self.land(day)
        with t.span("watermark"):
            since = wm.read(now=run_ts)
        with t.span("sources.read_new_runs") as attrs:
            raw_media, media_folders, _ = incremental.read_new_runs(
                self.spark, os.path.join(self.bronze, "media"), since, schemas.RAW_MEDIA)
            raw_visitors, visitor_folders, max_ts = incremental.read_new_runs(
                self.spark, os.path.join(self.bronze, "visitors"), since, schemas.RAW_VISITOR)
            attrs["folders"] = len(media_folders) + len(visitor_folders)

        def raw(frame, fault: bool):
            def fn(ctx):
                with t.span("pipeline.raw"):
                    if fault:
                        raise RuntimeError("planted fault")
                    return frame.drop("__run_folder")
            return fn

        pipe = wistia_pipeline(raw(raw_media, False), raw(raw_visitors, plant == "raise"),
                               _sink(self.silver, t, plant))
        with t.span("pipeline.run"):
            _, results = pipe.run(self.spark, run_ts)
        failed = [f"{r.name}: {r.status} {r.error or ''}" for r in results
                  if r.status != "succeeded"]
        if failed:
            cache.release_caches()
            raise RuntimeError("; ".join(failed))
        with t.span("watermark"):
            wm.write(max_ts)
        with t.span("cache.release"):
            cache.release_caches()

        def check() -> list[str]:
            if t.enabled:
                self.sizes["bronze_bytes"] = dir_usage(media_folders + visitor_folders)[0]
                self.sizes["bytes_written"], self.sizes["files_written"] = dir_usage(
                    [os.path.join(self.silver, n) for n in TABLES])
            if day not in self.expected:
                self.expected[day] = expect.silver(*day_records(self.api, [day]))
            errors = self.check(self.expected[day])
            if wm.read() != max_ts:
                errors.append(f"watermark at {wm.read()}, expected {max_ts}")
            return errors

        return check

    def check(self, expected: expect.Silver) -> list[str]:
        """Compare the written silver with the model: sums and counts read
        with pyarrow, key uniqueness through ``quality.assert_unique``."""
        def path(table: str) -> str:
            return os.path.join(self.silver, table)

        fact = pq.read_table(path("fact_engagement"),
                             columns=["play_count", "total_watch_time_seconds"])
        try:
            quality.assert_unique(self.spark.read.parquet(path("fact_engagement")), FACT_KEYS)
            dupes = 0
        except ValueError:
            dupes = 1
        observed = {
            "rows": fact.num_rows,
            "play_count": pc.sum(fact["play_count"]).as_py(),
            "watch_s": pc.sum(fact["total_watch_time_seconds"]).as_py(),
            "duplicate_keys": dupes,
            "dim_media": pq.read_table(path("dim_media")).num_rows,
            "dim_visitor": pq.read_table(path("dim_visitor")).num_rows,
        }
        return expect.check_medallion(expected, observed)


class GoldDashboard:
    """The gold query surface over silver written by a full rebuild.

    One pass is one dashboard refresh: read the three silver tables
    through ``readers.read_parquet`` and register the star schema, then
    run each of ``sql.GOLD_QUERIES`` in fixed order and collect it.
    """

    sizes: dict[str, int] = {}
    warmup_passes = 0  # the stage and the three setups make 34 ops

    def __init__(self, api: dict, work: str, tracer):
        self.api, self.work, self.tracer = api, work, tracer
        self.silver = os.path.join(work, "silver")
        self.records = day_records(api, range(gen.N_DAYS))
        self.expected = expect.gold(expect.silver(*self.records))

    def pass_ops(self) -> list[str]:
        return ["refresh", *sql.GOLD_QUERIES]

    def stage(self, spark) -> None:
        """Write the silver with one rebuild of the whole history through
        ``wistia_pipeline`` (untimed: it is this workload's input). The
        raw callables hand the pipeline the generated records as Arrow
        tables, so the fixture skips the bronze JSON layer, which this
        workload does not measure. The silver is checked through the gold
        results, which the same expected model predicts."""
        shutil.rmtree(self.work, ignore_errors=True)
        frames = [
            spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))
            for rows, schema in zip(self.records, (schemas.RAW_MEDIA, schemas.RAW_VISITOR))
        ]
        pipe = wistia_pipeline(lambda ctx: frames[0], lambda ctx: frames[1],
                               _sink(self.silver, self.tracer))
        _, results = pipe.run(spark, gen.run_ts(gen.N_DAYS - 1))
        cache.release_caches()
        failed = [r.name for r in results if r.status != "succeeded"]
        if failed:
            raise RuntimeError(f"silver rebuild failed in {failed}")

    def setup(self, spark) -> None:
        """One discarded warm-up pass (its refresh registers the star
        schema in the new session)."""
        self.spark = spark
        for name in self.pass_ops():
            errors = self.run_op(name)()
            if errors:
                raise RuntimeError(f"warm-up op {name} failed: {errors}")

    def before_op(self) -> None:
        pass

    def run_op(self, name: str, plant: str | None = None):
        t = self.tracer
        if plant == "raise":
            raise RuntimeError("planted fault")
        if name == "refresh":
            with t.span("sources.read_parquet"):
                frames = [readers.read_parquet(self.spark, os.path.join(self.silver, n))
                          for n in TABLES]
            with t.span("sql.register"):
                sql.register_star_schema(self.spark, *frames)
            return lambda: []
        with t.span("sql.analyze"):
            df = sql.run_gold(self.spark, name)
        with t.span("sql.execute"):
            rows = df.collect()
        if plant == "wrong":
            rows = rows[:-1]
        return lambda: expect.check_gold(
            name, self.expected[name], expect.normalize_gold(name, rows))
