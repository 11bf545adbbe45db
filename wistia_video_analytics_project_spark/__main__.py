"""Runnable demo: the full reference architecture on synthetic data.

    python -m wistia_video_analytics_project_spark [output_dir]

Fake REST API -> bronze JSON run folders -> incremental delta read ->
star-schema silver (partitioned parquet) -> SQL gold queries, with the
watermark advanced at the end. Prints each stage and the gold KPIs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import tempfile


def main() -> None:
    from . import schemas, sinks, sql
    from .operators import model, quality
    from .pipeline import wistia_pipeline
    from .session import get_spark
    from .sources import incremental
    from .sources.rest import RestIngester
    from .sources.watermark import WatermarkStore

    out = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="wistia_demo_")
    run_ts = dt.datetime(2024, 1, 8, 2, 0)
    print(f"demo output: {out}")

    # --- fake Wistia API ------------------------------------------------
    media = {
        "m1": {"hashed_id": "m1", "name": "YouTube launch", "created": 1700000000},
        "m2": {"hashed_id": "m2", "name": "Facebook teaser", "created": 1700000500},
    }
    play = lambda t: {"type": "play", "time": t, "duration_watched": 30.0,
                      "percent_watched": 75.0}
    visitors = {
        "m1": [{"visitor_key": "v1", "ip_address": "1.1.1.1", "country": "US",
                "media_id": "m1", "events": [play(1704067200), play(1704067260)]}],
        "m2": [{"visitor_key": "v2", "ip_address": None, "country": "DE",
                "media_id": "m2", "events": [play(1704153600)]}],
    }

    def transport(url, params):
        path = url.split("/api/")[1]
        kind, mid = path.split("/")
        if kind == "media":
            return 200, media[mid]
        return (200, visitors[mid]) if params.get("page", 1) == 1 else (200, [])

    ing = RestIngester("http://fake/api", transport=transport)

    # --- bronze: land raw JSON per run folder ---------------------------
    ts_tag = run_ts.strftime("%Y%m%d_%H%M%S")
    for mid in media:
        for kind, payload in (
            ("media", [ing.fetch_one(f"media/{mid}")]),
            ("visitors", list(ing.fetch_pages(f"visitors/{mid}"))),
        ):
            folder = os.path.join(out, "bronze", kind, f"{mid}_{ts_tag}")
            os.makedirs(folder, exist_ok=True)
            with open(os.path.join(folder, "part-0.json"), "w") as f:
                json.dump(payload, f)
    print("bronze: landed raw JSON run folders")

    # --- silver: incremental read + star schema -------------------------
    spark = get_spark("wistia-demo", shuffle_partitions=4)
    wm = WatermarkStore(os.path.join(out, "metadata", "last_run.json"))
    since = wm.read(now=run_ts)
    raw_media, media_folders, _ = incremental.read_new_runs(
        spark, os.path.join(out, "bronze", "media"), since, schemas.RAW_MEDIA
    )
    raw_visitors, visitor_folders, max_ts = incremental.read_new_runs(
        spark, os.path.join(out, "bronze", "visitors"), since, schemas.RAW_VISITOR
    )
    print(f"incremental: {len(media_folders)} media + {len(visitor_folders)} "
          f"visitor run folders newer than {since}")

    pipe = wistia_pipeline(
        raw_media=lambda ctx: raw_media,
        raw_visitors=lambda ctx: raw_visitors,
        sink=lambda table, df, ctx: sinks.write_parquet(
            df,
            os.path.join(out, "silver", table),
            partition_by=["date"] if table == "fact_engagement" else None,
        ),
    )
    ctx, results = pipe.run(spark, run_ts)
    for r in results:
        print(f"  stage {r.name}: {r.status}")
    quality.assert_unique(ctx["fact_engagement"], ["media_id", "visitor_id", "date"])

    # --- gold: SQL surface ----------------------------------------------
    dm = spark.read.parquet(os.path.join(out, "silver", "dim_media"))
    dv = spark.read.parquet(os.path.join(out, "silver", "dim_visitor"))
    fact = spark.read.parquet(os.path.join(out, "silver", "fact_engagement"))
    sql.register_star_schema(spark, dm, dv, fact)
    for name in ["total_plays", "avg_completion", "engagement_rate",
                 "videos_by_channel", "daily_plays_trend"]:
        rows = sql.run_gold(spark, name).collect()
        print(f"  gold {name}: {[tuple(r) for r in rows]}")

    wm.write(max_ts or run_ts)
    print(f"watermark advanced to {wm.read()}")

    # --- LLM corpus tier (one-screen tour) ------------------------------
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "spark engines shuffle data between stages for wide operations"),
            (4, "completely unrelated text about video engagement analytics"),
        ],
        "doc_id long, text string",
    )
    from .llm_pipeline import prepare_training_corpus
    from .operators import bpe

    chunks = prepare_training_corpus(docs, min_tokens=3, chunk_size=6, stride=6)
    print(f"corpus prep: {docs.count()} docs -> "
          f"{chunks.select('doc_id').distinct().count()} kept after dedup, "
          f"{chunks.count()} chunks")
    merges, wt = bpe.train_bpe(docs, num_merges=5)
    print(f"bpe: learned merges {[(a, b) for a, b, _ in merges]}")
    wt.unpersist()

    # --- embedding analytics (distributed PCA, one pass) ----------------
    from pyspark.sql import functions as F

    from .operators import linalg

    vecs = spark.range(64).select(
        "id",
        F.array(
            (F.col("id") % 8).cast("float"),
            (F.col("id") % 3).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    vals, ratios, comps = linalg.pca(vecs, "embedding", 3, k=2)
    print(
        "pca: top-2 explained variance "
        f"{[round(float(r), 3) for r in ratios]} (constant dim carries 0)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
