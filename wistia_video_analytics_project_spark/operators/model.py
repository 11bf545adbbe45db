"""Star-schema builders: dim_media, dim_visitor, fact_media_engagement.

The engine core — the reference's silver-layer transform
(`wistia-Databricks notebool-03.py:133-243`) re-expressed as three pure
DataFrame -> DataFrame functions. Semantics are kept faithfully (including
the domain constant ``play_rate = play_count / 10.0`` at
`notebool-03.py:229` — reproduced as-is for parity, SURVEY.md §7.3), while
the *mechanics* are corrected for determinism and scale:

- ``processed_at``/``loaded_at`` are stamped from a caller-supplied run
  timestamp, not ``current_timestamp()`` (which re-evaluates per action
  and breaks frame-to-frame comparisons, SURVEY.md §7.3).
- surrogate keys are content hashes, not ``monotonically_increasing_id``.
- dedup uses a deterministic ordering, never ``orderBy(lit(1))``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import conform, quality

#: `notebool-03.py:229` — play_rate is play_count scaled by a fixed domain
#: constant of 10 plays, not a true rate. Kept for reference parity.
PLAY_RATE_DENOMINATOR = 10.0


def _with_run_ts(df: DataFrame, run_ts: dt.datetime, name: str) -> DataFrame:
    """``df`` plus a column ``name`` holding ``run_ts``; a naive ``run_ts``
    is UTC (``F.lit`` alone reads it in the Python process's local zone).

    The value enters the plan as a one-element array literal exploded
    beside each row. A scalar timestamp literal is inlined into the
    generated Java, so each new run timestamp missed Spark's codegen
    cache (8 Janino compiles a daily run); an array literal is passed to
    the generated code as a reference, so the code is the same for every
    run timestamp."""
    if run_ts.tzinfo is None:
        run_ts = run_ts.replace(tzinfo=dt.timezone.utc)
    return df.select("*", F.explode(F.array(F.lit(run_ts))).alias(name))


def build_dim_media(raw_media: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """Raw media records -> ``dim_media`` (`notebool-03.py:133-154, 279-319`).

    select/rename -> channel classification -> epoch cast -> PK repair ->
    keep-first dedup on media_id. The reference's full-row ``distinct``
    is not needed: ``repair_key`` is a function of the row, so exact
    duplicates share a key and the key dedup drops them, leaving one
    shuffle.
    """
    dim = conform.select_rename(
        _with_run_ts(raw_media, run_ts, "processed_at"),
        {
            "media_id": "hashed_id",
            "title": F.coalesce(F.col("name"), F.lit("Untitled")),
            "url": conform.media_url("hashed_id"),
            "channel": conform.classify_channel("name"),
            "created_at": conform.epoch_to_timestamp("created", fallback=F.col("processed_at")),
            "processed_at": "processed_at",
        },
    )
    dim = conform.repair_key(dim, "media_id", "media", ["title", "url", "created_at"])
    return quality.dedup_keep_first(dim, ["media_id"], order_by=["created_at", "title"])


def build_dim_visitor(raw_visitors: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """Raw visitor records -> ``dim_visitor`` (`notebool-03.py:170-183`).

    Same shape as :func:`build_dim_media`: PK repair, then keep-first
    dedup on visitor_id, which also drops exact duplicates."""
    dim = conform.select_rename(
        _with_run_ts(raw_visitors, run_ts, "processed_at"),
        {
            "visitor_id": "visitor_key",
            "ip_address": F.coalesce(F.col("ip_address"), F.lit("Unknown")),
            "country": F.coalesce(F.col("country"), F.lit("Unknown")),
            "processed_at": "processed_at",
        },
    )
    dim = conform.repair_key(dim, "visitor_id", "visitor", ["ip_address", "country"])
    return quality.dedup_keep_first(dim, ["visitor_id"], order_by=["ip_address", "country"])


def build_fact_engagement(
    raw_visitors: DataFrame,
    run_ts: dt.datetime,
    play_event_type: str = "play",
) -> DataFrame:
    """Raw visitor records -> ``fact_media_engagement``.

    The reference dataflow (`notebool-03.py:199-243`, SURVEY.md §3.3):

    1. filter non-empty event arrays  (P7: ``size(events) > 0``)
    2. explode events                 (§2.8 array)
    3. keep ``type == 'play'``        (P6 nested-field equality)
    4. ``event_date = to_date(from_unixtime(time))``
    5. groupBy (media_id, visitor_id, date):
       play_count, play_rate = round(count/10, 2),
       total_watch_time = round(sum(coalesce(duration, 0)), 2),
       avg_percent = round(avg(coalesce(percent, 0)), 2)   (A1-A3)
    6. key-not-null filter. The reference's keep-first dedup after it
       (`notebool-03.py:321-322`) is not needed: the groupBy already makes
       (media_id, visitor_id, date) unique and only filters follow it;
       reruns that union several run folders do so before the groupBy.

    Shuffle profile at scale: ONE shuffle (the groupBy).
    """
    events = (
        raw_visitors
        .filter(F.col("events").isNotNull() & (F.size("events") > 0))
        .select(
            "media_id",
            F.col("visitor_key").alias("visitor_id"),
            F.explode("events").alias("event"),
        )
        .filter(F.col("event.type") == F.lit(play_event_type))
        .withColumn("date", F.to_date(F.from_unixtime(F.col("event.time"))))
    )
    fact = (
        events.groupBy("media_id", "visitor_id", "date")
        .agg(
            F.count("*").alias("play_count"),
            F.round(F.count("*") / PLAY_RATE_DENOMINATOR, 2).alias("play_rate"),
            F.round(
                F.sum(F.coalesce(F.col("event.duration_watched").cast("double"), F.lit(0.0))), 2
            ).alias("total_watch_time_seconds"),
            F.round(
                F.avg(F.coalesce(F.col("event.percent_watched").cast("double"), F.lit(0.0))), 2
            ).alias("avg_percent_watched"),
        )
    )
    fact = _with_run_ts(fact, run_ts, "loaded_at")
    return conform.all_keys_present(fact, ["media_id", "visitor_id"]).filter(
        F.col("date").isNotNull()
    )
