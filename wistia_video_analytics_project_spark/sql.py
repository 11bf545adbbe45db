"""SQL surface: the gold analytics layer as plain Spark SQL.

The reference serves its end-user queries as Power BI DAX measures over
the star schema (PDF guide p.33, Step 11.3; SURVEY.md §3.4), which Power
BI imports into memory first. :func:`register_star_schema` is that import
step: each view is the table coalesced to the partitions its size needs
(one for a dashboard's star schema) and cached, so a gold query scans
in-memory columns in one task with no shuffle. The import step starts
no Spark job, and neither does a refresh: ``readers.read_parquet`` takes
the silver schema from a footer read on the driver. A single-table query
is then one job; a dimension join adds one for its broadcast. Import
semantics:

- the dashboard is a snapshot taken at refresh: the views serve the
  files listed when the tables were read, cached by the first query that
  reads them, and a later write is not seen before the next refresh;
- a refresh that changes a view's plan uncaches the old one, so
  refreshes do not accumulate; one over the same paths and schema keeps
  the cache (the plans are equal), so its queries fill none. Plan
  equality does not see the files: rows rewritten under the same paths
  by another application or a file move are still served from the old
  cache;
- the cache is ``MEMORY_AND_DISK``, so a star schema too big for storage
  memory spills to disk rather than fails.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

STAR_VIEWS = ("dim_media", "dim_visitor", "fact_engagement")

#: DAX measure -> Spark SQL (SURVEY.md §3.4 mapping table)
GOLD_QUERIES: dict[str, str] = {
    # Total Plays = SUM(fact_engagement[play_count])
    "total_plays": "SELECT sum(play_count) AS total_plays FROM fact_engagement",
    # Avg Completion = AVERAGE(fact_engagement[watched_percent])
    "avg_completion": (
        "SELECT round(avg(avg_percent_watched), 2) AS avg_completion "
        "FROM fact_engagement"
    ),
    # Total Watch Hours = SUM(total_watch_time)/3600
    "total_watch_hours": (
        "SELECT round(sum(total_watch_time_seconds) / 3600.0, 2) "
        "AS total_watch_hours FROM fact_engagement"
    ),
    # Engagement Rate = DIVIDE(SUM(play_count), DISTINCTCOUNT(visitor_id))
    "engagement_rate": (
        "SELECT round(sum(play_count) / CAST(count(DISTINCT visitor_id) AS DOUBLE), 4) "
        "AS engagement_rate FROM fact_engagement"
    ),
    # Videos by Channel = COUNTROWS(dim_media) sliced by channel
    "videos_by_channel": (
        "SELECT channel, count(*) AS n_videos FROM dim_media "
        "GROUP BY channel"
    ),
    # report visuals (PDF p.34)
    "daily_plays_trend": (
        "SELECT date, sum(play_count) AS plays FROM fact_engagement "
        "GROUP BY date ORDER BY date"
    ),
    "plays_by_channel": (
        "SELECT m.channel, sum(f.play_count) AS plays "
        "FROM fact_engagement f JOIN dim_media m USING (media_id) "
        "GROUP BY m.channel"
    ),
    "top10_videos": (
        "SELECT m.media_id, m.title, sum(f.play_count) AS plays "
        "FROM fact_engagement f JOIN dim_media m USING (media_id) "
        "GROUP BY m.media_id, m.title "
        "ORDER BY plays DESC, m.media_id LIMIT 10"
    ),
    "top_countries": (
        "SELECT v.country, sum(f.play_count) AS plays, "
        "round(sum(f.total_watch_time_seconds) / 3600.0, 2) AS watch_hours "
        "FROM fact_engagement f JOIN dim_visitor v USING (visitor_id) "
        "GROUP BY v.country"
    ),
    # a visitor is new on the date of their first engagement, found by a
    # window over their visit dates (a self-join's broadcast is a job of
    # its own); one row per visitor and date, so count(*) counts distinct
    # visitors, and rows without a visitor_id count for no one
    "new_vs_returning": (
        "WITH visits AS (SELECT DISTINCT visitor_id, date FROM fact_engagement "
        "                WHERE visitor_id IS NOT NULL), "
        "     firsts AS (SELECT date, min(date) OVER (PARTITION BY visitor_id) AS first_date "
        "                FROM visits) "
        "SELECT date, "
        "       CASE WHEN date = first_date THEN 'new' ELSE 'returning' END "
        "         AS visitor_status, "
        "       count(*) AS visitors "
        "FROM firsts GROUP BY 1, 2"
    ),
}


def register_star_schema(
    spark: SparkSession,
    dim_media: DataFrame,
    dim_visitor: DataFrame,
    fact_engagement: DataFrame,
) -> None:
    """Import the star schema: register each table as a cached temp view
    over ``ceil(size / spark.sql.files.maxPartitionBytes)`` partitions.

    The size is the optimized plan's estimate, so sizing starts no job.
    The cache is lazy: the first query to read a view fills it, inside
    the scan it runs anyway (filling it eagerly at refresh made a whole
    refresh-plus-queries pass slower). A frame whose size Spark cannot
    estimate reports ``Long.MAX_VALUE``; the count is clamped to a Java
    int, more partitions than any frame has, so such a frame keeps its
    own."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    for name, df in zip(STAR_VIEWS, (dim_media, dim_visitor, fact_engagement)):
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        n = min(max(1, math.ceil(size / split)), 2**31 - 1)
        df.coalesce(n).createOrReplaceTempView(name)
        spark.catalog.cacheTable(name)


def run_gold(spark: SparkSession, name: str) -> DataFrame:
    """Run one named gold query against the registered views."""
    return spark.sql(GOLD_QUERIES[name])
