"""SQL surface: the gold analytics layer as plain Spark SQL.

The reference serves its end-user queries as Power BI DAX measures over
the star schema (PDF guide p.33, Step 11.3; SURVEY.md §3.4), which Power
BI imports into memory first. :func:`register_star_schema` is that import
step: each view is the table coalesced to the partitions its size needs
(one for a dashboard's star schema) and cached, so a gold query scans
in-memory columns in one task with no shuffle. The import step starts
no Spark job, and neither does a refresh: ``readers.read_parquet`` takes
the silver schema from a footer read on the driver. Import semantics:

- the dashboard is a snapshot taken at refresh: the views serve the
  files listed when the tables were read, cached by the first query that
  reads them, and a later write is not seen before the next refresh;
- a registration is a version of the star schema, keyed by each frame's
  analyzed plan and the files it lists (names, sizes and modification
  times). A refresh with an equal key, while the session's views are
  still the ones it registered, changes nothing and keeps the cache; any
  other refresh uncaches the registered views before it registers the
  new ones, so rows rewritten under the same paths (by another
  application, or a file move) are read again, and refreshes do not
  accumulate cached relations. A frame that lists no files (an in-memory
  ``createDataFrame``) equals no other, so each refresh replaces it;
- :func:`run_gold` serves prepared queries: Catalyst parses, analyzes,
  optimizes and plans each gold query once per version, on its first
  run, and each later run executes that plan again over the cached views
  (no result is cached). A prepared query lives until a refresh changes
  the version or its session ends, and keeps the session conf it was
  planned under. The dimension broadcasts depend on the version alone,
  so each is built on its query's first run only: a single-table query
  is one job, and a dimension join adds one on its first run. While a
  registered view is replaced or dropped, queries go through a plain
  ``spark.sql``;
- the cache is ``MEMORY_AND_DISK``, so a star schema too big for storage
  memory spills to disk rather than fails.
"""

from __future__ import annotations

import math

from py4j.java_gateway import JavaClass, JavaObject
from py4j.protocol import Py4JError, Py4JJavaError
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


#: a frame's version key: its analyzed plan and its file listing
_Key = tuple[JavaObject, "str | None"]


class _StarSchema:
    """One registration of the star schema in a session: each frame's
    version key, the view objects the session's catalog held right after
    registering them, and the gold queries prepared against those views."""

    def __init__(self, spark: SparkSession, keys: list[_Key], views: list[DataFrame]):
        self.keys, self.views = keys, views
        self.catalog = spark._jsparkSession.sessionState().catalog()
        # keyed by reference, not equality: an equal view registered again
        # is another object
        self.registered = JavaClass("java.util.IdentityHashMap", spark._jvm._gateway_client)()
        for name in STAR_VIEWS:
            self.registered.put(self.catalog.getRawTempView(name).get(), name)
        self.prepared: dict[str, DataFrame] = {}

    def current(self) -> bool:
        """Whether each of the session's star views is still the object
        this registration made (none was replaced or dropped)."""
        try:
            return all(self.registered.get(self.catalog.getRawTempView(name).get()) == name
                       for name in STAR_VIEWS)
        except Py4JJavaError:  # ``get`` of an empty Option: the view was dropped
            return False

    def serves(self, keys: list[_Key]) -> bool:
        """Whether a refresh to frames with ``keys`` would change nothing."""
        return (
            all(files is not None and files == old_files and plan.sameResult(old_plan)
                for (plan, files), (old_plan, old_files) in zip(keys, self.keys))
            and self.current()
        )


def _version_key(df: DataFrame) -> _Key:
    """``df``'s analyzed plan and the files its leaves list: one Hadoop
    ``FileStatus`` a line (path, length and modification time among its
    fields), in listing order. The listing is None when a leaf is not a
    file index's relation (an in-memory or RDD frame, a JDBC table). The
    listing takes five py4j calls per leaf, whatever the file count."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    try:
        files = "\n".join(leaves.apply(i).relation().location().allFiles().mkString("\n")
                          for i in range(leaves.size()))
    except Py4JError:  # no relation, or one without a file listing
        files = None
    return plan, files


#: the session attribute that holds its :class:`_StarSchema`; on the
#: session object, the registration ends with it
_STAR_ATTR = "_gold_star_schema"


def register_star_schema(
    spark: SparkSession,
    dim_media: DataFrame,
    dim_visitor: DataFrame,
    fact_engagement: DataFrame,
) -> None:
    """Import the star schema: register each table as a cached temp view
    over ``ceil(size / spark.sql.files.maxPartitionBytes)`` partitions,
    unless the frames' version keys equal the registered ones and the
    session still holds the registered views (then nothing changes).

    The size is the optimized plan's estimate, so sizing starts no job.
    The cache is lazy: the first query to read a view fills it, inside
    the scan it runs anyway (filling it eagerly at refresh made a whole
    refresh-plus-queries pass slower). A frame whose size Spark cannot
    estimate reports ``Long.MAX_VALUE``; the count is clamped to a Java
    int, more partitions than any frame has, so such a frame keeps its
    own."""
    frames = (dim_media, dim_visitor, fact_engagement)
    keys = [_version_key(df) for df in frames]
    old: _StarSchema | None = getattr(spark, _STAR_ATTR, None)
    if old is not None:
        if old.serves(keys):
            return
        for view in old.views:
            view.unpersist()
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    views = []
    for name, df in zip(STAR_VIEWS, frames):
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        n = min(max(1, math.ceil(size / split)), 2**31 - 1)
        view = df.coalesce(n)
        view.createOrReplaceTempView(name)
        spark.catalog.cacheTable(name)
        views.append(view)
    setattr(spark, _STAR_ATTR, _StarSchema(spark, keys, views))


def run_gold(spark: SparkSession, name: str) -> DataFrame:
    """One named gold query over the session's star views: the query
    prepared for the registered version while the views are the ones
    :func:`register_star_schema` registered, else a plain ``spark.sql``."""
    star: _StarSchema | None = getattr(spark, _STAR_ATTR, None)
    if star is None or not star.current():
        return spark.sql(GOLD_QUERIES[name])
    if name not in star.prepared:
        star.prepared[name] = spark.sql(GOLD_QUERIES[name])
    return star.prepared[name]
