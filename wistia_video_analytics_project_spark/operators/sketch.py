"""Sketch operators: count-min sketch + approximate heavy hitters.

At 100 TB, "how many times did key X occur" over a high-cardinality key
(visitor ids, URLs, shingles) can't afford an exact groupBy keyed by
billions of distinct values when only the heavy tail matters. A
count-min sketch compresses the frequency table to d x w counters with
a one-sided error guarantee:

    true_count <= estimate <= true_count + eps * N      (w.h.p.)
    eps = e / w,  failure prob = e^-d

Built entirely from ``xxhash64`` + one groupBy — the sketch BUILD is a
single shuffle of at most d*w rows out of the aggregation, regardless of
key cardinality; at cluster scale the d*w counter table (KBs) broadcasts
to wherever estimates are needed.

Heavy hitters compose the sketch with ``approx_count_distinct``-style
thresholds; exact verification for the reported candidates is a cheap
semi-join (candidates are few by construction).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import persist

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 1024


def _bucket(col: Column, seed: int, width: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(width))


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Count-min sketch table: (row, bucket, cnt), at most depth*width
    rows. One explode (x depth) + one groupBy."""
    rows = [
        F.struct(
            F.lit(d).alias("row"), _bucket(F.col(key_col), d, width).alias("bucket")
        )
        for d in range(depth)
    ]
    return (
        df.select(F.explode(F.array(*rows)).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Point estimates for a frame of keys: min over the d counters.
    The sketch side is tiny -> broadcast join."""
    rows = [
        F.struct(
            F.lit(d).alias("row"), _bucket(F.col(key_col), d, width).alias("bucket")
        )
        for d in range(depth)
    ]
    probes = keys.select(
        key_col, F.explode(F.array(*rows)).alias("rb")
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left").fillna(
        {"cnt": 0}
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("est_count"))


def local_topk_candidates(
    df: DataFrame, key_col: str, per_partition: int = 1024
) -> DataFrame:
    """Heavy-hitter CANDIDATE keys via per-partition local counting
    (SpaceSaving-style): each partition emits its local top-m keys; the
    union is tiny (partitions x m) and deduped cheaply.

    No full-cardinality shuffle anywhere: a key with global share >= 1/m
    must be in some partition's local top-m (and in practice far smaller
    shares are caught — misses require a key spread thin below rank m in
    EVERY partition). Follow with exact verification of the candidate
    set, which bounds the cost of a miss to a false negative, never a
    wrong count.
    """
    import pandas as pd

    def topm(batches):
        counts: dict = {}
        for pdf in batches:
            for k, c in pdf[key_col].value_counts().items():
                counts[k] = counts.get(k, 0) + int(c)
        top = sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))[:per_partition]
        yield pd.DataFrame({key_col: [k for k, _ in top]})

    dtype = dict(df.dtypes)[key_col]
    return df.select(key_col).mapInPandas(
        topm, schema=f"{key_col} {dtype}"
    ).distinct()


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    per_partition_candidates: int = 1024,
) -> DataFrame:
    """Keys with exact count >= min_count, found without any
    full-cardinality aggregation:

    1. candidates from per-partition local top-m (no global shuffle over
       keys — :func:`local_topk_candidates`)
    2. CMS point estimates prune candidates below min_count (one-sided:
       never drops a true heavy hitter)
    3. exact verification by semi-join counting ONLY candidate keys.

    The CMS itself is the reusable serving artifact: d x w counters
    answer point frequency queries for ANY key without per-key state.
    """
    sketch = cms_build(df, key_col, depth, width)
    candidates_all = local_topk_candidates(df, key_col, per_partition_candidates)
    est = cms_estimate(sketch, candidates_all, key_col, depth, width)
    candidates = est.filter(F.col("est_count") >= min_count)
    verified = (
        df.join(F.broadcast(candidates.select(key_col)), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .filter(F.col("exact_count") >= min_count)
    )
    return verified


def daily_hll_sketches(
    df: DataFrame,
    date_col: str,
    entity_col: str,
    lgk: int = 12,
) -> DataFrame:
    """(date, hll sketch binary): one mergeable distinct-count sketch per
    day (Apache DataSketches HLL via Spark's ``hll_sketch_agg``).

    THE incremental-distinct primitive at 100 TB: persist these tiny
    sketches per partition-day, and any later rolling/total distinct
    count is a UNION OF SKETCHES — the raw event stream is never
    re-scanned. Error ~1.04/sqrt(2^lgk) (~1.6% at lgk=12).
    """
    return df.groupBy(F.col(date_col).alias("day")).agg(
        F.hll_sketch_agg(F.col(entity_col), F.lit(lgk)).alias("sketch")
    )


def hll_rolling_distinct(
    sketches: DataFrame,
    window_days: int = 7,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Rolling distinct from per-day sketches: broadcast the day spine,
    range-join the (days x 1 sketch) frame, union the window's sketches
    per day. Input is the :func:`daily_hll_sketches` output — rows =
    days, so this whole computation is spine-sized, independent of the
    raw data volume."""
    # cache: both the spine and the join consume the sketches frame —
    # uncached, its lineage (full raw scan + sketch build) would run
    # twice; cached it is |days| rows of small binaries
    sketches = persist(sketches)
    spine = sketches.select(F.col("day").alias("__day")).distinct()
    delta = F.datediff(F.col("__day"), F.col("day"))
    j = sketches.join(
        F.broadcast(spine), (delta >= 0) & (delta < window_days)
    )
    return (
        j.groupBy(F.col("__day").alias("day"))
        .agg(F.hll_union_agg("sketch").alias("__u"))
        .select(
            "day", F.hll_sketch_estimate("__u").alias(out_col)
        )
    )


def daily_kll_sketches(
    df: DataFrame,
    date_col: str,
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """(day, KLL quantile sketch over value): the mergeable-percentile
    analog of :func:`daily_hll_sketches` — persist per-day sketches,
    and any later window/total percentile is a sketch merge, never a
    raw re-scan (exact percentiles need a full sort per window)."""
    return df.groupBy(F.col(date_col).alias("day")).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(
            "sketch"
        )
    )


def kll_quantiles_over_all(
    sketches: DataFrame,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Merge every per-day sketch and read off quantiles: one tiny
    aggregate over |days| rows."""
    merged = sketches.agg(F.kll_merge_agg_double("sketch").alias("__m"))
    return merged.select(
        *[
            F.kll_sketch_get_quantile_double(F.col("__m"), F.lit(float(q))).alias(
                f"p{int(q * 100)}"
            )
            for q in quantiles
        ]
    )


def segment_overlap_theta(
    df: DataFrame,
    entity_col: str,
    flag_a: Column,
    flag_b: Column,
) -> DataFrame:
    """Approximate distinct-entity overlap between two segments via
    mergeable Theta sketches: |A|, |B|, |A∩B|, |A∪B|, |A\\B| in one
    pass — the scale path for audience-overlap questions, where the
    exact form needs per-entity set aggregation. Sketches are
    persistable per partition and composable with union/intersection/
    difference BEFORE estimation (unlike HLL, which only unions)."""
    aggd = df.agg(
        F.theta_sketch_agg(F.when(flag_a, F.col(entity_col))).alias("__a"),
        F.theta_sketch_agg(F.when(flag_b, F.col(entity_col))).alias("__b"),
    )
    return aggd.select(
        F.theta_sketch_estimate("__a").alias("n_a"),
        F.theta_sketch_estimate("__b").alias("n_b"),
        F.theta_sketch_estimate(F.theta_intersection("__a", "__b")).alias("n_both"),
        F.theta_sketch_estimate(F.theta_union("__a", "__b")).alias("n_either"),
        F.theta_sketch_estimate(F.theta_difference("__a", "__b")).alias("n_only_a"),
    )
