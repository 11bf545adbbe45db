"""Corpus-assembly operators: the last mile of a training-data pipeline.

Deterministic stratified sampling (per-source mixture weights),
fixed-token sequence packing, and reproducible shard writing. All
reproducibility comes from content-derived hashes — no RNG state, no
``rand()``, so a 1000-executor rerun (or a different engine entirely)
selects the same rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist
from ..session import configure_runtime
from ..sources import load_table
from .text import tokens

# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

_HEX_WIDTH = 8  # 32 bits of md5 -> sampling resolution 1/2^32


def _hex_threshold(fraction: float) -> str:
    """fraction in [0,1] -> lowercase hex string such that
    P[md5-prefix < threshold] == round(fraction * 16^8) / 16^8.

    fraction == 1.0 would need 16^8 == ``"100000000"`` — 9 chars, which
    lexicographically sorts BELOW most 8-char hashes ('f…' > '1…') and
    would silently keep ~1/16 of rows. Return ``"g"`` instead: every
    lowercase-hex string sorts before it in both Spark and DuckDB, so
    the keep-everything case stays a pure string compare."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    scaled = round(fraction * (1 << (4 * _HEX_WIDTH)))
    if scaled >= 1 << (4 * _HEX_WIDTH):
        return "g"
    return format(scaled, f"0{_HEX_WIDTH}x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff the first 8 hex
    chars of ``md5(key)`` sort below the stratum's threshold. The same
    (key, fraction) pair selects the same rows on any engine, cluster
    layout, or rerun — md5 is engine-portable where ``rand()`` and even
    ``xxhash64`` are not. Strata absent from ``fractions`` are dropped
    (an explicit mixture spec, like pivot's explicit value list).

    Lexicographic compare of fixed-width lowercase hex == numeric
    compare, so no engine-specific hex-to-int conversion is needed.
    Fully row-local: a filter, no shuffle, no sampling skew.
    """
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, _HEX_WIDTH)
    cond = F.lit(False)
    for stratum, frac in fractions.items():
        cond = cond | (
            (F.col(strata_col) == stratum) & (h < F.lit(_hex_threshold(frac)))
        )
    return df.filter(cond)


def uniform_int32(key: "F.Column | str") -> "F.Column":
    """Engine-portable uniform integer in [0, 2^32): the first 8 hex
    chars of ``md5(key)`` parsed as an integer. Spark parses via
    ``conv(hex, 16, 10)``; DuckDB via a ``'0x…'`` cast — both exact."""
    c = F.col(key) if isinstance(key, str) else key
    return F.conv(
        F.substring(F.md5(c.cast("string")), 1, _HEX_WIDTH), 16, 10
    ).cast("long")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    rate: float,
    key_col: str,
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: each row is kept with
    probability ``min(1, rate * weight)`` — inclusion odds proportional
    to weight (quality-weighted corpus mixing), yet fully reproducible.

    Parity design: the keep test is ``uniform_int32(key) <
    rate * weight * 2^32`` using ONLY IEEE-exact operations (multiply,
    compare) — no ``pow``/``ln``, whose last-ulp rounding differs across
    engines. Same rows selected on any engine, rerun, or layout; a pure
    filter, no shuffle.
    """
    if rate < 0:
        raise ValueError(f"rate must be >= 0, got {rate}")
    threshold = F.col(weight_col).cast("double") * F.lit(float(rate)) * F.lit(
        float(1 << (4 * _HEX_WIDTH))
    )
    return df.filter(uniform_int32(key_col).cast("double") < threshold)


def weighted_sample_wor(
    df: DataFrame,
    weight_col: str,
    n: int,
    key_col: str,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (exact sample
    size): Efraimidis-Spirakis keys ``ln(u) / w`` with ``u`` derived
    from the md5 of the row key — the top-``n`` rows by key are a
    weighted WOR sample, reproducible on any engine/layout.

    Complements :func:`weighted_sample` (Bernoulli, random size): use
    this when the budget is an exact row count. The log-form key avoids
    ``pow`` (whose tie behavior differs per engine); ln/divide agree to
    the last ulp on IEEE doubles for these magnitudes, and the
    ``key_col`` tiebreak pins any residual ordering ambiguity. Plans as
    TakeOrderedAndProject — per-partition heaps, no global sort.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    # u in (0, 1]: (int32 + 1) / 2^32 — never 0, so ln(u) is finite
    u = (uniform_int32(key_col).cast("double") + 1) / F.lit(
        float(1 << (4 * _HEX_WIDTH))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    ranked = df.withColumn("__es_key", F.round(key, 12))
    return (
        ranked.orderBy(F.desc("__es_key"), F.col(key_col).asc())
        .limit(n)
        .drop("__es_key")
    )


def stratified_sample_wor(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    k: int,
    key_col: str,
) -> DataFrame:
    """Exact-size weighted WOR sampling PER STRATUM: the top-``k``
    Efraimidis-Spirakis keys within each stratum (same md5-derived
    deterministic keys as :func:`weighted_sample_wor`, rank window
    partitioned by the stratum instead of a global top-n). The per-group
    budget is exact — the stratified counterpart to the global WOR
    sampler, for per-source corpus quotas."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = (uniform_int32(key_col).cast("double") + 1) / F.lit(
        float(1 << (4 * _HEX_WIDTH))
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    w = Window.partitionBy(strata_col).orderBy(
        F.desc("__es_key"), F.col(key_col).asc()
    )
    return (
        df.withColumn("__es_key", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__es_key", "__rn")
    )


def mixture_sample(
    df: DataFrame,
    weights: Mapping[str, float],
    total_budget: float,
    source_col: str = "source",
    size_col: str = "n_chars",
    key_col: str = "doc_id",
) -> DataFrame:
    """Token-budget corpus mixing: sample each source down to its share
    of ``total_budget`` (weights normalized; a source smaller than its
    target keeps everything — the standard under-represented-source cap).

    The per-source keep fraction ``min(1, target / source_total)`` is
    computed IN-PLAN from one tiny per-source aggregate (broadcast back)
    and applied with the md5-threshold test — same engine-portable,
    layout-independent selection as the other samplers, and the whole
    fraction computation is IEEE-exact ops only (one divide, one
    multiply, compares), so any SQL engine reproduces the exact row set.
    Sources absent from ``weights`` are dropped (explicit mixture spec).
    One aggregate + one broadcast join + a filter: no corpus shuffle.
    """
    bad = {s: w for s, w in weights.items() if float(w) < 0}
    if bad:
        raise ValueError(f"weights must be non-negative, got {bad}")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    totals = df.groupBy(source_col).agg(
        F.sum(F.col(size_col)).alias("__src_total")
    )
    # CASE source -> target budget (explicit spec; unknown sources drop)
    expr = None
    for src, wgt in weights.items():
        t = F.lit(float(wgt) / wsum * float(total_budget))
        expr = F.when(F.col(source_col) == src, t) if expr is None else expr.when(
            F.col(source_col) == src, t
        )
    frac = F.least(F.lit(1.0), expr / F.col("__src_total").cast("double"))
    keep = uniform_int32(key_col).cast("double") < frac * F.lit(
        float(1 << (4 * _HEX_WIDTH))
    )
    return (
        df.join(F.broadcast(totals), source_col)
        .filter(expr.isNotNull() & keep)
        .drop("__src_total")
    )


def temperature_mixture_sample(
    df: DataFrame,
    alpha: float,
    total_docs: float,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled corpus mixing: per-source sampling weight
    ``w_s = n_s^alpha / sum_t(n_t^alpha)`` (the multilingual-LM
    standard — alpha=1 is proportional, alpha=0 uniform across sources,
    alpha~0.7 the usual low-resource upweighting), target
    ``total_docs * w_s`` docs per source, applied as a deterministic
    md5-threshold Bernoulli keep.

    Where :func:`mixture_sample` takes an EXPLICIT weight spec, this
    derives the spec from the data — the knob is one scalar.  Parity
    design: ``pow`` is not correctly-rounded across engines, so the
    keep fraction is ``round(..., 6)`` BEFORE the threshold compare
    (the CLAUDE.md computed-threshold rule); everything after the round
    is IEEE-exact multiply/compare.  One tiny per-source count
    aggregate broadcast back over the corpus — no corpus shuffle.
    """
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    # the count aggregate feeds BOTH the broadcast join and the z
    # normalizer — cache the (tiny, per-source) frame so the corpus
    # scan happens once, not twice
    counts = persist(
        df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    )
    z = counts.agg(
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))).alias(
            "__z"
        )
    )
    frac = F.round(
        F.least(
            F.lit(1.0),
            F.lit(float(total_docs))
            * F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
            / F.col("__z")
            / F.col("__n").cast("double"),
        ),
        6,
    )
    keep = uniform_int32(key_col).cast("double") < frac * F.lit(
        float(1 << (4 * _HEX_WIDTH))
    )
    return (
        df.join(F.broadcast(counts), source_col)
        .crossJoin(F.broadcast(z))
        .filter(keep)
        .drop("__n", "__z")
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy first-fit-decreasing packing of documents into fixed-token
    context windows.

    Docs are hash-bucketed (``xxhash64(id) % n_buckets``) so packing
    distributes across the cluster; within a bucket, FFD runs over docs
    sorted by (n_tokens desc, id asc) — deterministic regardless of
    input partitioning. Oversized docs (> max_tokens) get a singleton
    pack with ``oversize=true`` (the downstream truncation decision is
    the trainer's, not the packer's).

    Packing is inherently sequential per bin set — the one genuinely
    imperative step in the pipeline — so it runs as ``applyInPandas``
    per bucket; everything before and after stays declarative.

    Returns (doc_id, n_tokens, bucket, pack_id, pack_slot, oversize).
    """
    import pandas as pd

    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else 0
        bins: list[int] = []  # remaining capacity per bin
        out_pack, out_slot, out_over = [], [], []
        for _, row in pdf.iterrows():
            nt = int(row["n_tokens"])
            if nt > max_tokens:
                bins.append(0)
                out_pack.append(len(bins) - 1)
                out_slot.append(0)
                out_over.append(True)
                continue
            placed = False
            for bi in range(len(bins)):
                if bins[bi] >= nt:
                    bins[bi] -= nt
                    out_pack.append(bi)
                    out_slot.append(0)
                    out_over.append(False)
                    placed = True
                    break
            if not placed:
                bins.append(max_tokens - nt)
                out_pack.append(len(bins) - 1)
                out_slot.append(0)
                out_over.append(False)
        pdf["pack_id"] = [f"{bucket:04d}-{p:06d}" for p in out_pack]
        pdf["pack_slot"] = out_slot
        pdf["oversize"] = out_over
        # slot = rank within pack, deterministic by insertion order
        pdf["pack_slot"] = pdf.groupby("pack_id").cumcount()
        return pdf[["doc_id", "n_tokens", "bucket", "pack_id", "pack_slot",
                    "oversize"]]

    return sized.groupBy("bucket").applyInPandas(
        pack,
        schema="doc_id long, n_tokens int, bucket int, pack_id string, "
               "pack_slot long, oversize boolean",
    )


# ---------------------------------------------------------------------------
# Driver-contract bindings
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, "documents")


#: the mixture spec used by the sampling binding (and its oracle)
SAMPLE_FRACTIONS = {"src0": 0.5, "src1": 0.25, "src2": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling of the documents corpus."""
    docs = _docs(spark, sf_dir)
    return stratified_sample(
        docs, "source", SAMPLE_FRACTIONS, key_col="doc_id"
    ).select("doc_id", "source", "n_chars")


#: keep-probability per unit of order value for the binding (and oracle)
WEIGHTED_RATE = 2.0e-7


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted deterministic sample of orders: inclusion odds
    proportional to o_totalprice (the corpus-mixing shape: upweight
    high-quality docs)."""
    configure_runtime(spark)
    orders = load_table(spark, sf_dir, "orders")
    return weighted_sample(
        orders, "o_totalprice", WEIGHTED_RATE, key_col="o_orderkey"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


#: mixture spec for the driver binding: uneven weights over 5 sources,
#: ~20k-char budget — some sources cap at keep-everything, others thin
MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 2.0, "src4": 1.0}
MIX_BUDGET = 20_000.0


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return mixture_sample(docs, MIX_WEIGHTS, MIX_BUDGET).select(
        "doc_id", "source", "n_chars"
    )


#: temperature + doc budget for the driver binding (and its oracle)
TEMP_ALPHA = 0.7
TEMP_BUDGET = 300.0


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (n^0.7) mixture sample of the documents
    corpus — small sources upweighted relative to proportional."""
    docs = _docs(spark, sf_dir)
    return temperature_mixture_sample(
        docs, TEMP_ALPHA, TEMP_BUDGET
    ).select("doc_id", "source", "n_chars")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into 512-token windows; report per-bucket packing
    efficiency (packs, docs, fill rate). Greedy packing is not
    SQL-expressible — rows-only driver check; invariants are pinned in
    tests/test_corpus.py."""
    packed = pack_sequences(_docs(spark, sf_dir), max_tokens=512, n_buckets=16)
    return (
        packed.groupBy("bucket")
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / (F.countDistinct("pack_id") * 512),
                4,
            ).alias("fill_rate"),
        )
    )


def q_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size (n=200) value-weighted WOR sample of orders
    (Efraimidis-Spirakis keys)."""
    configure_runtime(spark)
    orders = load_table(spark, sf_dir, "orders")
    return weighted_sample_wor(
        orders, "o_totalprice", 200, key_col="o_orderkey"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def q_stratified_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10-doc length-weighted WOR sample PER SOURCE (per-stratum
    corpus quota with deterministic E-S keys)."""
    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_wor(
        docs, "source", "n_chars", 10, key_col="doc_id"
    ).select("source", "doc_id", "n_chars")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stratified_sample": q_stratified_sample,
        "weighted_sample": q_weighted_sample,
        "weighted_sample_wor": q_weighted_sample_wor,
        "stratified_sample_wor": q_stratified_sample_wor,
        "mixture_sample": q_mixture_sample,
        "temperature_mixture": q_temperature_mixture,
        "pack_sequences": q_pack_sequences,
    }


def oracle_sql() -> dict[str, str]:
    wsum = sum(MIX_WEIGHTS.values())
    # Python computes each target double once; repr() round-trips it
    # exactly, so the SQL literal IS the Spark literal
    mix_cases = " ".join(
        f"WHEN '{src}' THEN CAST({wgt / wsum * MIX_BUDGET!r} AS DOUBLE)"
        for src, wgt in MIX_WEIGHTS.items()
    )
    strata = " OR ".join(
        f"(source = '{s}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{_hex_threshold(f)}')"
        for s, f in SAMPLE_FRACTIONS.items()
    )
    return {
        "stratified_sample": f"""
            SELECT doc_id, source, n_chars
            FROM documents
            WHERE {strata}
        """,
        "stratified_sample_wor": """
            WITH keyed AS (
              SELECT source, doc_id, n_chars,
                     round(ln((CAST(CAST(concat('0x',
                               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) AS DOUBLE) + 1) / 4294967296.0)
                           / CAST(n_chars AS DOUBLE), 12) AS k
              FROM documents),
            r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY k DESC, doc_id ASC) AS rn
              FROM keyed)
            SELECT source, doc_id, n_chars FROM r WHERE rn <= 10
        """,
        "weighted_sample_wor": """
            WITH keyed AS (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     round(ln((CAST(CAST(concat('0x',
                               substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                             AS BIGINT) AS DOUBLE) + 1) / 4294967296.0)
                           / CAST(o_totalprice AS DOUBLE), 12) AS k
              FROM orders)
            SELECT o_orderkey, o_custkey, o_totalprice FROM keyed
            ORDER BY k DESC, o_orderkey ASC LIMIT 200
        """,
        "weighted_sample": f"""
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            WHERE CAST(CAST(concat('0x',
                     substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                   AS BIGINT) AS DOUBLE)
                  < CAST(o_totalprice AS DOUBLE) * {WEIGHTED_RATE} * 4294967296.0
        """,
        "mixture_sample": f"""
            WITH totals AS (
              SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_total
              FROM documents GROUP BY 1),
            tgt AS (
              SELECT d.doc_id, d.source, d.n_chars, t.src_total,
                     CASE d.source {mix_cases} END AS target
              FROM documents d JOIN totals t USING (source))
            SELECT doc_id, source, n_chars FROM tgt
            WHERE target IS NOT NULL
              AND CAST(CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) AS DOUBLE)
                  < least(CAST(1 AS DOUBLE),
                          target / CAST(src_total AS DOUBLE)) * 4294967296.0
        """,
        "temperature_mixture": f"""
            WITH counts AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY 1),
            z AS (
              SELECT sum(pow(CAST(n AS DOUBLE), CAST({TEMP_ALPHA!r} AS DOUBLE)))
                       AS z
              FROM counts),
            fr AS (
              SELECT source,
                     round(least(CAST(1 AS DOUBLE),
                         CAST({TEMP_BUDGET!r} AS DOUBLE)
                         * pow(CAST(n AS DOUBLE), CAST({TEMP_ALPHA!r} AS DOUBLE))
                         / z / CAST(n AS DOUBLE)), 6) AS frac
              FROM counts, z)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN fr USING (source)
            WHERE CAST(CAST(concat('0x',
                     substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) AS DOUBLE)
                  < frac * 4294967296.0
        """,
        # pack_sequences: greedy FFD is imperative — rows-only by design
    }


def quality_budget_select(
    docs: DataFrame,
    budget_per_group: float,
    quality_col: str,
    size_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy quality-first curation under a per-source size budget: rank
    each source's docs by quality (id tiebreak — deterministic under
    score ties), take them in order while the running size stays within
    budget. The complement to :func:`mixture_sample`: that thins sources
    RANDOMLY to a budget; this keeps each source's BEST until the budget
    is spent. One shuffle on the group key; the cumulative-sum window
    reuses its partitioning.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("__cum", F.sum(F.col(size_col)).over(w))
        .filter(F.col("__cum") <= F.lit(float(budget_per_group)))
        .drop("__cum")
    )
