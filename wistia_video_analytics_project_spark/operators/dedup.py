"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference deduplicates only on exact keys via a row_number window
(`wistia-Databricks notebool-03.py:308-317` — see ``quality.
dedup_keep_first``). A training-data pipeline at 100 TB needs content
dedup too (BASELINE.json north star); this module adds the standard
ladder, all as DataFrame compositions (no Python in the hot path):

- **exact**      — md5 content fingerprint + hash groupBy. One shuffle on
  a 128-bit key; scales linearly.
- **n-gram Jaccard** — exact pairwise similarity from each shingle's
  grouped doc list. Quadratic in the worst case — the
  *oracle/verification* path.
- **MinHash + LSH** — 32 minhash slots, banded into 8×4; only documents
  sharing a band bucket become candidate pairs. The scale path: cost is
  O(docs × shingles) for signatures + a bucket-equi-join; no all-pairs.
- **SimHash**    — 64-bit fingerprint; near-dups = small Hamming distance,
  candidates via 16-bit band join, verified with ``bit_count(xor)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist
from ..session import configure_runtime
from ..sources import load_table
from .text import fingerprint, tokens

# ---------------------------------------------------------------------------
# Exact dedup (hash groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flag one canonical row (min id) per identical normalized text.

    Single shuffle on the md5 fingerprint. The window's partitioning is
    the same key, so no extra exchange.
    """
    fp = docs.withColumn("fingerprint", fingerprint(text_col))
    w = Window.partitionBy("fingerprint")
    return fp.withColumn(
        "is_canonical", F.col(id_col) == F.min(id_col).over(w)
    ).select(id_col, "fingerprint", "is_canonical")


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate content groups: fingerprint, copy count, kept id."""
    fp = docs.withColumn("fingerprint", fingerprint(text_col))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def _shingle_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, __shingles array<string>) with per-doc-distinct shingles.

    Dedup happens INSIDE the row via ``array_distinct`` — each document
    is a single row, so this is equivalent to a cross-row ``distinct()``
    but fully narrow: no shuffle touches the corpus.
    """
    toks = tokens(text_col)
    sh = F.when(
        F.size(toks) >= n,
        F.expr(
            f"transform(sequence(0, size(__toks) - {n}), "
            f"i -> concat_ws(' ', slice(__toks, i + 1, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.withColumn("__toks", toks).select(
        F.col(id_col).alias("doc_id"), F.array_distinct(sh).alias("__shingles")
    )


def _pair_counts(
    keyed: DataFrame, key: str, max_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """Group ``(doc_id, key)`` rows (one per distinct pair) into each
    key's sorted doc list ``__ms``, emit its C(df, 2) ``(a < b)`` pairs
    in place with array HOFs — one pass, no self-join — and count the
    keys each pair shares.

    Keys with df > ``max_df`` are dropped BEFORE the collect: a
    ``count over (partition by key)`` window computes each key's df on
    the exchange the collect then reuses, so the input is read once, and
    a hot key's rows sit in the window's spillable buffer, never in an
    aggregation buffer.
    Returns ``(grouped, counts)``: ``grouped`` holds the kept lists and
    ``counts`` is ``(doc_id_a, doc_id_b, n_common)``.
    """
    if max_df is not None:
        keyed = keyed.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy(key))
        ).filter(F.col("__df") <= max_df)
    grouped = keyed.groupBy(key).agg(
        F.array_sort(F.collect_list("doc_id")).alias("__ms")
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                """
                flatten(transform(__ms, (x, i) ->
                  transform(slice(__ms, i + 2, size(__ms)),
                            y -> struct(x AS a, y AS b))))
                """
            )
        ).alias("__p")
    ).select("__p.a", "__p.b")
    counts = pairs.groupBy(
        F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b")
    ).agg(F.count(F.lit(1)).alias("n_common"))
    return grouped, counts


def _hashed_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, shingle bigint): one row per distinct hashed shingle of
    each doc.  ``explode_outer`` + a cheap null filter instead of
    ``explode``: plain explode triggers InferFiltersFromGenerate, which
    pushes a ``size(expr)>0 AND isnotnull(expr)`` scan filter that
    re-evaluates the ENTIRE shingle lambda per row with the tokenizer
    inlined inside it — O(tokens²) per doc, interpreted."""
    return (
        _shingle_arrays(docs, text_col, id_col, n)
        .withColumn("__h", F.expr("transform(__shingles, s -> xxhash64(s))"))
        .select("doc_id", F.explode_outer("__h").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def _shingle_overlaps(
    docs: DataFrame, text_col: str, id_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(doc_id_a, doc_id_b, n_common, sza, szb): shared shingles per doc
    pair plus each doc's shingle count. Sizes come off the grouped frame
    (shares its exchange; one row per doc — AQE broadcasts it while it
    fits), so they are post-filter: stop shingles leave the similarity
    universe entirely."""
    grouped, counts = _pair_counts(
        _hashed_shingles(docs, text_col, id_col, n), "shingle", max_df
    )
    sizes = (
        grouped.select(F.explode("__ms").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return counts.join(sizes.toDF("doc_id_a", "sza"), "doc_id_a").join(
        sizes.toDF("doc_id_b", "szb"), "doc_id_b"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard (doc_id_a < doc_id_b).

    ``max_df`` drops shingles appearing in more than that many documents
    — the standard stop-shingle guard against hot-key blowup at scale
    (changes results slightly; leave ``None`` for oracle parity). At
    100 TB prefer :func:`minhash_lsh_candidates` and use this only to
    verify candidate pairs.

    All internal work runs on ``xxhash64(shingle)`` (8-byte bigint) —
    shingle text never leaves its row; results are identical unless two
    distinct shingles collide in 64 bits (P ≈ m²/2⁶⁵, and a collision
    can only nudge one pair's n_common by 1).

    groupBy(shingle) collects each shingle's sorted doc list and
    generates its C(df,2) pairs in place (:func:`_pair_counts`) — ONE
    corpus pass, and the pair stream is exactly the intersection
    multiset (no join probe overhead); ~6× faster than a shingle
    self-join at sf0.1. ``max_df`` drops hot shingles before the
    collect, with a df-count window on the collect's own exchange (still
    one pass), so it bounds the aggregation buffer as well as the pair
    output; with ``max_df=None`` one shingle's buffer holds its full
    doc list.
    """
    jac = F.col("n_common").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("n_common")
    )
    return (
        _shingle_overlaps(docs, text_col, id_col, n, max_df)
        .select("doc_id_a", "doc_id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_MINHASH = 32
N_BANDS = 8  # 8 bands x 4 rows


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, sig array<bigint>[32]): per-slot min over the doc's
    shingle hashes.

    ZERO-shuffle: the per-doc shingle array from ``_shingle_arrays`` is
    already narrow, so each signature row is
    ``array_min(transform(hashes, h -> xxhash64(h, slot)))`` — a pure
    map over the corpus (embarrassingly parallel at 100 TB, where the
    previous explode+groupBy shape shuffled every shingle row). Each
    shingle string is hashed ONCE (``xxhash64(s)``); the 32 slot hashes
    re-hash that fixed 8-byte value, which is ~an order of magnitude
    cheaper than 32 string hashes per shingle. xxhash64 is JVM-side and
    deterministic across runs and cluster layouts.

    Docs with fewer than ``n`` tokens have no shingles and are excluded
    (same contract as the previous groupBy shape).
    """
    arr = _shingle_arrays(docs, text_col, id_col, n).filter(
        F.size("__shingles") > 0
    )
    hashed = arr.select(
        "doc_id", F.expr("transform(__shingles, s -> xxhash64(s))").alias("__h")
    )
    slots = [
        F.array_min(F.expr(f"transform(__h, h -> xxhash64(h, {s}L))"))
        for s in range(N_MINHASH)
    ]
    return hashed.select("doc_id", F.array(*slots).alias("sig"))


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): banded signature rows — the unit
    both the batch self-join and the incremental store join bucket on.
    In a store deployment this frame is what gets persisted (bucketed by
    band_hash so the next batch's probe join elides its Exchange)."""
    rows_per_band = N_MINHASH // N_BANDS
    bands = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.xxhash64(
                *[F.col("sig").getItem(i * rows_per_band + j) for j in range(rows_per_band)]
            ).alias("band_hash"),
        )
        for i in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "b.band_id", "b.band_hash")


def minhash_lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Candidate pairs from banded signatures: docs sharing any band bucket.

    Explode to (band_id, band_hash, doc_id), self-join on the bucket — a
    plain equi-join shuffle, no all-pairs comparison anywhere.
    """
    exploded = minhash_bands(sigs)
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with MinHash-estimated Jaccard >= threshold.

    est_jaccard = fraction of matching signature slots (the classic
    unbiased estimator). Candidates come from LSH banding only, so the
    whole pipeline is explode + 2 equi-joins — the 100 TB path.

    The signature frame feeds three consumers (band explode + both sides
    of the estimate join); caching it avoids recomputing the shingle+
    minhash lineage three times (~2.5x wall-clock at sf0.1). At cluster
    scale this would be ``persist(MEMORY_AND_DISK)`` or a written table.
    """
    sigs = persist(minhash_signatures(docs, text_col, id_col, n))
    cand = minhash_lsh_candidates(sigs)
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    return (
        cand.join(sa, F.col("doc_id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_id_b") == F.col("sb.doc_id"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(_sig_overlap(F.col("sa.sig"), F.col("sb.sig")), 4).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new batch vs a persisted corpus store
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of an incoming batch against an already-ingested
    corpus: drop batch rows whose fingerprint exists in the store, then
    keep the min-id row per fingerprint within the batch.

    The continuous-ingestion shape: the corpus is never re-deduped — the
    store is ONE fingerprint column (`seen_fingerprints`), the anti-join
    and the within-batch window both shuffle only the BATCH, and both on
    the same key. Append the returned rows' fingerprints to the store to
    complete the cycle (union is exact because output fingerprints are
    unique). Returns the kept rows with their ``fingerprint`` column.
    """
    fp = new_docs.withColumn("fingerprint", fingerprint(text_col))
    fresh = fp.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )
    w = Window.partitionBy("fingerprint")
    return (
        fresh.withColumn("__first", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__first"))
        .drop("__first")
    )


def _sig_overlap(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of matching signature slots."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches.cast("double") / N_MINHASH


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over term frequencies.

    Explode tokens -> per-bit signed sums -> sign bits packed into one
    BIGINT. 64 conditional-sum aggregates over one exploded frame: a
    single shuffle on doc_id, all JVM-side.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    h = F.xxhash64("token")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    packed = None
    for j in range(SIMHASH_BITS):
        term = F.shiftleft(
            F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j
        )
        packed = term if packed is None else packed.bitwiseOR(term)
    return per_doc.select("doc_id", packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates via 4x16-bit band join (a pair within Hamming<=3 of a
    64-bit hash must agree on at least one 16-bit quarter; wider distances
    trade recall), verified exactly with bit_count(xor).
    """
    sh = simhash(docs, text_col, id_col)
    bands = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
        )
        for i in range(4)
    ]
    exploded = sh.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    a, b = exploded.alias("a"), exploded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster near-dup pairs into components: every node gets
    ``cluster_id`` = the minimum node id reachable through the pair
    graph (hash-min label propagation with pointer jumping).

    The iterative dataflow Spark SQL can't express declaratively:
    each round joins current labels across edges and keeps the min,
    then composes labels through themselves (``lbl ← lbl(lbl)``,
    pointer jumping), so convergence is O(log diameter) — an
    adversarial CHAIN of 10⁶ docs still converges in ~20 rounds,
    where plain one-hop propagation would need 10⁶. Per round: two
    co-partitioned joins + one partial-agg groupBy.
    ``localCheckpoint`` truncates lineage each round — without it the
    plan doubles per iteration and the driver, not the data, becomes
    the bottleneck at scale.

    If the fixpoint is NOT reached inside ``max_iterations`` it raises
    instead of returning silently wrong (split) labels.

    Returns (node, cluster_id) for every node appearing in ``pairs``.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .select("src", F.least("src", "lbl").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.dst") == F.col("l.src"))
            .select(F.col("e.src").alias("node"), F.col("l.lbl").alias("lbl"))
            .groupBy("node")
            .agg(F.min("lbl").alias("nlbl"))
        )
        hop_labels = (
            labels.alias("cur")
            .join(neighbor_min.alias("m"), F.col("cur.src") == F.col("m.node"), "left")
            .select(
                F.col("cur.src").alias("src"),
                F.least(
                    F.col("cur.lbl"),
                    F.coalesce(F.col("m.nlbl"), F.col("cur.lbl")),
                ).alias("lbl"),
            )
        )
        # pointer jumping: lbl ← min(lbl, lbl(lbl)). Labels are node
        # ids, so composing a label through the label table halves the
        # remaining path — this is what makes chains O(log d).
        new_labels = (
            hop_labels.alias("x")
            .join(labels.alias("j"), F.col("x.lbl") == F.col("j.src"), "left")
            .select(
                F.col("x.src").alias("src"),
                F.least(
                    F.col("x.lbl"), F.coalesce(F.col("j.lbl"), F.col("x.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.src") == F.col("o.src"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations — the pair graph has a "
            f"component of diameter > ~2^{max_iterations}; raise "
            f"max_iterations"
        )
    return labels.select(F.col("src").alias("node"), F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Driver-contract bindings
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., MOSS)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fp): winnowed document fingerprints — from each window of
    ``w`` consecutive word ``k``-gram hashes keep the minimum; any shared
    substring of at least ``w + k - 1`` tokens is GUARANTEED to share a
    fingerprint (the winnowing guarantee), while only ~``2/(w+1)`` of
    all k-grams are kept.

    The k-gram hash is the md5 hex digest and the window minimum is the
    lexicographic string min — both identical in every SQL engine, so
    the selected fingerprint SET (not just derived counts) is
    oracle-comparable; a throughput-first deployment would swap md5 for
    ``xxhash64`` and numeric mins, trading oracle parity for speed.

    Zero-shuffle: per-doc arrays all the way (same narrow HOF shape as
    shingling); docs shorter than ``k`` tokens have no k-grams and are
    excluded. Docs with fewer than ``w`` k-grams contribute their single
    global minimum.
    """
    toks = tokens(text_col)
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
        .filter(F.size("__t") >= k)
    )
    grams = base.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(__t) - {k} + 1), "
            f"i -> md5(concat_ws(' ', slice(__t, i, {k}))))"
        ).alias("__g"),
    )
    selected = F.expr(
        f"""
        CASE WHEN size(__g) >= {w}
             THEN transform(sequence(1, size(__g) - {w} + 1),
                            i -> array_min(slice(__g, i, {w})))
             ELSE array(array_min(__g)) END
        """
    )
    return grams.select(
        "doc_id", F.explode(F.array_distinct(selected)).alias("fp")
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints:
    ``(doc_id_a < doc_id_b, n_shared)`` where ``n_shared`` counts the
    distinct fingerprints both documents selected.

    Scale shape: fingerprints are ~|tokens|·2/(w+1) rows; the stop-
    fingerprint guard (``max_df``) caps every bucket's pair fan-out the
    same way ``max_df`` guards the shingle strategies, so pair volume
    is bounded by Σ C(df≤max_df, 2) per fingerprint — never all-pairs.

    Grouped in-place pair generation (:func:`_pair_counts`, shared
    with ``ngram_jaccard_pairs``/``containment_pairs``): hot
    fingerprints (df > ``max_df``) are dropped by a df-count window on
    the same exchange BEFORE groupBy(fp) collects each fingerprint's
    sorted doc list, so no aggregation buffer holds more than ``max_df``
    docs; the C(df, 2) pairs come off the lists with array HOFs. Row-identical to a
    self-join because ``winnow_fingerprints`` emits each (doc_id, fp)
    once (``array_distinct`` per doc), so each fp's doc list is a set.
    """
    _, counts = _pair_counts(
        winnow_fingerprints(docs, k, w, text_col, id_col), "fp", max_df
    )
    return counts.withColumnRenamed("n_common", "n_shared")


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup detection (Broder containment):
    ``c(A,B) = |A∩B| / |A|`` over shingle sets, both directions per
    pair. Catches subset copies — a short doc quoted inside a long one
    scores near 1.0 containment while symmetric Jaccard stays tiny
    (diluted by the long doc's size), so a Jaccard-threshold dedup
    misses it.

    Same scale shape as the Jaccard path: hashed shingles, the
    ``max_df`` stop-shingle guard applied before the collect, grouped
    in-place pair generation (:func:`_pair_counts`) and one
    intersection aggregate; emits pairs where either direction reaches
    ``threshold``.
    """
    c_ab = F.round(F.col("n_common") / F.col("sza"), 4)
    c_ba = F.round(F.col("n_common") / F.col("szb"), 4)
    return (
        _shingle_overlaps(docs, text_col, id_col, n, max_df)
        .select(
            "doc_id_a",
            "doc_id_b",
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= threshold
        )
    )


def incremental_winnow_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    min_shared: int = 2,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup dedup of an incoming batch against a persisted winnow-
    fingerprint store (``seen_fps``: one (fp) row per stored
    fingerprint, the exploded output of :func:`winnow_fingerprints`).

    A batch row drops when it shares ≥ ``min_shared`` fingerprints with
    (a) the store, or (b) an EARLIER batch row (min-id canonical wins,
    same rule as the other incremental operators). Unlike the minhash
    store (engine-internal xxhash64 signatures, rows-only checked),
    winnow fingerprints are md5-portable, so this whole incremental
    path is value-checkable against a SQL oracle.

    Scale: the batch never scans the store's documents — only its
    (much smaller) fingerprint set, via one equi-join; persist the
    store bucketed by ``fp`` and the probe join elides its exchange.
    Returns kept rows; append their :func:`winnow_fingerprints` to the
    store for the next batch.
    """
    fps_new = persist(winnow_fingerprints(new_docs, k, w, text_col, id_col))

    store_hits = (
        fps_new.join(seen_fps.select("fp").distinct(), "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_shared)
        .select(F.col("doc_id").alias(id_col))
    )

    a = fps_new.select(F.col("doc_id").alias("__ida"), "fp")
    b = fps_new.select(F.col("doc_id").alias("__idb"), "fp")
    batch_hits = (
        a.join(b, ["fp"])
        .filter(F.col("__ida") < F.col("__idb"))
        .groupBy("__ida", "__idb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_shared)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )

    drops = store_hits.unionByName(batch_hits).distinct()
    return new_docs.join(drops, id_col, "left_anti")


def duplicated_spans(
    docs: DataFrame,
    n: int = 10,
    top: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Top cross-document duplicated word ``n``-grams — the span-level
    diagnostic behind substring-dedup decisions ("Deduplicating Training
    Data Makes Language Models Better"-style): which exact long spans
    repeat across the corpus, and how widely.

    Spans are generated JVM-side with a higher-order function
    (``sequence -> transform(slice) -> explode``) off the shared
    whitespace tokenizer (:func:`..text.tokens`), then one grouped
    aggregate — a single shuffle keyed by span text.  At 100 TB the
    span key domain is huge but the aggregation is fully partial
    (map-side combine collapses within-partition repeats) and the
    ``min_docs`` filter runs post-agg.

    ``hashed=True`` is the 100 TB path: the big aggregation shuffles
    8-byte ``xxhash64(span)`` keys instead of full n-word strings, the
    top-k survivors (a ``top``-row DataFrame) are broadcast back
    against a second span pass, and only those ≤``top`` span strings
    ever materialize.  Two scans of ``docs``, but the exchange — the
    actual 100 TB bottleneck — carries longs, not 10-gram text.
    Rows-only in the registry (no DuckDB xxhash64), with an
    equality-vs-string-path pytest.

    r13: the token array is materialized as a COLUMN before the span
    transform — referencing the raw ``tokens()`` expression inside the
    lambda re-ran the regex split once PER POSITION (measured 3.2 s →
    0.5 s for the span build alone at sf0.1; the same trap
    ``_hashed_shingles()`` documents for InferFiltersFromGenerate)."""
    words = F.col("__toks")

    def span_stream(expr):
        return docs.withColumn("__toks", tokens(F.col(text_col))).select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.when(
                    F.size(words) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
                        expr,
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("span"),
        )

    text_expr = lambda i: F.array_join(F.slice(words, i, n), " ")  # noqa: E731
    if not hashed:
        spans = span_stream(text_expr)
        agg = (
            spans.groupBy("span")
            .agg(
                F.count(F.lit(1)).alias("n_occurrences"),
                F.count_distinct("doc_id").alias("n_docs"),
            )
            .filter(F.col("n_docs") >= min_docs)
        )
        return agg.orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span")
        ).limit(top)

    # phase 1: aggregate + top-k entirely on the hash key (light shuffle)
    hashed_spans = span_stream(text_expr).select(
        "doc_id", F.xxhash64("span").alias("__h")
    )
    winners = (
        hashed_spans.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("__h"))
        .limit(top)
    )
    # phase 2: recover span text for the <=top survivors only — the
    # winner set is tiny by contract, so the join is a broadcast probe
    # and span strings never enter an exchange
    recovered = (
        span_stream(text_expr)
        .withColumn("__h", F.xxhash64("span"))
        .join(F.broadcast(winners.select("__h", "n_occurrences", "n_docs")),
              "__h")
        .groupBy("__h", "n_occurrences", "n_docs")
        .agg(
            F.min("span").alias("span"),
            F.count_distinct("span").alias("__nspan"),
        )
    )
    # a 64-bit collision (distinct spans sharing a hash) would silently
    # merge phase-1 counts; odds are negligible but fail LOUDLY instead
    # of silently — the check rides inside the span column (not a
    # dropped side column Catalyst could prune) and costs one extra
    # distinct over <= top rows
    return recovered.select(
        F.when(F.col("__nspan") == 1, F.col("span"))
        .otherwise(
            F.raise_error(
                F.lit("xxhash64 span collision detected in duplicated_spans")
            )
        )
        .alias("span"),
        "n_occurrences",
        "n_docs",
    ).orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, "documents")


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ (documents shifted by 1e6) — synthesizes exact dups so
    the exact-dedup operators have real duplicate groups to find."""
    docs = _docs(spark, sf_dir)
    return docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_with_dups(spark, sf_dir))


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(_docs_with_dups(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline binding runs the SCALE path: ``max_df=100`` drops
    stop-shingles (boilerplate n-grams shared by >100 docs) before the
    grouped collect, bounding every shingle's pair fan-out. The unguarded
    exact path (``max_df=None``) stays as the recall oracle in
    tests/test_dedup.py; the DuckDB oracle below mirrors the guard, so
    this entry remains fully value-checked."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.1, n=3, max_df=100
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion exact dedup: docs below 250 are the already-
    ingested store (fingerprints only); the batch = the remaining docs
    plus an id-shifted copy of everything (store dups + in-batch dups).
    Kept = genuinely new content, min-id canonical per batch group."""
    base = _docs(spark, sf_dir)
    store = (
        base.filter(F.col("doc_id") < 250)
        .select(fingerprint("text").alias("fingerprint"))
        .distinct()
    )
    batch = base.filter(F.col("doc_id") >= 250).unionByName(
        base.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    return incremental_exact_dedup(batch, store).select("doc_id", "fingerprint")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.1, n=3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=8)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact-Jaccard candidate pairs -> connected
    components (iterative hash-min propagation). Oracle = 8-hop
    transitive closure in plain SQL — exact because near-dup components
    are shallow (the pytest asserts the diameter assumption holds)."""
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1, n=3)
    return connected_components(pairs, "doc_id_a", "doc_id_b")


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup retention policy: from each near-dup cluster keep only the
    canonical member (cluster_id == min node id, the CC label); docs in
    no cluster pass through. The left join is against the (tiny
    relative to the corpus) cluster table — broadcast."""
    c = F.broadcast(clusters.withColumnRenamed("node", id_col))
    out = docs.join(c, id_col, "left")
    return out.filter(
        F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id"))
    ).drop("cluster_id")


def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: cluster, keep canonicals, report
    retained doc count + chars per source (the corpus-shrink report a
    training pipeline actually consumes)."""
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.1, n=3)
    clusters = connected_components(pairs, "doc_id_a", "doc_id_b")
    kept = keep_canonical(docs, clusters)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_chars").alias("kept_chars"),
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs over documents (threshold 0.4,
    max_df=100 stop-shingle guard mirrored in the oracle)."""
    return containment_pairs(_docs(spark, sf_dir), threshold=0.4, n=3,
                             max_df=100)


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowed-fingerprint candidate pairs over documents."""
    return winnow_candidate_pairs(_docs(spark, sf_dir), k=4, w=4, max_df=100)


def q_dedup_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnow dedup: docs < 250 are the persisted store
    (fingerprints only); the batch is the remaining docs plus tail-
    perturbed near-dup copies of the store (shifted ids). Kept = novel
    content only — copies drop against the STORE, never having scanned
    its documents."""
    base = _docs(spark, sf_dir)
    store_docs = base.filter(F.col("doc_id") < 250)
    store = winnow_fingerprints(store_docs).select("fp").distinct()
    near_copies = store_docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" replica tail marker")).alias("text"),
    )
    batch = base.filter(F.col("doc_id") >= 250).select(
        "doc_id", "text"
    ).unionByName(near_copies)
    return incremental_winnow_dedup(batch, store).select("doc_id")


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-document duplicated 10-gram spans."""
    return duplicated_spans(_docs(spark, sf_dir), n=10, top=20)


def q_duplicated_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed duplicated spans — the 100 TB throughput path (the big
    shuffle carries xxhash64 longs; span text recovered for the top-20
    only).  Rows-only: DuckDB has no xxhash64; equality vs the string
    path is pytested."""
    return duplicated_spans(_docs(spark, sf_dir), n=10, top=20, hashed=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": q_dedup_exact,
        "duplicated_spans": q_duplicated_spans,
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        # minhash/simhash use engine-internal xxhash64 — not reproducible
        # in ANSI SQL; driver records rows-only checks, pytest verifies
        # recall against the exact-jaccard oracle (tests/test_dedup.py).
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_cluster_keep": q_dedup_cluster_keep,
        "dedup_incremental": q_dedup_incremental,
        "dedup_winnow": q_dedup_winnow,
        "dedup_winnow_incremental": q_dedup_winnow_incremental,
        "dedup_containment": q_dedup_containment,
        "duplicated_spans_hashed": q_duplicated_spans_hashed,
    }


_DUPS_CTE = """
    docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents)
"""

_SHINGLE_CTE = """
    tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok,
             generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
      FROM documents),
    sh0 AS (
      SELECT doc_id,
             concat_ws(' ', tok,
                       lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i),
                       lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)) AS shingle,
             lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t3
      FROM tok),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE t3 IS NOT NULL)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "duplicated_spans": r"""
            WITH words AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS w
              FROM documents),
            spans AS (
              SELECT doc_id,
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 9 AS BIGINT)],
                                     ' ') AS span
              FROM words, unnest(generate_series(1, len(w) - 9)) AS t(i)
              WHERE len(w) >= 10)
            SELECT span,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM spans GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2
            ORDER BY n_docs DESC, n_occurrences DESC, span
            LIMIT 20
        """,
        "dedup_exact": f"""
            WITH {_DUPS_CTE},
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
              FROM docs2)
            SELECT doc_id, fingerprint,
                   doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
            FROM fp
        """,
        "dedup_exact_groups": f"""
            WITH {_DUPS_CTE},
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
              FROM docs2)
            SELECT fingerprint, count(*) AS n_copies,
                   min(doc_id) AS keep_doc_id
            FROM fp GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_incremental": """
            WITH batch AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents),
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
              FROM batch),
            store AS (
              SELECT DISTINCT
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
              FROM documents WHERE doc_id < 250)
            SELECT doc_id, fingerprint FROM fp
            WHERE fingerprint NOT IN (SELECT fingerprint FROM store)
            QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
        """,
        "dedup_containment": f"""
            WITH {_SHINGLE_CTE},
            shf AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 100),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     count(*) AS n_common
              FROM shf a JOIN shf b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_id_a, doc_id_b,
                   round(CAST(n_common AS DOUBLE) / sa.sz, 4)
                     AS containment_a_in_b,
                   round(CAST(n_common AS DOUBLE) / sb.sz, 4)
                     AS containment_b_in_a
            FROM inter
            JOIN sizes sa ON doc_id_a = sa.doc_id
            JOIN sizes sb ON doc_id_b = sb.doc_id
            WHERE greatest(round(CAST(n_common AS DOUBLE) / sa.sz, 4),
                           round(CAST(n_common AS DOUBLE) / sb.sz, 4)) >= 0.4
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLE_CTE},
            shf AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 100),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
              FROM shf a JOIN shf b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_id_a, doc_id_b,
                   round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON doc_id_a = sa.doc_id
            JOIN sizes sb ON doc_id_b = sb.doc_id
            WHERE round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) >= 0.1
        """,
        "dedup_clusters": f"""
            WITH {_SHINGLE_CTE},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            p AS (
              SELECT doc_id_a, doc_id_b
              FROM inter
              JOIN sizes sa ON doc_id_a = sa.doc_id
              JOIN sizes sb ON doc_id_b = sb.doc_id
              WHERE round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) >= 0.1),
            e1 AS (
              SELECT doc_id_a AS src, doc_id_b AS dst FROM p
              UNION SELECT doc_id_b, doc_id_a FROM p
              UNION SELECT doc_id_a, doc_id_a FROM p
              UNION SELECT doc_id_b, doc_id_b FROM p),
            e2 AS (SELECT DISTINCT a.src, b.dst FROM e1 a JOIN e1 b ON a.dst = b.src),
            e4 AS (SELECT DISTINCT a.src, b.dst FROM e2 a JOIN e2 b ON a.dst = b.src),
            e8 AS (SELECT DISTINCT a.src, b.dst FROM e4 a JOIN e4 b ON a.dst = b.src)
            SELECT src AS node, min(dst) AS cluster_id FROM e8 GROUP BY 1
        """,
        "dedup_cluster_keep": f"""
            WITH {_SHINGLE_CTE},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            p AS (
              SELECT doc_id_a, doc_id_b
              FROM inter
              JOIN sizes sa ON doc_id_a = sa.doc_id
              JOIN sizes sb ON doc_id_b = sb.doc_id
              WHERE round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) >= 0.1),
            e1 AS (
              SELECT doc_id_a AS src, doc_id_b AS dst FROM p
              UNION SELECT doc_id_b, doc_id_a FROM p
              UNION SELECT doc_id_a, doc_id_a FROM p
              UNION SELECT doc_id_b, doc_id_b FROM p),
            e2 AS (SELECT DISTINCT a.src, b.dst FROM e1 a JOIN e1 b ON a.dst = b.src),
            e4 AS (SELECT DISTINCT a.src, b.dst FROM e2 a JOIN e2 b ON a.dst = b.src),
            e8 AS (SELECT DISTINCT a.src, b.dst FROM e4 a JOIN e4 b ON a.dst = b.src),
            cc AS (SELECT src AS node, min(dst) AS cluster_id FROM e8 GROUP BY 1)
            SELECT source, count(*) AS kept_docs,
                   CAST(sum(n_chars) AS BIGINT) AS kept_chars
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
            WHERE cc.node IS NULL OR d.doc_id = cc.cluster_id
            GROUP BY 1
        """,
        "dedup_winnow_incremental": """
            WITH store_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 250),
            batch AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000,
                     text || ' replica tail marker'
              FROM documents WHERE doc_id < 250),
            stoks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS tk
              FROM store_docs
              WHERE text IS NOT NULL
                AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 4),
            sg AS (
              SELECT doc_id,
                     list_transform(generate_series(1, len(tk) - 4 + 1),
                       i -> md5(array_to_string(list_slice(tk, i, i + 4 - 1),
                                                ' '))) AS gr
              FROM stoks),
            sf AS (
              SELECT doc_id,
                     CASE WHEN len(gr) >= 4
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(gr) - 4 + 1),
                                 i -> list_aggregate(
                                        list_slice(gr, i, i + 4 - 1), 'min')))
                          ELSE [list_aggregate(gr, 'min')] END AS fps
              FROM sg),
            btoks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS tk
              FROM batch
              WHERE text IS NOT NULL
                AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 4),
            bg AS (
              SELECT doc_id,
                     list_transform(generate_series(1, len(tk) - 4 + 1),
                       i -> md5(array_to_string(list_slice(tk, i, i + 4 - 1),
                                                ' '))) AS gr
              FROM btoks),
            bf AS (
              SELECT doc_id,
                     CASE WHEN len(gr) >= 4
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(gr) - 4 + 1),
                                 i -> list_aggregate(
                                        list_slice(gr, i, i + 4 - 1), 'min')))
                          ELSE [list_aggregate(gr, 'min')] END AS fps
              FROM bg),
            store AS (SELECT DISTINCT unnest(fps) AS fp FROM sf),
            be AS (SELECT doc_id, unnest(fps) AS fp FROM bf),
            store_hits AS (
              SELECT doc_id FROM be JOIN store USING (fp)
              GROUP BY doc_id HAVING count(*) >= 2),
            batch_hits AS (
              SELECT b.doc_id
              FROM be a JOIN be b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
            drops AS (SELECT doc_id FROM store_hits
                      UNION SELECT doc_id FROM batch_hits)
            SELECT doc_id FROM batch
            WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        """,
        "dedup_winnow": """
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS tk
              FROM documents
              WHERE text IS NOT NULL
                AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 4),
            g AS (
              SELECT doc_id,
                     list_transform(generate_series(1, len(tk) - 4 + 1),
                       i -> md5(array_to_string(list_slice(tk, i, i + 4 - 1),
                                                ' '))) AS gr
              FROM t),
            f AS (
              SELECT doc_id,
                     CASE WHEN len(gr) >= 4
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(gr) - 4 + 1),
                                 i -> list_aggregate(
                                        list_slice(gr, i, i + 4 - 1), 'min')))
                          ELSE [list_aggregate(gr, 'min')] END AS fps
              FROM g),
            e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
            keep AS (
              SELECT fp FROM e GROUP BY fp
              HAVING count(*) >= 2 AND count(*) <= 100),
            e2 AS (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp))
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   count(*) AS n_shared
            FROM e2 a JOIN e2 b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
    }
