"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star):
language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. All hot-path expressions are built-in
``pyspark.sql.functions`` — JVM-side, codegen'd, no Python in the loop —
so they scan at parquet speed on a 100 TB corpus.

Each operator has a ``queries()`` entry + matching DuckDB ``oracle_sql()``
(registered from ``__spark_entry__``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import configure_runtime
from ..sources import load_table

# ---------------------------------------------------------------------------
# Column-level building blocks
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: BPE-ish pretokenization pattern (GPT-2-style word/number/punct runs
#: with optional leading space; dialect-safe subset — no lookarounds, so
#: Java regex and RE2 agree)
BPE_ISH_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish pretokenizer — the cheap estimator
    for LLM-token budgeting over a corpus (vs whitespace tokens, which
    undercount punctuation-heavy text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed,
    then trimmed. Collapse BEFORE trim: ``trim`` strips only spaces, so
    leading tabs/newlines would survive a trim-first order (caught by
    tests/test_properties.py)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 of normalized text).
    Used as the exact-dedup hash key — reproducible across engines and
    cluster layouts (unlike ``monotonically_increasing_id``-style ids)."""
    return F.md5(normalized_text(text))


def _occurrences(padded: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via length delta —
    pure string built-ins, identical semantics in DuckDB."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


#: tiny per-language stopword marker lists for the n-gram/stopword
#: language heuristic (word-boundary matching via space padding).
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " a "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " les ", " des "],
    "de": [" der ", " und ", " die "],
}


def lang_hits(text: Column | str, lang: str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    total = F.lit(0).cast("bigint")
    for m in LANG_MARKERS[lang]:
        total = total + _occurrences(padded, m)
    return total


def lang_guess(text: Column | str) -> Column:
    """Argmax over marker-hit counts; 'und' when nothing matches.
    A deterministic heuristic stand-in for a real LID model — the Spark
    plumbing (single-scan, codegen'd scoring of N languages) is the part
    that must hold at 100 TB."""
    hits = {lang: lang_hits(text, lang) for lang in LANG_MARKERS}
    best = None
    # fixed language order => deterministic tie-break (first max wins)
    expr = F.lit("und")
    best = F.lit(0).cast("bigint")
    for lang in LANG_MARKERS:  # insertion order
        h = hits[lang]
        is_better = h > best
        expr = F.when(is_better, F.lit(lang)).otherwise(expr)
        best = F.when(is_better, h).otherwise(best)
    return expr


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(c, "[^.,;:!?]", ""))


def alpha_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(c, "[^a-zA-Z]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score: length saturation + alphabetic ratio
    + punctuation sanity. Same shape as common pretraining-corpus filters
    (length/punct/stopword ratios)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    len_component = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_ratio = punct_count(c) / F.greatest(F.length(c), F.lit(1))
    punct_component = F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))
    return F.round(
        0.3 * len_component + 0.4 * alpha_ratio(c) + 0.3 * punct_component, 4
    )


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------


def profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document text statistics in one codegen'd scan."""
    c = F.col(text_col)
    return docs.select(
        id_col,
        token_count(c).alias("n_tokens"),
        F.length(c).alias("n_chars_raw"),
        punct_count(c).alias("n_punct"),
        F.round(alpha_ratio(c), 4).alias("alpha_ratio"),
        F.round(
            F.length(F.regexp_replace(F.lower(c), "[^a-z ]", "")).cast("double")
            / F.greatest(token_count(c), F.lit(1)),
            4,
        ).alias("avg_token_span"),
    )


def with_lang(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("lang_guess", lang_guess(text_col))


def with_quality(docs: DataFrame, text_col: str = "text", threshold: float = 0.5) -> DataFrame:
    return docs.withColumn("quality_score", quality_score(text_col)).withColumn(
        "is_low_quality", F.col("quality_score") < threshold
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("fingerprint", fingerprint(text_col))


# ---------------------------------------------------------------------------
# Driver-contract bindings (documents table, FIXTURES.md §B)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, "documents")


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile(_docs(spark, sf_dir))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = with_lang(_docs(spark, sf_dir))
    return labeled.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n_docs"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_quality(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score", "is_low_quality"
    )


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    feature of web-corpus quality filters.  All three inputs are exact
    integer counts (whitespace words, punctuation-run sentences with a
    floor of 1, vowel-group syllables — vowel runs never span
    whitespace, so one regexp_count over the text equals the per-word
    sum); the FRE formula's literals are CAST to double on both engines
    and the score rounds to 2."""
    docs = _docs(spark, sf_dir)
    w = F.size(tokens(F.col("text")))
    sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    ).cast("long")
    syl = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")), F.lit(1)
    ).cast("long")
    fre = (
        F.lit(206.835).cast("double")
        - F.lit(1.015).cast("double") * (w.cast("long") / sent)
        - F.lit(84.6).cast("double") * (syl / w.cast("long"))
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            w.cast("long").alias("n_words"),
            sent.alias("n_sentences"),
            syl.alias("n_syllables"),
            F.round(fre, 2).alias("reading_ease"),
        )
        .filter(F.col("n_words") >= 1)
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def top_keywords(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TF-IDF keyword extraction: top-k terms per document.

    tf = term count in doc; idf = ln(N / df). Two aggregations (term
    counts; document frequencies) + a per-doc ranking window — the
    df table is tiny (vocabulary-sized) and broadcasts. Deterministic:
    score rounded to 6, term as tiebreaker.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar; the driver-side count is one job
    scored = tf.join(F.broadcast(df_tbl), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def similar_documents(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse-vector document similarity: TF-IDF cosine over an inverted
    index — the scale path for term-overlap similarity, complementing
    the dense-embedding ANN tier. This is the bag-of-words TOPICAL
    metric: word-order-sensitive near-dup detection is the n-gram /
    minhash operators' job.

    Pairs are generated ONLY from shared terms (inverted-index self
    equi-join on the term), never all-pairs: cost is Σ df² over terms,
    and ``max_df`` drops stop-terms (df > max_df carries ~zero IDF
    weight anyway) to bound each term's fan-out — the same guard as the
    n-gram Jaccard operator. Weights: tf · ln(N/df); cosine rounded to 4
    decimals with well-above-noise magnitudes for engine parity.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        df_tbl = df_tbl.filter(F.col("df") <= max_df)
    n_docs = docs.count()  # scalar; one driver-side job
    w = tf.join(df_tbl, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dp"))
    )
    na = norms.select(F.col("doc_id").alias("doc_id_a"), F.col("nrm").alias("__na"))
    nb = norms.select(F.col("doc_id").alias("doc_id_b"), F.col("nrm").alias("__nb"))
    return (
        dots.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("dp") / (F.col("__na") * F.col("__nb")), 4).alias(
                "cosine_tfidf"
            ),
        )
        .filter(F.col("cosine_tfidf") >= threshold)
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Context-window chunking — THE preprocessing step between a raw
    corpus and LLM training/embedding: each document becomes overlapping
    ``chunk_size``-token windows starting every ``stride`` tokens
    (overlap = chunk_size - stride preserves cross-boundary context).

    Scale path: pure JVM higher-order functions
    (``sequence -> transform -> slice -> explode``) — tokenization and
    windowing happen inside whole-stage codegen, no shuffle at all
    (chunking is embarrassingly parallel per document). Null/blank
    documents yield no chunks. A chunk start is emitted for every
    stride offset < token count, so a short tail window is kept (its
    tokens still get a window that ends the document).

    The tests check it row-identical against an independent Python UDTF
    (§2.10 surface) with the same windowing; that form is the one to
    reach for when the per-chunk logic outgrows SQL expressions (real
    tokenizers, sentence boundaries).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), toks.alias("__toks"))
    return base.select(
        id_col,
        F.explode(
            F.expr(
                f"""
                transform(sequence(0, size(__toks) - 1, {stride}), s -> struct(
                  s div {stride} AS chunk_id,
                  array_join(slice(__toks, s + 1, {chunk_size}), ' ') AS chunk_text,
                  size(slice(__toks, s + 1, {chunk_size})) AS n_tokens))
                """
            )
        ).alias("__c"),
    ).select(id_col, "__c.chunk_id", "__c.chunk_text", "__c.n_tokens")


def lm_bits_per_token(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Bigram language-model cross-entropy per document — the
    CCNet/KenLM-style quality signal used to filter web corpora for LLM
    training (low bits/token = fluent in-domain text; high = boilerplate,
    noise, or out-of-domain).

    Model: add-``k`` smoothed bigram LM trained on the SAME corpus being
    scored: ``P(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V)`` with
    ``c(w1,·)`` the corpus count of w1 as a bigram context and ``V`` the
    corpus vocabulary size. Per doc: ``bits = -mean(log2 P)`` over its
    bigrams.

    Shape at 100 TB: one pass explodes per-doc bigram pairs (narrow HOF
    construction, same pattern as shingling); counts are two partial-agg
    groupBys over the bigram stream; scoring is two equi-joins of the
    bigram stream against its own (much smaller) count tables plus one
    per-doc agg. No UDFs, no driver-side state — ``V`` rides along as a
    1-row broadcast cross join.

    Documents with fewer than two tokens have no bigrams and are
    excluded. Results round to 4 decimals (sum-of-logs noise ~1e-12).
    """

    toks = tokens(text_col)
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), toks.alias("__t")
    ).filter(F.size("__t") >= 2)
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), i -> "
                "struct(element_at(__t, i) AS w1, element_at(__t, i + 1) AS w2))"
            )
        ).alias("__b"),
    ).select("doc_id", "__b.w1", "__b.w2")
    bigram_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    context_counts = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("__cc"))
    vocab = base.select(F.explode("__t").alias("w")).agg(
        F.count_distinct("w").cast("double").alias("__v")
    )
    # the model trains on the scored corpus, so every bigram and context
    # has a count (nothing to coalesce)
    p = (F.col("__cb").cast("double") + F.lit(k)) / (
        F.col("__cc").cast("double") + F.lit(k) * F.col("__v")
    )
    return (
        bg.join(bigram_counts, ["w1", "w2"], "left")
        .join(context_counts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(F.log2(p)) / F.count(F.lit(1)), 4).alias(
                "bits_per_token"
            ),
        )
    )


def source_divergence(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's unigram
    distribution and the whole corpus — the mixture-drift monitor a
    training pipeline runs per ingest batch (a source whose JSD jumps
    changed its content mix).

    Closed-form trick: for words ABSENT from a source (p=0) the JSD
    contribution is exactly ``q/2``, so the full-vocabulary sum
    collapses to an inner join on the source's OWN words plus
    ``(1 - Σ_{w∈S} q)/2`` — no source x vocabulary expansion anywhere.
    Two groupBys over the token stream + one join of per-source counts
    against the (far smaller) word-total table. JSD ∈ [0, 1] in log2;
    rounded to 6 decimals (values ~1e-3, accumulation noise ~1e-12).
    """
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(group_col).alias("__src"),
        F.explode(tokens(text_col)).alias("__w"),
    )
    sw = toks.groupBy("__src", "__w").agg(F.count(F.lit(1)).alias("__c"))
    stot = sw.groupBy("__src").agg(F.sum("__c").cast("double").alias("__st"))
    wt = sw.groupBy("__w").agg(F.sum("__c").cast("double").alias("__cw"))
    tot = sw.agg(F.sum("__c").cast("double").alias("__t"))
    p = F.col("__c") / F.col("__st")
    q = F.col("__cw") / F.col("__t")
    term = p * F.log2(2 * p / (p + q)) + q * F.log2(2 * q / (p + q))
    return (
        sw.join(stot, "__src")
        .join(wt, "__w")
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("__src").alias(group_col))
        .agg(
            F.round(
                F.lit(0.5) * F.sum(term) + F.lit(0.5) * (1 - F.sum(q)), 6
            ).alias("js_divergence")
        )
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed query term set — the IR
    scoring face of the text tier (TF-IDF cosine handles doc-to-doc
    similarity; this ranks docs against a QUERY).

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        score   = Σ_t idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    One tokenize pass feeds both the per-doc term counts (filtered to
    the query terms BEFORE the shuffle — the map-side filter is the
    whole point at 100 TB) and the doc-length table; N/avgdl ride a
    broadcast 1-row aggregate, so no scalar ever passes through the
    driver. Deterministic: score rounded to 4, doc_id tiebreak."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = (
        tok.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_tbl = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.round(F.sum(contrib), 4) + F.lit(0.0)).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {spark, query, data}."""
    return bm25_rank(_docs(spark, sf_dir), ["spark", "query", "data"], k=10)


def doc_novelty(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Per-document novelty: the share of its DISTINCT word ``n``-grams
    that appear in no other document (corpus df == 1).  Low novelty
    flags heavily-templated or duplicated content that near-dup
    thresholds can miss; the complement (1 - novelty) reads as
    memorization risk for LLM training.

    ONE shingle pass; per-doc dedup happens INSIDE the row with
    ``array_distinct`` (narrow — the old global distinct shuffle does
    not exist at all), and the gram df rides a count window over the
    gram partitioning instead of an aggregate + join-back (the r12
    shape paid four exchanges and TWO explode passes — the optimizer
    broadcast the df table and re-derived its subtree from the scan;
    guide §2.4): the whole query is scan → explode → Exchange(gram) →
    window → Exchange(doc_id) → agg.  ``hashed=True`` is the 100 TB
    path: the gram never reaches the output, so the gram exchange can
    key on 8-byte ``xxhash64(gram)`` instead of the full n-gram string
    — same plan shape, ~10x lighter exchange.  Output is identical
    modulo hash collisions (~n_grams²/2⁶⁴); rows-only in the registry,
    with an equality-vs-string-path pytest.  Skew note: the window
    buffers one gram's (doc, gram) rows per group (spillable array);
    n-gram df is zipfian with max df ≪ corpus size, and the prior
    shape funneled the same hot gram through one df-aggregate task."""
    from pyspark.sql import Window

    # token array materialized as a column BEFORE the gram transform:
    # an inlined tokens() expression re-runs the regex split once per
    # position inside the lambda (r13; the duplicated_spans/shingles
    # trap — measured 6x on the span build)
    words = F.col("__toks")

    def _gram(i):
        g = F.array_join(F.slice(words, i, n), " ")
        return F.xxhash64(g) if hashed else g

    gram_t = "array<bigint>" if hashed else "array<string>"
    grams = docs.withColumn("__toks", tokens(F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(words) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
                        _gram,
                    ),
                ).otherwise(F.array().cast(gram_t))
            )
        ).alias("gram"),
    )
    with_df = grams.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(
            F.sum((F.col("__df") == 1).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("novelty"),
    )


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-5-gram novelty per document (string grams: the
    oracle-checked binding)."""
    return doc_novelty(_docs(spark, sf_dir), n=5)


def q_doc_novelty_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64-gram novelty — the 100 TB throughput path (rows-only:
    DuckDB has no xxhash64; equality vs the string path is pytested)."""
    return doc_novelty(_docs(spark, sf_dir), n=5, hashed=True)


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting ("Data Selection for Language
    Models via Importance Resampling", Xie et al. 2023): score every
    document under a TARGET-domain bigram LM (here: the English subset)
    and under the corpus LM; the per-token log-likelihood ratio
    ``bits_corpus − bits_target`` is the importance signal — positive
    means the doc looks more target-like than the corpus average, and
    feeding ``2^(n·llr)`` weights to the existing weighted sampler IS
    importance resampling.  Top-100 by (llr desc, doc_id) after round-4
    on both bit scores.

    r13 (closes the round-5 "shared-stream multi-model scorer" item):
    ONE bigram stream carries a per-doc target flag, so BOTH models'
    counts come from conditional aggregates over the same pass —
    ``c_target = count(when(is_en, ...))`` — and scoring joins the
    count tables once instead of running the whole LM machinery twice.
    The target-LM counts/vocab are exactly the counts of the en-only
    stream (same integers), the smoothed probabilities divide the same
    doubles, and the per-doc bit scores round at 4 before the llr
    subtraction, so the output is identical to the two-pass shape."""
    docs = _docs(spark, sf_dir)
    k = 0.5
    toks = tokens("text")
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("__tgt"),
            toks.alias("__t"),
        )
        .filter(F.size("__t") >= 2)
    )
    # fail fast on an empty effective target corpus (same guard, same
    # single bounded job as the two-pass shape)
    if base.filter(F.col("__tgt")).limit(1).count() == 0:
        raise ValueError(
            "target corpus has no document with >= 2 tokens — "
            "cannot train the scoring LM"
        )
    bg = base.select(
        "doc_id",
        "__tgt",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), i -> "
                "struct(element_at(__t, i) AS w1, element_at(__t, i + 1) AS w2))"
            )
        ).alias("__b"),
    ).select("doc_id", "__tgt", "__b.w1", "__b.w2")
    tgt1 = F.when(F.col("__tgt"), F.lit(1))
    bigram_counts = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("__cb"), F.count(tgt1).alias("__cbt")
    )
    context_counts = bg.groupBy("w1").agg(
        F.count(F.lit(1)).alias("__cc"), F.count(tgt1).alias("__cct")
    )
    vocab = base.select("__tgt", F.explode("__t").alias("w")).agg(
        F.count_distinct("w").cast("double").alias("__v"),
        F.count_distinct(F.when(F.col("__tgt"), F.col("w")))
        .cast("double")
        .alias("__vt"),
    )
    p_all = (F.col("__cb").cast("double") + F.lit(k)) / (
        F.col("__cc").cast("double") + F.lit(k) * F.col("__v")
    )
    p_tgt = (F.col("__cbt").cast("double") + F.lit(k)) / (
        F.col("__cct").cast("double") + F.lit(k) * F.col("__vt")
    )
    n = F.count(F.lit(1))
    per_doc = (
        bg.join(bigram_counts, ["w1", "w2"])
        .join(context_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            n.alias("n_bigrams"),
            F.round(-F.sum(F.log2(p_all)) / n, 4).alias("__bits_all"),
            F.round(-F.sum(F.log2(p_tgt)) / n, 4).alias("__bits_tgt"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__bits_all") - F.col("__bits_tgt"), 4
            ).alias("llr_per_token"),
        )
        .orderBy(F.desc("llr_per_token"), F.asc("doc_id"))
        .limit(100)
    )


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram JSD vs the corpus (mixture drift monitor)."""
    return source_divergence(_docs(spark, sf_dir))


def q_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_keywords(_docs(spark, sf_dir), k=3)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document (LLM token
    budgeting)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_ish_tokens"),
    )


def q_similar_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index TF-IDF cosine pairs; max_df mirrors the oracle so
    the entry stays fully value-checked (stop-terms carry ~zero weight)."""
    return similar_documents(_docs(spark, sf_dir), threshold=0.3, max_df=100)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50-token chunks, stride 40 (10-token overlap), over documents."""
    return chunk_documents(_docs(spark, sf_dir), chunk_size=50, stride=40)


def q_lm_bits_per_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy quality score over documents."""
    return lm_bits_per_token(_docs(spark, sf_dir))


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy in bits — the
    classic gibberish / compression-junk detector for a pretraining
    corpus (natural prose sits ~4-4.5 bits/char; base64 blobs and
    repeated-character junk land far above / below).

    Shape: one explode to (doc, char) rows, one partial-agg count, one
    per-doc aggregate — all JVM, entropy assembled from exact integer
    counts as ``log2(n) - Σ c·log2(c) / n`` (single division, stable
    under reordering).  ``sequence(1, length)`` auto-reverses on empty
    text in Spark (CLAUDE.md), so empty docs are filtered before the
    explode on BOTH engines."""
    chars = (
        docs.filter(F.length(text_col) >= 1)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col))
            ).alias("i"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.expr(f"substring({text_col}, i, 1)").alias("ch"),
        )
    )
    per_char = chars.groupBy(id_col, "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = F.sum("c").cast("long")
    s = F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
    return (
        per_char.groupBy(id_col)
        .agg(
            n.alias("n_chars_counted"),
            (
                F.round(
                    F.log2(n.cast("double")) - s / n.cast("double"), 4
                )
                + F.lit(0.0)
            ).alias("entropy_bits"),
        )
        .orderBy(id_col)
    )


def hapax_report(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-source vocabulary concentration: total tokens, distinct
    types, hapax legomena (frequency-1 types), type-token ratio and
    hapax share — the corpus-health profile that flags both boilerplate
    floods (TTR collapses) and OCR noise (hapax share explodes).

    Two hash aggregations ((group, token) then group), integer counts
    throughout, ratios as one rounded division each."""
    toks = docs.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    per_tok = toks.groupBy(group_col, "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_tokens = F.sum("c").cast("long")
    n_types = F.count(F.lit(1)).cast("long")
    n_hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    return (
        per_tok.groupBy(group_col)
        .agg(
            n_tokens.alias("n_tokens"),
            n_types.alias("n_types"),
            n_hapax.alias("n_hapax"),
            F.round(
                n_types.cast("double") / n_tokens.cast("double"), 6
            ).alias("ttr"),
            F.round(
                n_hapax.cast("double") / n_types.cast("double"), 6
            ).alias("hapax_share"),
        )
        .orderBy(group_col)
    )


def token_burstiness(
    docs: DataFrame,
    min_df: int = 5,
    top: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Church-Gale burstiness: per token, ``cf / df`` (mean occurrences
    per CONTAINING document).  Function words spread evenly
    (burstiness ~ 1); content/topical words clump — the classic cheap
    content-word detector for keyword extraction and stopword-list
    induction.  One (doc, token) aggregate then one token aggregate —
    two hash shuffles, integer counts throughout, the ratio is a single
    rounded integer division (cross-engine exact at 6 decimals).
    ``min_df`` floors the document frequency (df-1 tokens are trivially
    "bursty"); top-k by burstiness with the token as tiebreaker."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_tok = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
    )
    return (
        per_tok.filter(F.col("df") >= int(min_df))
        .select(
            "tok",
            "df",
            "cf",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"), 6
            ).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), F.col("tok").asc())
        .limit(int(top))
    )


def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_burstiness(_docs(spark, sf_dir), min_df=5, top=20)


def heaps_law_fit(docs: DataFrame) -> DataFrame:
    """Heaps' law fit ``V = K * N^beta``: vocabulary size vs corpus
    token count at 10 cumulative checkpoints along the doc_id order,
    log-log slope via ``regr_slope`` (the zipf_slope precedent) — the
    vocabulary-growth exponent that sizes tokenizer vocab and hash
    spaces before a full-corpus pass (English prose beta ~ 0.4-0.6;
    a template corpus with a closed lexicon saturates to beta ~ 0,
    which is itself the diagnostic).

    Exact integer counts throughout: per-doc token counts and each
    type's first-seen doc feed cumulative sums over the doc order; the
    10 checkpoint rows are picked by row_number, and only the final
    2-parameter regression touches floats.  Round 10: the cumulative
    sums and the rank come from the distributed ``binned_running_sum``
    / ``binned_row_number`` ladders over the per-DOC frame — the doc
    frame grows with the corpus, so no single-task window (the old SQL
    form's ``OVER (ORDER BY doc_id)`` collapsed it)."""
    from .scale import binned_prefix_ops

    spark = docs.sparkSession
    tok2 = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "t"
        ),
    ).filter(F.col("t") != "")
    per_doc = tok2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    new_types = (
        tok2.groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__nt0"))
    )
    d = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n",
        F.coalesce("__nt0", F.lit(0)).cast("long").alias("nt"),
    )
    ord_df = binned_prefix_ops(
        d,
        ["doc_id"],
        sum_cols={"cum_tokens": "n", "cum_types": "nt"},
        rank_col="rn",
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    ks = spark.range(1, 11).select(F.col("id").cast("long").alias("__k"))
    checkpoint = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("__nd") * F.col("__k") / F.lit(10.0)).cast("long"),
    )
    pts = (
        ord_df.crossJoin(F.broadcast(nd))
        .join(F.broadcast(ks), F.col("rn") == checkpoint)
        .select(
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("cum_types").cast("long").alias("cum_types"),
            "rn",
        )
        .distinct()
    )
    ln_types = F.log(F.col("cum_types").cast("double"))
    ln_tokens = F.log(F.col("cum_tokens").cast("double"))
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("cum_types").cast("long").alias("total_types"),
        (F.round(F.regr_slope(ln_types, ln_tokens), 6) + F.lit(0.0)).alias(
            "heaps_beta"
        ),
        (
            F.round(F.exp(F.regr_intercept(ln_types, ln_tokens)), 2)
            + F.lit(0.0)
        ).alias("heaps_k"),
    )


def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heaps_law_fit(_docs(spark, sf_dir))


def vocab_overlap_sources(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: |Va ∩ Vb| /
    |Va ∪ Vb| over distinct token TYPE sets — the cheap corpus-mixing
    diagnostic (near-1 pairs are the same distribution twice; near-0
    pairs genuinely diversify the mixture).  One distinct (source,
    type) frame, a type-keyed self-join for intersections (types are
    the join key — never a cross join of sources), and exact integer
    division at the end."""
    vocab = (
        docs.select(
            F.col(group_col), F.explode(tokens(text_col)).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    from ..cache import persist

    vocab = persist(vocab)  # consumed by sizes AND both join sides
    sizes = vocab.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    a = vocab.select(F.col(group_col).alias("src_a"), "tok")
    b = vocab.select(F.col(group_col).alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = sizes.select(
        F.col(group_col).alias("src_a"), F.col("n_types").alias("na")
    )
    sb = sizes.select(
        F.col(group_col).alias("src_b"), F.col("n_types").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "na",
            "nb",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def q_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_overlap_sources(_docs(spark, sf_dir))


def zipf_slope(
    docs: DataFrame, text_col: str = "text", top: int = 200
) -> DataFrame:
    """Zipf log-log fit over the top-``top`` token frequencies: slope
    of ``ln(freq) ~ ln(rank)`` (natural prose ~ -1; a corpus whose
    slope drifts toward 0 is template/boilerplate-heavy, steeper than
    -1.5 suggests vocabulary collapse).  Rank ties break on token text
    so both engines rank identically; the regression runs over
    ``top`` bounded rows via the closed-form regr_* aggregates."""
    counts = (
        docs.select(F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = counts.select(
        F.row_number().over(w).alias("rnk"), "c"
    ).filter(F.col("rnk") <= top)
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("c").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.round(F.regr_slope(y, x), 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_intercept(y, x), 6) + F.lit(0.0)).alias(
            "zipf_intercept"
        ),
        (F.round(F.regr_r2(y, x), 4) + F.lit(0.0)).alias("zipf_r2"),
    )


def q_char_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy(_docs(spark, sf_dir))


def q_hapax_legomena_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hapax_report(_docs(spark, sf_dir))


def q_zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_slope(_docs(spark, sf_dir), top=200)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "text_profile": q_text_profile,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_readability": q_text_readability,
        "doc_fingerprint": q_doc_fingerprint,
        "top_keywords": q_top_keywords,
        "token_counts": q_token_counts,
        "doc_chunks": q_doc_chunks,
        "similar_documents": q_similar_documents,
        "lm_bits_per_token": q_lm_bits_per_token,
        "dsir_importance": q_dsir_importance,
        "source_divergence": q_source_divergence,
        "bm25_search": q_bm25_search,
        "doc_novelty": q_doc_novelty,
        "doc_novelty_hashed": q_doc_novelty_hashed,
        "char_entropy_report": q_char_entropy_report,
        "hapax_legomena_report": q_hapax_legomena_report,
        "zipf_slope_tokens": q_zipf_slope_tokens,
        "token_burstiness": q_token_burstiness,
        "heaps_law_fit": q_heaps_law_fit,
        "vocab_overlap_sources": q_vocab_overlap_sources,
    }


_PROFILE_SQL = """
    SELECT doc_id,
           len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
           length(text) AS n_chars_raw,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
           round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 / greatest(length(text), 1), 4) AS alpha_ratio,
           round(CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
                 / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1), 4)
             AS avg_token_span
    FROM documents
"""


def _marker_hits_sql(lang: str) -> str:
    terms = [
        "CAST((length(p) - length(replace(p, '{m}', ''))) / {n} AS BIGINT)".format(
            m=m, n=len(m)
        )
        for m in LANG_MARKERS[lang]
    ]
    return " + ".join(terms)


def _lang_guess_sql() -> str:
    # mirrors lang_guess(): iterate languages in fixed order, strict > keeps
    # the first language on ties
    langs = list(LANG_MARKERS)
    hit_cols = ", ".join(f"{_marker_hits_sql(l)} AS h_{l}" for l in langs)
    guess = "'und'"
    best = "CAST(0 AS BIGINT)"
    for l in langs:
        guess = f"CASE WHEN h_{l} > {best} THEN '{l}' ELSE {guess} END"
        best = f"CASE WHEN h_{l} > {best} THEN h_{l} ELSE {best} END"
    return f"""
        WITH padded AS (
          SELECT doc_id, concat(' ', lower(text), ' ') AS p FROM documents),
        hits AS (SELECT doc_id, {hit_cols} FROM padded)
        SELECT {guess} AS lang_guess, count(*) AS n_docs FROM hits GROUP BY 1
    """


def oracle_sql() -> dict[str, str]:
    return {
        "char_entropy_report": """
            WITH chars AS (
              SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch
              FROM documents,
                   unnest(generate_series(1, length(text))) AS t(i)
              WHERE length(text) >= 1),
            cnt AS (
              SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
              FROM chars GROUP BY 1, 2),
            agg AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                     sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS s
              FROM cnt GROUP BY 1)
            SELECT doc_id, n AS n_chars_counted,
                   round(log2(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 4)
                     + CAST(0.0 AS DOUBLE) AS entropy_bits
            FROM agg ORDER BY doc_id
        """,
        "hapax_legomena_report": r"""
            WITH toks AS (
              SELECT source,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS tok
              FROM documents),
            per AS (
              SELECT source, tok, CAST(count(*) AS BIGINT) AS c
              FROM toks WHERE tok <> '' GROUP BY 1, 2)
            SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hapax,
                   round(CAST(count(*) AS DOUBLE)
                         / CAST(sum(c) AS DOUBLE), 6) AS ttr,
                   round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6) AS hapax_share
            FROM per GROUP BY 1 ORDER BY 1
        """,
        "vocab_overlap_sources": r"""
            WITH vocab AS (
              SELECT DISTINCT source, tok FROM (
                SELECT source,
                       unnest(string_split_regex(trim(lower(text)), '\s+'))
                         AS tok
                FROM documents)
              WHERE tok <> ''),
            sizes AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_types
              FROM vocab GROUP BY 1),
            inter AS (
              SELECT a.source AS src_a, b.source AS src_b,
                     CAST(count(*) AS BIGINT) AS n_inter
              FROM vocab a JOIN vocab b
                ON a.tok = b.tok AND a.source < b.source
              GROUP BY 1, 2)
            SELECT i.src_a, i.src_b,
                   sa.n_types AS na, sb.n_types AS nb, i.n_inter,
                   round(CAST(i.n_inter AS DOUBLE)
                         / CAST(sa.n_types + sb.n_types - i.n_inter
                                AS DOUBLE), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.source = i.src_a
            JOIN sizes sb ON sb.source = i.src_b
            ORDER BY i.src_a, i.src_b
        """,
        "heaps_law_fit": r"""
            WITH tok2 AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS t
              FROM documents),
            tok AS (SELECT doc_id, t FROM tok2 WHERE t <> ''),
            per_doc AS (
              SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
            first_seen AS (
              SELECT t, min(doc_id) AS fd FROM tok GROUP BY 1),
            new_types AS (
              SELECT fd AS doc_id, count(*) AS nt FROM first_seen
              GROUP BY 1),
            ord AS (
              SELECT d.doc_id,
                     sum(d.n) OVER (ORDER BY d.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens,
                     sum(coalesce(t.nt, 0)) OVER (ORDER BY d.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_types,
                     row_number() OVER (ORDER BY d.doc_id) AS rn,
                     count(*) OVER () AS nd
              FROM per_doc d LEFT JOIN new_types t ON d.doc_id = t.doc_id),
            pts AS (
              SELECT DISTINCT CAST(cum_tokens AS BIGINT) AS cum_tokens,
                     CAST(cum_types AS BIGINT) AS cum_types, rn
              FROM ord JOIN (SELECT unnest(generate_series(1, 10)) AS k)
                ON rn = greatest(CAST(1 AS BIGINT),
                       CAST(floor(nd * k / CAST(10 AS DOUBLE)) AS BIGINT)))
            SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(max(cum_tokens) AS BIGINT) AS total_tokens,
                   CAST(max(cum_types) AS BIGINT) AS total_types,
                   round(regr_slope(ln(CAST(cum_types AS DOUBLE)),
                                    ln(CAST(cum_tokens AS DOUBLE))), 6)
                     + CAST(0.0 AS DOUBLE) AS heaps_beta,
                   round(exp(regr_intercept(
                             ln(CAST(cum_types AS DOUBLE)),
                             ln(CAST(cum_tokens AS DOUBLE)))), 2)
                     + CAST(0.0 AS DOUBLE) AS heaps_k
            FROM pts
        """,
        "token_burstiness": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS tok
              FROM documents),
            per_doc AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
              FROM toks WHERE tok <> '' GROUP BY 1, 2),
            per_tok AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS df,
                     CAST(sum(c) AS BIGINT) AS cf
              FROM per_doc GROUP BY 1)
            SELECT tok, df, cf,
                   round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6)
                     AS burstiness
            FROM per_tok WHERE df >= 5
            ORDER BY burstiness DESC, tok ASC LIMIT 20
        """,
        "zipf_slope_tokens": r"""
            WITH counts AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                                     '\s+')) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1),
            ranked AS (
              SELECT row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk, c
              FROM counts
              QUALIFY rnk <= 200)
            SELECT CAST(count(*) AS BIGINT) AS n_terms,
                   round(regr_slope(ln(CAST(c AS DOUBLE)),
                                    ln(CAST(rnk AS DOUBLE))), 6)
                     + CAST(0.0 AS DOUBLE) AS zipf_slope,
                   round(regr_intercept(ln(CAST(c AS DOUBLE)),
                                        ln(CAST(rnk AS DOUBLE))), 6)
                     + CAST(0.0 AS DOUBLE) AS zipf_intercept,
                   round(regr_r2(ln(CAST(c AS DOUBLE)),
                                 ln(CAST(rnk AS DOUBLE))), 4)
                     + CAST(0.0 AS DOUBLE) AS zipf_r2
            FROM ranked
        """,
        "doc_chunks": """
            WITH base AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents
              WHERE text IS NOT NULL AND trim(text) <> ''),
            starts AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 1, 40)) AS s
              FROM base)
            SELECT doc_id,
                   CAST(s // 40 AS INT) AS chunk_id,
                   array_to_string(list_slice(toks, s + 1, s + 50), ' ')
                     AS chunk_text,
                   CAST(len(list_slice(toks, s + 1, s + 50)) AS INT) AS n_tokens
            FROM starts
        """,
        "doc_novelty": r"""
            WITH words AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS w
              FROM documents),
            grams AS (
              SELECT DISTINCT doc_id,
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)],
                                     ' ') AS gram
              FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)
              WHERE len(w) >= 5),
            dfs AS (SELECT gram, count(*) AS df FROM grams GROUP BY 1)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS novelty
            FROM grams JOIN dfs USING (gram)
            GROUP BY 1
        """,
        "bm25_search": r"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok
              WHERE term IN ('spark', 'query', 'data')
              GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
            stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
              FROM dl),
            dfq AS (
              SELECT term, CAST(count(*) AS DOUBLE) AS df
              FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                     sum(ln(CAST(1.0 AS DOUBLE)
                            + (n_docs - df + CAST(0.5 AS DOUBLE))
                              / (df + CAST(0.5 AS DOUBLE)))
                         * tf * CAST(2.2 AS DOUBLE)
                         / (tf + CAST(1.2 AS DOUBLE)
                                 * (CAST(0.25 AS DOUBLE)
                                    + CAST(0.75 AS DOUBLE) * dl / avgdl)))
                       AS s
              FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
              JOIN dfq USING (term)
              GROUP BY 1)
            SELECT doc_id, round(s, 4) + CAST(0.0 AS DOUBLE) AS bm25
            FROM scored
            ORDER BY round(s, 4) + CAST(0.0 AS DOUBLE) DESC, doc_id
            LIMIT 10
        """,
        "text_profile": _PROFILE_SQL,
        "text_lang_id": _lang_guess_sql(),
        "text_readability": r"""
            WITH base AS (
              SELECT doc_id, text,
                     len(string_split_regex(trim(lower(text)), '\s+'))
                       AS n_words,
                     greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sentences,
                     greatest(len(regexp_extract_all(lower(text),
                                                     '[aeiouy]+')), 1)
                       AS n_syllables
              FROM documents WHERE text IS NOT NULL)
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   CAST(n_sentences AS BIGINT) AS n_sentences,
                   CAST(n_syllables AS BIGINT) AS n_syllables,
                   round(CAST(206.835 AS DOUBLE)
                         - CAST(1.015 AS DOUBLE) * (n_words / n_sentences)
                         - CAST(84.6 AS DOUBLE) * (n_syllables / n_words), 2)
                     AS reading_ease
            FROM base WHERE n_words >= 1
        """,
        "text_quality": """
            WITH s AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) AS n_tok,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                       / greatest(length(text), 1) AS punct_ratio,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       / greatest(length(text), 1) AS alpha_ratio
              FROM documents)
            SELECT doc_id,
                   round(0.3 * least(n_tok / 100.0, 1.0)
                         + 0.4 * alpha_ratio
                         + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)), 4) AS quality_score,
                   round(0.3 * least(n_tok / 100.0, 1.0)
                         + 0.4 * alpha_ratio
                         + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)), 4) < 0.5
                     AS is_low_quality
            FROM s
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "token_counts": """
            SELECT doc_id,
                   len(string_split_regex(trim(lower(text)), '\\s+')) AS ws_tokens,
                   len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))
                     AS bpe_ish_tokens
            FROM documents
        """,
        "similar_documents": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfs AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
              HAVING count(*) <= 100),
            n AS (SELECT count(*) AS n_docs FROM documents),
            w AS (
              SELECT doc_id, term,
                     tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
              FROM tf JOIN dfs USING (term) CROSS JOIN n),
            norms AS (
              SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
            dots AS (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     sum(a.w * b.w) AS dp
              FROM w a JOIN w b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_id_a, doc_id_b,
                   round(dp / (na.nrm * nb.nrm), 4) AS cosine_tfidf
            FROM dots
            JOIN norms na ON doc_id_a = na.doc_id
            JOIN norms nb ON doc_id_b = nb.doc_id
            WHERE round(dp / (na.nrm * nb.nrm), 4) >= 0.3
        """,
        "top_keywords": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfs AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term,
                     round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
              FROM tf JOIN dfs USING (term) CROSS JOIN n)
            SELECT doc_id, term, tfidf, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term ASC) AS rnk
              FROM scored)
            WHERE rnk <= 3
        """,

        "dsir_importance": """
            WITH base AS (
              SELECT doc_id, lang,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents
              WHERE text IS NOT NULL
                AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 2),
            e AS (
              SELECT doc_id, lang, unnest(t) AS w,
                     generate_subscripts(t, 1) AS i
              FROM base),
            bg AS (
              SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
              FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
            bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
            cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY 1),
            v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
            tbc AS (SELECT w1, w2, count(*) AS cb FROM bg
                    WHERE lang = 'en' GROUP BY 1, 2),
            tcc AS (SELECT w1, count(*) AS cc FROM bg
                    WHERE lang = 'en' GROUP BY 1),
            tv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e
                   WHERE lang = 'en'),
            corpus AS (
              SELECT bg.doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(-sum(log2((cb + CAST(0.5 AS DOUBLE))
                                     / (cc + CAST(0.5 AS DOUBLE) * vs)))
                           / count(*), 4) AS bits_corpus
              FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
              GROUP BY 1),
            tgt AS (
              SELECT bg.doc_id,
                     round(-sum(log2((CAST(coalesce(tbc.cb, 0) AS DOUBLE)
                                      + CAST(0.5 AS DOUBLE))
                                     / (CAST(coalesce(tcc.cc, 0) AS DOUBLE)
                                        + CAST(0.5 AS DOUBLE) * tv.vs)))
                           / count(*), 4) AS bits_target
              FROM bg LEFT JOIN tbc USING (w1, w2) LEFT JOIN tcc USING (w1)
              CROSS JOIN tv
              GROUP BY 1)
            SELECT corpus.doc_id, n_bigrams,
                   round(bits_corpus - bits_target, 4) AS llr_per_token
            FROM corpus JOIN tgt USING (doc_id)
            ORDER BY llr_per_token DESC, doc_id ASC
            LIMIT 100
        """,
        "lm_bits_per_token": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents
              WHERE text IS NOT NULL
                AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 2),
            e AS (
              SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
              FROM base),
            bg AS (
              SELECT a.doc_id, a.w AS w1, b.w AS w2
              FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
            bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
            cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY 1),
            v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e)
            SELECT bg.doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(-sum(log2((cb + CAST(0.5 AS DOUBLE))
                                   / (cc + CAST(0.5 AS DOUBLE) * vs)))
                         / count(*), 4) AS bits_per_token
            FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
            GROUP BY 1
        """,
        "source_divergence": """
            WITH tok AS (
              SELECT source,
                     unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents WHERE text IS NOT NULL),
            sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
            stot AS (
              SELECT source, CAST(sum(c) AS DOUBLE) AS st FROM sw GROUP BY 1),
            wt AS (SELECT w, CAST(sum(c) AS DOUBLE) AS cw FROM sw GROUP BY 1),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM sw),
            j AS (
              SELECT sw.source, sw.c / st AS p, cw / t AS q
              FROM sw JOIN stot USING (source) JOIN wt USING (w)
              CROSS JOIN tot)
            SELECT source,
                   round(CAST(0.5 AS DOUBLE)
                           * sum(p * log2(2 * p / (p + q))
                                 + q * log2(2 * q / (p + q)))
                         + CAST(0.5 AS DOUBLE) * (1 - sum(q)), 6)
                     AS js_divergence
            FROM j GROUP BY 1
        """,
    }
