"""Unigram-LM (SentencePiece-style) subword tokenizer training via EM.

The second trainable tokenizer next to :mod:`bpe` — where BPE greedily
merges pairs, the unigram model starts from an over-complete candidate
vocabulary and fits piece probabilities with EM over each word's
segmentation lattice (Kudo 2018), then prunes: the standard algorithm
behind SentencePiece's default model.

Scale design (the same posture as BPE / langid training):

- **One corpus pass, total.**  Training operates on the word-frequency
  table (:func:`bpe.word_frequencies`) — the 100 TB corpus is touched
  once; every EM iteration runs over the vocab-sized word table.
- **E-step is an Arrow-batched ``mapInPandas``** over the word table:
  per word, forward-backward over the segmentation lattice yields the
  expected count of every piece (exact, per-word O(len·max_piece_len)),
  scaled by the word's corpus frequency.  Words are short, so the
  lattice fits comfortably in float64 with no rescaling.
- **M-step is a vocab-bounded collect**: piece expected counts reduce
  through one ``groupBy().sum()`` and only the vocab (thousands of
  rows, corpus-size-independent) reaches the driver, where
  renormalization is O(vocab).
- **Deterministic**: candidate selection breaks frequency ties
  lexicographically; Viterbi tie-breaks prefer the LONGEST first piece.
  EM expected counts are exact per word; cross-word float summation
  order is the only nondeterminism (last-ulp — the pytest compares to a
  pure-Python reference at 1e-9 and the piece RANKING exactly).

No counterpart in the reference repo; extends the LLM-data-pipeline
tier (SURVEY.md "beyond the reference" brief).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist
from .bpe import word_frequencies

__all__ = [
    "candidate_vocab",
    "unigram_em",
    "unigram_viterbi_segment",
    "train_unigram",
]


def candidate_vocab(
    word_freqs: DataFrame,
    max_piece_len: int = 6,
    max_vocab: int = 1000,
) -> DataFrame:
    """Over-complete candidate pieces: every substring (length 1 to
    ``max_piece_len``) of every vocab word, weighted by word frequency.

    ALL single characters are always kept (they guarantee every word
    segments); multi-char pieces keep the ``max_vocab`` most frequent,
    ties broken lexicographically.  Substring generation is pure JVM
    (nested ``transform`` over index sequences -> flatten -> explode),
    and the frequency cut is a bounded top-k, so the whole stage is one
    shuffle over the word table.  Returns (piece, count, is_char).
    """
    # substring with two Column args needs expr() (the Python helper
    # accepts only int pos/len)
    pieces = (
        word_freqs.filter(F.length("word") >= 1)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(1, least({int(max_piece_len)}, "
                    "length(word) - i + 1)), l -> substring(word, i, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("count"))
        .withColumn("is_char", F.length("piece") == 1)
    )
    # the chars/multi branches below would otherwise each re-run the
    # substring explode + sum shuffle — cache the aggregate once
    pieces = persist(pieces)
    chars = pieces.filter(F.col("is_char"))
    multi = (
        pieces.filter(~F.col("is_char"))
        .orderBy(F.col("count").desc(), F.col("piece").asc())
        .limit(int(max_vocab))
    )
    return chars.unionByName(multi)


def _lattice_expected_counts(
    word: str, freq: int, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Exact forward-backward over one word's segmentation lattice.

    Returns (piece -> expected count * freq, log-likelihood * freq).
    Probabilities stay in normal space — pieces are >= exp(-50) and
    words are short, so the lattice marginals sit far above underflow.
    """
    n = len(word)
    p = {}
    for j in range(n):
        for ln in range(1, min(max_len, n - j) + 1):
            piece = word[j : j + ln]
            lp = logp.get(piece)
            if lp is not None:
                p[(j, j + ln)] = math.exp(lp)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for i in range(1, n + 1):
        s = 0.0
        for j in range(max(0, i - max_len), i):
            pe = p.get((j, i))
            if pe is not None:
                s += alpha[j] * pe
        alpha[i] = s
    if alpha[n] <= 0.0:
        # unsegmentable under this vocab (cannot happen when all chars
        # are in-vocab); contribute nothing rather than poison the sums
        return {}, 0.0
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for j in range(n - 1, -1, -1):
        s = 0.0
        for i in range(j + 1, min(n, j + max_len) + 1):
            pe = p.get((j, i))
            if pe is not None:
                s += pe * beta[i]
        beta[j] = s
    z = alpha[n]
    counts: dict[str, float] = {}
    for (j, i), pe in p.items():
        gamma = alpha[j] * pe * beta[i] / z
        if gamma > 0.0:
            piece = word[j:i]
            counts[piece] = counts.get(piece, 0.0) + gamma * freq
    return counts, math.log(z) * freq


def unigram_em(
    word_freqs: DataFrame,
    init_counts: dict[str, float],
    iterations: int = 4,
    max_piece_len: int = 6,
) -> tuple[dict[str, float], list[float]]:
    """EM over the word table: returns (piece -> probability,
    per-iteration corpus log-likelihoods).

    Each iteration is ONE distributed job (mapInPandas E-step +
    ``groupBy().sum()`` M-step reduce); only the vocab-sized count
    frame reaches the driver.  ``init_counts`` seeds the first
    probability estimate (any positive weights; normalized here)."""
    spark = word_freqs.sparkSession
    total0 = sum(init_counts.values())
    probs = {k: v / total0 for k, v in init_counts.items()}
    logliks: list[float] = []
    src = word_freqs.select("word", "freq")
    for _ in range(int(iterations)):
        logp = {k: math.log(v) for k, v in probs.items() if v > 0.0}
        bc = spark.sparkContext.broadcast(logp)
        ml = int(max_piece_len)

        def estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lp = bc.value
            for pdf in batches:
                acc: dict[str, float] = {}
                ll = 0.0
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    cnts, wll = _lattice_expected_counts(
                        str(word), int(freq), lp, ml
                    )
                    ll += wll
                    for piece, c in cnts.items():
                        acc[piece] = acc.get(piece, 0.0) + c
                out = pd.DataFrame(
                    {
                        "piece": list(acc.keys()) + ["\x00ll"],
                        "val": list(acc.values()) + [ll],
                    }
                )
                yield out

        reduced = (
            src.mapInPandas(estep, "piece string, val double")
            .groupBy("piece")
            .agg(F.sum("val").alias("val"))
            .collect()
        )
        counts = {r["piece"]: r["val"] for r in reduced}
        logliks.append(counts.pop("\x00ll", 0.0))
        total = sum(counts.values())
        if total <= 0:
            raise ValueError("EM collapsed: no piece received mass")
        probs = {k: v / total for k, v in counts.items()}
    return probs, logliks


def prune_vocab(
    probs: dict[str, float], min_prob: float = 1e-6
) -> dict[str, float]:
    """Drop multi-char pieces below ``min_prob`` (single characters are
    never pruned — they guarantee segmentability), renormalized."""
    kept = {
        k: v
        for k, v in probs.items()
        if len(k) == 1 or v >= float(min_prob)
    }
    total = sum(kept.values())
    return {k: v / total for k, v in kept.items()}


def unigram_viterbi_segment(
    word: str, logp: dict[str, float], max_len: int = 6
) -> list[str]:
    """Best segmentation (max sum of piece log-probs).  Deterministic
    tie-break: the LONGER piece ending at each position wins (scanned
    longest-first, strict improvement required to replace)."""
    n = len(word)
    best = [-math.inf] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for ln in range(min(max_len, i), 0, -1):
            j = i - ln
            lp = logp.get(word[j:i])
            if lp is None:
                # unknown single char: floor prob keeps every word
                # segmentable on unseen text
                if ln == 1:
                    lp = -50.0
                else:
                    continue
            cand = best[j] + lp
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    return pieces[::-1]


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 6,
    max_vocab: int = 1000,
    iterations: int = 4,
    prune_min_prob: float = 1e-6,
    min_word_freq: int = 1,
    word_freqs: DataFrame | None = None,
) -> tuple[dict[str, float], list[float]]:
    """End-to-end: word table -> candidate vocab -> EM -> prune ->
    one consolidation EM pass.  Returns (probs, logliks).

    ``word_freqs`` (optional) is a prebuilt UNFILTERED (word, freq)
    table — callers that already materialized one (e.g. to also
    compute fertility) pass it in and the ``min_word_freq`` filter
    applies here, avoiding a duplicate corpus pass."""
    # ONE corpus pass, enforced (r13): the word table is consumed by
    # candidate_vocab plus every EM pass — without materialization each
    # consumer lazily re-derived the tokenize+explode+groupBy corpus
    # scan (the module contract said one pass; the plan ran four).
    # Lazy checkpoint: the candidate collect below materializes it.
    if word_freqs is not None:
        wf = word_freqs.filter(F.col("freq") >= int(min_word_freq))
    else:
        wf = word_frequencies(docs, text_col, min_freq=min_word_freq)
    wf = wf.localCheckpoint(eager=False)
    cand = candidate_vocab(wf, max_piece_len, max_vocab)
    init = {r["piece"]: float(r["count"]) for r in cand.collect()}
    probs, logliks = unigram_em(wf, init, iterations, max_piece_len)
    pruned = prune_vocab(probs, prune_min_prob)
    probs2, ll2 = unigram_em(wf, pruned, 1, max_piece_len)
    return probs2, logliks + ll2


def q_unigram_tokenizer_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train the unigram tokenizer on the documents table and report
    the top-30 multi-char pieces plus corpus fertility. Rows-only: EM
    has no SQL equivalent (exactness vs a pure-Python reference EM and
    the EM loglik-monotonicity guarantee are pytested in
    tests/test_unigram.py)."""
    from ..session import configure_runtime
    from ..sources import load_table

    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus pass total (r13): the unfiltered word table feeds both
    # training (min_word_freq filter applied inside train_unigram) and
    # the fertility report below — the old shape ran a SECOND full
    # corpus pass that Viterbi-segmented every word OCCURRENCE in
    # Python; fertility is Σ freq and Σ freq·|segment(word)|, so
    # segmenting each DISTINCT word once is arithmetically identical
    # (guide §4.1: shrink what crosses the Python boundary).
    wf_full = word_frequencies(docs, "text", min_freq=1).localCheckpoint(
        eager=False
    )
    probs, _ = train_unigram(
        docs, max_vocab=400, iterations=2, min_word_freq=2,
        word_freqs=wf_full,
    )
    top = sorted(
        ((p, v) for p, v in probs.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:30]
    logp = {k: math.log(v) for k, v in probs.items() if v > 0.0}
    bc = spark.sparkContext.broadcast(logp)

    def pieces_per_word(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        lp = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "freq": pdf["freq"],
                    "np": [
                        len(unigram_viterbi_segment(str(w), lp, 6))
                        for w in pdf["word"]
                    ],
                }
            )

    fert = (
        wf_full.select("word", "freq")
        .mapInPandas(pieces_per_word, "freq long, np long")
        .agg(
            F.sum("freq").alias("w"),
            F.sum(F.col("freq") * F.col("np")).alias("p"),
        )
        .collect()[0]
    )
    rows = [
        (i + 1, p, round(v, 6), int(fert["w"]), int(fert["p"]))
        for i, (p, v) in enumerate(top)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, piece string, prob double, corpus_words long, "
        "corpus_pieces long",
    )
