"""Unigram-LM tokenizer: lattice exactness vs brute-force enumeration,
EM loglik monotonicity, distributed == pure-Python reference, Viterbi
optimality, end-to-end learnability."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import unigram


def _all_segmentations(word: str, vocab: set[str], max_len: int):
    """Every segmentation of word into vocab pieces (brute force)."""
    if word == "":
        yield []
        return
    for ln in range(1, min(max_len, len(word)) + 1):
        head = word[:ln]
        if head in vocab:
            for rest in _all_segmentations(word[ln:], vocab, max_len):
                yield [head] + rest


def _brute_expected_counts(word, freq, logp, max_len):
    """Independent reference: enumerate ALL segmentations, weight by
    their product probability, and average piece counts."""
    vocab = set(logp)
    segs = list(_all_segmentations(word, vocab, max_len))
    weights = [
        math.exp(sum(logp[p] for p in seg)) for seg in segs
    ]
    z = sum(weights)
    if z == 0:
        return {}, 0.0
    counts: dict[str, float] = {}
    for seg, w in zip(segs, weights):
        for p in seg:
            counts[p] = counts.get(p, 0.0) + w / z * freq
    return counts, math.log(z) * freq


VOCAB0 = {
    "a": 4.0, "b": 3.0, "n": 2.0, "s": 1.0,
    "an": 2.0, "ba": 1.5, "na": 2.5, "ana": 1.0, "nan": 0.5,
}


def _norm(d):
    t = sum(d.values())
    return {k: v / t for k, v in d.items()}


def test_lattice_counts_match_bruteforce():
    probs = _norm(VOCAB0)
    logp = {k: math.log(v) for k, v in probs.items()}
    for word, freq in (("banana", 3), ("anna", 2), ("bananas", 1), ("b", 5)):
        got_c, got_ll = unigram._lattice_expected_counts(
            word, freq, logp, 3
        )
        want_c, want_ll = _brute_expected_counts(word, freq, logp, 3)
        assert got_c.keys() == want_c.keys(), word
        for p in want_c:
            assert got_c[p] == pytest.approx(want_c[p], abs=1e-12), (word, p)
        assert got_ll == pytest.approx(want_ll, abs=1e-12), word


def test_lattice_unsegmentable_contributes_nothing():
    logp = {"a": math.log(0.5)}
    counts, ll = unigram._lattice_expected_counts("ab", 1, logp, 3)
    assert counts == {} and ll == 0.0


CORPUS = [
    (1, "banana banana ban"),
    (2, "ana banana nab"),
    (3, "ban ban nab banana"),
]


def _ref_em(word_freqs, init, iterations, max_len):
    probs = _norm(init)
    lls = []
    for _ in range(iterations):
        logp = {k: math.log(v) for k, v in probs.items() if v > 0}
        acc: dict[str, float] = {}
        ll = 0.0
        for w in sorted(word_freqs):
            c, wll = _brute_expected_counts(w, word_freqs[w], logp, max_len)
            ll += wll
            for p, v in c.items():
                acc[p] = acc.get(p, 0.0) + v
        lls.append(ll)
        probs = _norm(acc)
    return probs, lls


def test_distributed_em_matches_pure_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wf = unigram.word_frequencies(docs)
    word_freqs = {r["word"]: r["freq"] for r in wf.collect()}
    cand = unigram.candidate_vocab(wf, max_piece_len=3, max_vocab=50)
    init = {r["piece"]: float(r["count"]) for r in cand.collect()}

    got_probs, got_lls = unigram.unigram_em(
        wf, init, iterations=3, max_piece_len=3
    )
    want_probs, want_lls = _ref_em(word_freqs, init, 3, 3)

    assert got_probs.keys() == want_probs.keys()
    for p in want_probs:
        assert got_probs[p] == pytest.approx(want_probs[p], rel=1e-9), p
    for g, w in zip(got_lls, want_lls):
        assert g == pytest.approx(w, rel=1e-9)
    # same ranking exactly
    rank = lambda d: sorted(d, key=lambda k: (-d[k], k))  # noqa: E731
    assert rank(got_probs) == rank(want_probs)


def test_em_loglik_monotone(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wf = unigram.word_frequencies(docs)
    cand = unigram.candidate_vocab(wf, max_piece_len=3, max_vocab=50)
    init = {r["piece"]: float(r["count"]) for r in cand.collect()}
    _, lls = unigram.unigram_em(wf, init, iterations=4, max_piece_len=3)
    assert len(lls) == 4
    for a, b in zip(lls, lls[1:]):
        assert b >= a - 1e-9, lls  # EM guarantee


def test_probs_normalized_and_prune_keeps_chars():
    probs = _norm(VOCAB0)
    pruned = unigram.prune_vocab(probs, min_prob=0.15)
    assert sum(pruned.values()) == pytest.approx(1.0, abs=1e-12)
    for ch in ("a", "b", "n", "s"):
        assert ch in pruned  # single chars never pruned


def test_viterbi_matches_bruteforce_best():
    probs = _norm(VOCAB0)
    logp = {k: math.log(v) for k, v in probs.items()}
    for word in ("banana", "anna", "nananab"):
        seg = unigram.unigram_viterbi_segment(word, logp, max_len=3)
        assert "".join(seg) == word
        best_brute = max(
            (
                sum(logp[p] for p in s)
                for s in _all_segmentations(word, set(logp), 3)
            ),
        )
        assert sum(logp[p] for p in seg) == pytest.approx(
            best_brute, abs=1e-12
        )


def test_viterbi_unknown_char_fallback():
    logp = {"a": math.log(0.9)}
    seg = unigram.unigram_viterbi_segment("axa", logp, max_len=3)
    assert seg == ["a", "x", "a"]


def test_train_learns_frequent_word_as_piece(spark):
    rows = [(i, "spark engine " * 5) for i in range(20)] + [
        (100 + i, "query plan shuffle") for i in range(3)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probs, lls = unigram.train_unigram(
        docs, max_piece_len=6, max_vocab=100, iterations=3
    )
    assert sum(probs.values()) == pytest.approx(1.0, abs=1e-9)
    multi = sorted(
        ((p, v) for p, v in probs.items() if len(p) > 1),
        key=lambda kv: -kv[1],
    )
    top_pieces = [p for p, _ in multi[:6]]
    # the dominant 5/6-char words must surface as whole-ish pieces
    assert any(p in ("spark", "engine", "engin", "ngine") for p in top_pieces), multi[:10]
