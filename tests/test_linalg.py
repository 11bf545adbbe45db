"""Distributed linear algebra: one-pass PCA stats and Markov chains.

Every exact claim is verified against a direct numpy computation on the
same rows — the distributed path must match the in-memory path to float
tolerance regardless of partition layout.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from wistia_video_analytics_project_spark.operators import linalg
from wistia_video_analytics_project_spark.sources.readers import load_table


def _emb_matrix(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    return emb, np.array([np.asarray(r["embedding"], dtype=np.float64)
                          for r in rows])


def test_sufficient_stats_match_numpy(spark):
    emb, mat = _emb_matrix(spark)
    n, s, g = linalg.sufficient_stats(emb, "embedding", 64)
    assert n == mat.shape[0]
    np.testing.assert_allclose(s, mat.sum(axis=0), rtol=1e-9)
    np.testing.assert_allclose(g, mat.T @ mat, rtol=1e-9)


def test_sufficient_stats_layout_independent(spark):
    emb, _ = _emb_matrix(spark)
    n1, s1, g1 = linalg.sufficient_stats(emb, "embedding", 64)
    n2, s2, g2 = linalg.sufficient_stats(
        emb.repartition(13, "vec_id"), "embedding", 64
    )
    assert n1 == n2
    np.testing.assert_allclose(s1, s2, rtol=1e-12)
    np.testing.assert_allclose(g1, g2, rtol=1e-12)


def test_covariance_matches_numpy(spark):
    emb, mat = _emb_matrix(spark)
    cov = linalg.covariance_matrix(emb, "embedding", 64)
    np.testing.assert_allclose(
        cov, np.cov(mat, rowvar=False, ddof=1), rtol=1e-8, atol=1e-14
    )


def test_pca_matches_numpy_eigh(spark):
    emb, mat = _emb_matrix(spark)
    vals, ratios, comps = linalg.pca(emb, "embedding", 64, k=8)
    ref = np.linalg.eigh(np.cov(mat, rowvar=False, ddof=1))
    ref_vals = ref[0][::-1][:8]
    np.testing.assert_allclose(vals, ref_vals, rtol=1e-8)
    # descending, ratios sum <= 1, all positive for this data
    assert np.all(np.diff(vals) <= 1e-15)
    assert 0 < ratios.sum() <= 1.0 + 1e-12
    # sign convention: largest-|x| entry of each component is positive
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0
    # components are orthonormal
    np.testing.assert_allclose(comps @ comps.T, np.eye(8), atol=1e-10)


def test_pca_reconstruction_improves_with_k(spark):
    """More components never explain less variance."""
    emb, _ = _emb_matrix(spark)
    _, r4, _ = linalg.pca(emb, "embedding", 64, k=4)
    _, r16, _ = linalg.pca(emb, "embedding", 64, k=16)
    assert r16.sum() >= r4.sum() - 1e-12


def test_sufficient_stats_rejects_wrong_width(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(Exception, match="64-wide|expected"):
        linalg.sufficient_stats(emb, "embedding", 65)[0]


def test_sufficient_stats_rejects_ragged_vectors(spark):
    """Ragged input builds an object-dtype 1-D array; the intended
    ValueError diagnostic must surface, not IndexError (r4 ADVICE)."""
    df = spark.createDataFrame(
        [([1.0, 2.0],), ([1.0, 2.0, 3.0],)], "vec array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        linalg.sufficient_stats(df, "vec", 2)


def test_transition_matrix_and_stationary(spark):
    pairs = spark.createDataFrame(
        [("a", "b", 9.0), ("b", "a", 3.0), ("b", "c", 3.0), ("c", "a", 1.0)],
        "prev string, nxt string, n double",
    )
    states, probs = linalg.transition_matrix(pairs, "prev", "nxt", "n")
    assert states == ["a", "b", "c"]
    np.testing.assert_allclose(probs.sum(axis=1), np.ones(3))
    # 'a' row: all mass to b; 'c' row: all mass to a
    np.testing.assert_allclose(probs[0], [0.0, 1.0, 0.0])
    pi = linalg.stationary_distribution(probs)
    # stationary: pi P == pi, matches the dominant left eigenvector
    np.testing.assert_allclose(pi @ probs, pi, atol=1e-10)
    w, v = np.linalg.eig(probs.T)
    lead = v[:, np.argmin(np.abs(w - 1.0))].real
    lead = lead / lead.sum()
    np.testing.assert_allclose(pi, lead, atol=1e-9)


def test_transition_matrix_dangling_state_uniform():
    """A state with no outgoing transitions gets the uniform row, so the
    chain stays stochastic and power iteration converges."""
    probs = np.array([[0.0, 1.0], [0.0, 0.0]])
    row_sums = probs.sum(axis=1, keepdims=True)
    uniform = np.full((1, 2), 0.5)
    fixed = np.where(row_sums > 0, probs / np.where(row_sums == 0, 1, row_sums),
                     uniform)
    pi = linalg.stationary_distribution(fixed)
    np.testing.assert_allclose(pi @ fixed, pi, atol=1e-10)
    np.testing.assert_allclose(pi.sum(), 1.0)


def test_grouped_covariances_match_numpy(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    covs = linalg.grouped_covariances(emb, "label", "embedding", 64)
    rows = emb.select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(str(r["label"]), []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    assert set(covs) == set(by_label)
    for label, vecs in by_label.items():
        mat = np.array(vecs)
        n, mean, cov = covs[label]
        assert n == len(vecs)
        np.testing.assert_allclose(mean, mat.mean(axis=0), rtol=1e-9)
        np.testing.assert_allclose(
            cov, np.cov(mat, rowvar=False, ddof=1), rtol=1e-7, atol=1e-13
        )


def test_effective_rank_extremes():
    iso = np.eye(10)
    assert linalg.effective_rank(iso) == pytest.approx(10.0, abs=1e-9)
    rank1 = np.zeros((10, 10))
    rank1[0, 0] = 5.0
    assert linalg.effective_rank(rank1) == pytest.approx(1.0, abs=1e-9)
    assert linalg.effective_rank(np.zeros((4, 4))) == 0.0


def test_mahalanobis_matches_numpy(spark):
    emb, mat = _emb_matrix(spark)
    mean = mat.mean(axis=0)
    cov = np.cov(mat, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(np.clip(vals, 0.0, None) + 1e-6)) @ vecs.T
    ref = np.sqrt((((mat - mean) @ w.T) ** 2).sum(axis=1))

    got = linalg.mahalanobis_scores(
        emb.select("vec_id", "embedding"), "embedding", mean, cov
    ).collect()
    got.sort(key=lambda r: r["vec_id"])
    np.testing.assert_allclose(
        np.array([r["mahalanobis"] for r in got]), ref, rtol=1e-6
    )
    # schema: vector column dropped, score appended
    assert {c for c in got[0].asDict()} == {"vec_id", "mahalanobis"}


def test_mahalanobis_layout_independent(spark):
    emb, mat = _emb_matrix(spark)
    mean = mat.mean(axis=0)
    cov = np.cov(mat, rowvar=False, ddof=1)
    a = linalg.mahalanobis_scores(
        emb.select("vec_id", "embedding"), "embedding", mean, cov
    )
    b = linalg.mahalanobis_scores(
        emb.select("vec_id", "embedding").repartition(11),
        "embedding",
        mean,
        cov,
    )
    da = {r["vec_id"]: r["mahalanobis"] for r in a.collect()}
    db = {r["vec_id"]: r["mahalanobis"] for r in b.collect()}
    assert da == db


def test_grouped_covariances_keeps_null_label_cohort(spark):
    """A NULL-label cohort must surface as its own group — pandas
    groupby drops NaN groups by default, which would silently lose the
    cohort (review finding)."""
    rows = [(None if i % 2 else "a", [float(i), float(2 * i), 1.0, 0.0])
            for i in range(12)]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    covs = linalg.grouped_covariances(df, "label", "embedding", 4)
    labels = set(covs)
    assert "a" in labels
    assert len(labels) == 2  # the null cohort is present under its key
    null_key = next(k for k in labels if k != "a")
    n, mean, cov = covs[null_key]
    assert n == 6
    ref = np.array([[float(i), float(2 * i), 1.0, 0.0]
                    for i in range(12) if i % 2])
    np.testing.assert_allclose(mean, ref.mean(axis=0), rtol=1e-9)


def _ref_logistic(mat, y, iterations, ridge):
    aug = np.hstack([mat, np.ones((len(mat), 1))])
    w = np.zeros(aug.shape[1])
    losses = []
    for _ in range(iterations):
        p = 1.0 / (1.0 + np.exp(-(aug @ w)))
        pc = np.clip(p, 1e-12, 1.0 - 1e-12)
        losses.append(
            float(-(y * np.log(pc) + (1 - y) * np.log1p(-pc)).mean())
        )
        hess = (aug.T * (p * (1 - p))) @ aug + ridge * np.eye(aug.shape[1])
        w = w + np.linalg.solve(hess, aug.T @ (y - p))
    return w[:-1], float(w[-1]), losses


def test_logistic_train_matches_numpy_reference(spark):
    """Distributed Newton-IRLS equals the same iterations run in-memory,
    regardless of partition layout."""
    emb, mat = _emb_matrix(spark)
    labeled = emb.withColumn("y", (F.col("label") >= 5).cast("double"))
    rows = labeled.select("vec_id", "y").collect()
    rows.sort(key=lambda r: r["vec_id"])
    y = np.array([r["y"] for r in rows])
    want_w, want_b, want_losses = _ref_logistic(mat, y, 4, 1e-3)
    got_w, got_b, got_losses = linalg.logistic_train(
        labeled, "embedding", "y", 64, iterations=4, ridge=1e-3
    )
    np.testing.assert_allclose(got_w, want_w, rtol=1e-7, atol=1e-9)
    assert got_b == pytest.approx(want_b, rel=1e-7)
    np.testing.assert_allclose(got_losses, want_losses, rtol=1e-9)
    # layout independence
    again_w, again_b, _ = linalg.logistic_train(
        labeled.repartition(13), "embedding", "y", 64, iterations=4, ridge=1e-3
    )
    np.testing.assert_allclose(again_w, got_w, rtol=1e-7, atol=1e-9)
    # an already-cached input is not cached again: the
    # quality_classifier_train binding persists one frame, not two
    import __spark_entry__ as entrymod
    from wistia_video_analytics_project_spark.cache import release_caches

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_caches()
    before = persisted()
    entrymod.q_quality_classifier_train(spark, SF_SMOKE).collect()
    assert len(persisted() - before) == 1
    release_caches()


def test_logistic_train_separates_linear_data(spark):
    """On linearly separable 2-d data the trained margin classifies
    every point correctly and the loss is strictly decreasing."""
    rng = np.random.default_rng(3)
    pos = rng.normal(loc=[2.0, 2.0], scale=0.3, size=(40, 2))
    neg = rng.normal(loc=[-2.0, -2.0], scale=0.3, size=(40, 2))
    rows = [(i, [float(a), float(b)], 1.0) for i, (a, b) in enumerate(pos)]
    rows += [
        (100 + i, [float(a), float(b)], 0.0) for i, (a, b) in enumerate(neg)
    ]
    df = spark.createDataFrame(rows, "rid long, vec array<double>, y double")
    w, b, losses = linalg.logistic_train(df, "vec", "y", 2, iterations=6)
    assert all(b2 < a2 for a2, b2 in zip(losses, losses[1:])), losses
    scored = linalg.logistic_margin(df, "vec", w, b)
    wrong = scored.filter(
        ((F.col("margin") >= 0) & (F.col("y") == 0.0))
        | ((F.col("margin") < 0) & (F.col("y") == 1.0))
    ).count()
    assert wrong == 0


# --- isotonic (PAVA) --------------------------------------------------------


def _brute_isotonic(ys, ws):
    """O(n^2) exact isotonic LSE via the minimax formula:
    fit_i = max_{j<=i} min_{k>=j} weighted_mean(y[j..k])."""
    n = len(ys)
    out = []
    for i in range(n):
        best = -float("inf")
        for j in range(i + 1):
            m = float("inf")
            for k in range(i, n):
                num = sum(ys[t] * ws[t] for t in range(j, k + 1))
                den = sum(ws[t] for t in range(j, k + 1))
                if den > 0:
                    m = min(m, num / den)
            best = max(best, m)
        out.append(best)
    return out


def test_pava_matches_minimax_brute_force():
    from wistia_video_analytics_project_spark.operators import linalg

    ys = [3.0, 1.0, 2.0, 5.0, 4.0, 4.0, 0.5, 9.0]
    ws = [1.0, 2.0, 1.0, 3.0, 1.0, 2.0, 1.0, 1.0]
    got = linalg.pava(ys, ws)
    want = _brute_isotonic(ys, ws)
    assert got == pytest.approx(want, abs=1e-12)
    # monotone, weighted-mean preserving, L2 no worse than constant fit
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))
    assert sum(g * w for g, w in zip(got, ws)) == pytest.approx(
        sum(y * w for y, w in zip(ys, ws))
    )


def test_pava_sorted_input_is_identity_and_zero_weights():
    from wistia_video_analytics_project_spark.operators import linalg

    ys = [1.0, 2.0, 3.0]
    assert linalg.pava(ys, [1.0, 1.0, 1.0]) == ys
    # zero-weight entries fold into neighbors without crashing
    out = linalg.pava([5.0, 0.0, 6.0], [1.0, 0.0, 1.0])
    assert all(a <= b + 1e-12 for a, b in zip(out, out[1:]))
    with pytest.raises(ValueError, match="length"):
        linalg.pava([1.0], [1.0, 2.0])
    with pytest.raises(ValueError, match="non-negative"):
        linalg.pava([1.0], [-1.0])


def test_isotonic_fit_dataframe_roundtrip(spark):
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark.operators import linalg

    buckets = spark.createDataFrame(
        [(0, 2, 10), (1, 8, 10), (2, 4, 10), (3, 9, 10)],
        "bucket long, n_late long, n_orders long",
    )
    out = {
        r.bucket: r.iso_rate
        for r in linalg.isotonic_fit(
            buckets, "bucket", "n_late", "n_orders"
        ).collect()
    }
    # buckets 1 and 2 violate (0.8 > 0.4) -> pooled to 0.6
    assert out[0] == pytest.approx(0.2)
    assert out[1] == pytest.approx(0.6)
    assert out[2] == pytest.approx(0.6)
    assert out[3] == pytest.approx(0.9)


def test_zca_whiten_matches_numpy_and_decorrelates(spark):
    import numpy as np

    from wistia_video_analytics_project_spark.operators import linalg

    rng = np.random.default_rng(13)
    # correlated 2-factor data in 5 dims
    factors = rng.normal(size=(300, 2))
    mix = rng.normal(size=(2, 5))
    x = factors @ mix + 0.1 * rng.normal(size=(300, 5))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "id long, vec array<double>",
    )
    out, w, mu = linalg.zca_whiten(df, "vec", 5, eps=1e-6)
    got = np.array(
        [r.whitened for r in out.orderBy("id").collect()], dtype=np.float64
    )
    # numpy reference
    mur = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    vals, vecs = np.linalg.eigh(cov)
    wr = vecs @ np.diag(1.0 / np.sqrt(vals + 1e-6)) @ vecs.T
    want = (x - mur) @ wr.T
    assert np.allclose(mu, mur, atol=1e-9)
    assert np.allclose(w, wr, atol=1e-7)
    assert np.allclose(got, want, atol=1e-6)
    # whitened covariance ~ identity
    c2 = np.cov(got, rowvar=False)
    assert np.allclose(c2, np.eye(5), atol=0.05)
    with pytest.raises(ValueError, match="2 rows"):
        linalg.zca_whiten(df.limit(1), "vec", 5)


def test_whiten_check_binding_unit_variance(spark):
    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    rows = entrymod.q_embedding_whiten_check(spark, SF_SMOKE).collect()
    assert [r.dim for r in rows] == list(range(8))
    for r in rows:
        assert abs(r.variance - 1.0) < 0.05, r
        assert abs(r.mean) < 0.05, r


# ---------------------------------------------------------------------------
# Frequent Directions sketch
# ---------------------------------------------------------------------------


def _fd_matrix_df(spark, rows):
    return spark.createDataFrame(
        [(r.tolist(),) for r in rows], "embedding array<double>"
    )


def test_fd_spectral_error_bound(spark):
    """The Liberty bound: ||A'A - B'B||_2 <= ||A||_F^2 / ell, checked
    on a deterministic spiked matrix."""
    import numpy as np

    from wistia_video_analytics_project_spark.operators import linalg

    d, n, ell = 12, 300, 6
    # spiked: two strong directions + structured noise, no RNG
    u1 = np.array([1.0 if j % 2 == 0 else 0.5 for j in range(d)])
    u2 = np.array([(-1.0) ** j * (j + 1) / d for j in range(d)])
    rows = np.array([
        ((i % 7) + 1) * u1 + ((i % 5) - 2) * u2
        + 0.05 * np.array([((i * 31 + j * 17) % 13) - 6 for j in range(d)])
        for i in range(n)
    ])
    a = rows
    b = linalg.frequent_directions(
        _fd_matrix_df(spark, rows).repartition(5), "embedding", ell, d
    )
    gap = np.linalg.norm(a.T @ a - b.T @ b, 2)
    budget = (a * a).sum() / ell
    assert gap <= budget + 1e-6, (gap, budget)
    assert b.shape[1] == d and b.shape[0] <= ell


def test_fd_merge_invariant_under_partitioning(spark):
    """Different partition layouts must both satisfy the bound (FD
    sketches are mergeable — the sketch itself may differ, the
    guarantee may not)."""
    import numpy as np

    from wistia_video_analytics_project_spark.operators import linalg

    d, n, ell = 8, 120, 4
    rows = np.array([
        [((i * 7 + j * 3) % 11) - 5.0 for j in range(d)] for i in range(n)
    ])
    a = rows
    budget = (a * a).sum() / ell
    for parts in (1, 3, 8):
        b = linalg.frequent_directions(
            _fd_matrix_df(spark, rows).repartition(parts),
            "embedding", ell, d,
        )
        gap = np.linalg.norm(a.T @ a - b.T @ b, 2)
        assert gap <= budget + 1e-6, (parts, gap, budget)


def test_fd_recovers_dominant_direction(spark):
    """On a strongly spiked matrix the sketch's top direction aligns
    with the true top singular vector."""
    import numpy as np

    from wistia_video_analytics_project_spark.operators import linalg

    d, n, ell = 10, 200, 4
    u = np.array([1.0] * d) / np.sqrt(d)
    rows = np.array([
        10.0 * ((i % 3) + 1) * u
        + 0.1 * np.array([((i * 13 + j * 7) % 9) - 4 for j in range(d)])
        for i in range(n)
    ])
    b = linalg.frequent_directions(
        _fd_matrix_df(spark, rows), "embedding", ell, d
    )
    _, _, vt = np.linalg.svd(b, full_matrices=False)
    cos = abs(float(vt[0] @ u))
    assert cos > 0.99, cos
