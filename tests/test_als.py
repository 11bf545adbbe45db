"""ALS factorization: pure-numpy reference parity, loss monotonicity,
recommendation invariants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import als

RATINGS = [
    (1, 10, 5.0), (1, 11, 3.0), (1, 12, 1.0),
    (2, 10, 4.0), (2, 13, 2.0),
    (3, 11, 1.0), (3, 12, 5.0), (3, 13, 4.0),
    (4, 10, 2.0), (4, 12, 3.0), (4, 13, 5.0), (4, 14, 1.0),
]


def _ref_als(ratings, item0: dict, k: int, iterations: int, reg: float):
    """Pure-numpy reference with the SAME update order as the engine:
    per-entity normal equations accumulated over partner ids in sorted
    order (matching the engine's mergesort-by-partner determinism)."""
    by_user: dict[int, list] = {}
    by_item: dict[int, list] = {}
    for u, i, r in ratings:
        by_user.setdefault(u, []).append((i, r))
        by_item.setdefault(i, []).append((u, r))
    item_f = {i: np.array(v, dtype=np.float64) for i, v in item0.items()}
    user_f: dict[int, np.ndarray] = {}
    for _ in range(iterations):
        for u, pairs in by_user.items():
            pairs = sorted(pairs)
            y = np.array([item_f[i] for i, _ in pairs])
            r = np.array([r_ for _, r_ in pairs])
            user_f[u] = np.linalg.solve(
                y.T @ y + reg * np.eye(k), y.T @ r
            )
        for i, pairs in by_item.items():
            pairs = sorted(pairs)
            x = np.array([user_f[u] for u, _ in pairs])
            r = np.array([r_ for _, r_ in pairs])
            item_f[i] = np.linalg.solve(
                x.T @ x + reg * np.eye(k), x.T @ r
            )
    return user_f, item_f


def _ref_loss(ratings, user_f, item_f, reg):
    sse = sum(
        (r - float(user_f[u] @ item_f[i])) ** 2 for u, i, r in ratings
    )
    rt = sum(float(v @ v) for v in user_f.values()) + sum(
        float(v @ v) for v in item_f.values()
    )
    return sse + reg * rt


@pytest.fixture(scope="module")
def ratings_df(spark):
    return spark.createDataFrame(
        RATINGS, "user long, item long, rating double"
    )


def test_als_matches_numpy_reference(spark, ratings_df):
    k, reg, iters = 3, 0.1, 2
    item0 = {
        r["item"]: list(r["factors"])
        for r in als.init_factors(
            ratings_df.select("item").distinct(), "item", k
        ).collect()
    }
    uf, itf, losses = als.als_train(
        ratings_df, k=k, iterations=iters, reg=reg
    )
    got_u = {r["user"]: np.array(r["factors"]) for r in uf.collect()}
    want_u, want_i = _ref_als(RATINGS, item0, k, iters, reg)
    got_i = {r["item"]: np.array(r["factors"]) for r in itf.collect()}
    assert got_u.keys() == want_u.keys()
    assert got_i.keys() == want_i.keys()
    for u in want_u:
        assert got_u[u] == pytest.approx(want_u[u], rel=1e-9), u
    for i in want_i:
        assert got_i[i] == pytest.approx(want_i[i], rel=1e-9), i
    # distributed loss == reference loss at the final factors
    assert losses[-1] == pytest.approx(
        _ref_loss(RATINGS, want_u, want_i, reg), rel=1e-9
    )


def test_als_loss_non_increasing(spark, ratings_df):
    _, _, losses = als.als_train(
        ratings_df, k=3, iterations=4, reg=0.1
    )
    assert len(losses) == 4
    for a, b in zip(losses, losses[1:]):
        assert b <= a + 1e-9, losses


def test_als_fits_low_rank_data(spark):
    """Rank-2 synthetic ratings must be reconstructed nearly exactly
    with k=2 and tiny regularization."""
    rng_u = {u: np.array([1.0 + u / 7.0, (u % 3) - 1.0]) for u in range(6)}
    rng_i = {i: np.array([(i % 4) / 2.0, 1.0 - i / 9.0]) for i in range(8)}
    rows = [
        (u, i, float(rng_u[u] @ rng_i[i]))
        for u in rng_u
        for i in rng_i
        if (u + i) % 3 != 0  # holdout pattern, still well-posed
    ]
    ratings = spark.createDataFrame(
        rows, "user long, item long, rating double"
    )
    uf, itf, losses = als.als_train(
        ratings, k=2, iterations=6, reg=1e-6
    )
    # ALS on an incomplete matrix converges geometrically after the
    # first sweep's big drop; demand a >20x objective reduction and a
    # small absolute residual (observed: 2.24 -> 0.05 by sweep 2)
    assert losses[-1] < losses[0] / 20, losses
    assert losses[-1] < 0.1, losses


def test_als_skewed_sum_accumulation_matches_sorted(spark):
    """A power-law hot item must flip ``accumulation="auto"`` to the
    skew-safe plain-sum path, and that path must agree with the
    bit-deterministic sorted fold to float-accumulation tolerance."""
    rows = [(u, 99, 1.0 + (u % 5)) for u in range(40)] + [
        (u, u % 7, 2.0 + (u % 3)) for u in range(40)
    ]
    ratings = spark.createDataFrame(
        rows, "user long, item long, rating double"
    )
    uf_s, if_s, losses_s = als.als_train(
        ratings, k=3, iterations=2, reg=0.1, accumulation="sorted"
    )
    # item 99 has degree 40 > 10 -> auto must pick the sum path
    uf_a, if_a, losses_a = als.als_train(
        ratings,
        k=3,
        iterations=2,
        reg=0.1,
        accumulation="auto",
        skew_degree_threshold=10,
    )
    got_s = {r["user"]: np.array(r["factors"]) for r in uf_s.collect()}
    got_a = {r["user"]: np.array(r["factors"]) for r in uf_a.collect()}
    assert got_s.keys() == got_a.keys()
    for u in got_s:
        assert got_a[u] == pytest.approx(got_s[u], rel=1e-6, abs=1e-9), u
    gi_s = {r["item"]: np.array(r["factors"]) for r in if_s.collect()}
    gi_a = {r["item"]: np.array(r["factors"]) for r in if_a.collect()}
    for i in gi_s:
        assert gi_a[i] == pytest.approx(gi_s[i], rel=1e-6, abs=1e-9), i
    for a, b in zip(losses_a, losses_a[1:]):
        assert b <= a + 1e-9, losses_a


def test_als_auto_below_threshold_is_sorted_bitexact(spark, ratings_df):
    """Below the degree threshold, auto == sorted exactly (the default
    path stays bit-deterministic)."""
    uf_s, _, _ = als.als_train(
        ratings_df, k=3, iterations=2, reg=0.1, accumulation="sorted",
        track_loss=False,
    )
    uf_a, _, _ = als.als_train(
        ratings_df, k=3, iterations=2, reg=0.1, accumulation="auto",
        track_loss=False,
    )
    got_s = {r["user"]: list(r["factors"]) for r in uf_s.collect()}
    got_a = {r["user"]: list(r["factors"]) for r in uf_a.collect()}
    assert got_s == got_a


def _clustered_factors(spark, n_users=24, n_items=64, n_clusters=8):
    """Deterministic clustered factor frames in R^4: cluster centers on
    distinct axis mixes, members perturbed by a small arithmetic offset
    (no RNG — reproducible across runs)."""
    def center(c):
        return [
            1.0 if j == c % 4 else (0.25 if c >= 4 else 0.0)
            for j in range(4)
        ]

    def perturb(idx, vec):
        return [
            v + 0.01 * (((idx * 7 + j * 3) % 13) - 6) / 6.0
            for j, v in enumerate(vec)
        ]

    items = [
        (i, perturb(i, center(i % n_clusters))) for i in range(n_items)
    ]
    users = [
        (u, perturb(u + 1000, center(u % n_clusters)))
        for u in range(n_users)
    ]
    item_f = spark.createDataFrame(
        items, "item long, factors array<double>"
    )
    user_f = spark.createDataFrame(
        users, "user long, factors array<double>"
    )
    return user_f, item_f


def test_recommend_topk_ann_full_probe_equals_exact(spark, ratings_df):
    """nprobe == n_centroids degenerates ANN serving to the exact path
    bit-for-bit (same scores, same ranks)."""
    uf, itf, _ = als.als_train(
        ratings_df, k=3, iterations=2, reg=0.1, track_loss=False
    )
    uf = uf.localCheckpoint(eager=True)
    itf = itf.localCheckpoint(eager=True)
    exact = als.recommend_topk(
        uf, itf, ratings_df, n=2, method="exact"
    ).collect()
    ann = als.recommend_topk_ann(
        uf, itf, ratings_df, n=2, n_centroids=4, nprobe=4
    ).collect()
    assert [tuple(r) for r in ann] == [tuple(r) for r in exact]


def test_recommend_topk_ann_recall_on_clustered_factors(spark):
    """Probing 2 of 8 cells over clustered item factors must retain
    >=80% of the exact top-3 (in practice the clusters align with cells
    and recall is ~1)."""
    user_f, item_f = _clustered_factors(spark)
    seen = spark.createDataFrame([], "user long, item long")
    exact = als.recommend_topk(
        user_f, item_f, seen, n=3, method="exact"
    ).collect()
    ann = als.recommend_topk_ann(
        user_f, item_f, seen, n=3, n_centroids=8, nprobe=2
    ).collect()
    want = {(r["user"], r["item"]) for r in exact}
    got = {(r["user"], r["item"]) for r in ann}
    recall = len(want & got) / len(want)
    assert recall >= 0.8, (recall, sorted(want - got))


def test_recommend_topk_ann_empty_catalog(spark):
    """An empty item catalog trains no cells: ANN serving recommends
    nothing instead of failing."""
    user_f, item_f = _clustered_factors(spark)
    seen = spark.createDataFrame([], "user long, item long")
    out = als.recommend_topk_ann(
        user_f, item_f.filter("false"), seen, n=3, n_centroids=8, nprobe=2
    )
    assert out.collect() == []


def test_recommend_topk_auto_routes_by_catalog_size(spark, ratings_df):
    """auto == exact under the threshold; over it, auto produces the
    ANN result (same frame shape, unseen-only, ranked)."""
    uf, itf, _ = als.als_train(
        ratings_df, k=3, iterations=1, reg=0.1, track_loss=False
    )
    uf = uf.localCheckpoint(eager=True)
    itf = itf.localCheckpoint(eager=True)
    exact = als.recommend_topk(
        uf, itf, ratings_df, n=2, method="exact"
    ).collect()
    auto_small = als.recommend_topk(
        uf, itf, ratings_df, n=2, method="auto"
    ).collect()
    assert [tuple(r) for r in auto_small] == [tuple(r) for r in exact]
    auto_big = als.recommend_topk(
        uf, itf, ratings_df, n=2, method="auto", ann_threshold=2,
        n_centroids=4, nprobe=4,
    ).collect()
    assert [tuple(r) for r in auto_big] == [tuple(r) for r in exact]


def test_recommend_topk_invariants(spark, ratings_df):
    uf, itf, _ = als.als_train(ratings_df, k=3, iterations=2, reg=0.1)
    recs = als.recommend_topk(uf, itf, ratings_df, n=2).collect()
    seen = {(u, i) for u, i, _ in RATINGS}
    by_user: dict[int, list] = {}
    for r in recs:
        assert (r["user"], r["item"]) not in seen
        by_user.setdefault(r["user"], []).append(r)
    for u, rows in by_user.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert len(rows) <= 2
    # partial-probe ANN output does not depend on the item factors'
    # layout: the quantizer seeds are numbered in (hash, id) order
    def ann(items):
        out = als.recommend_topk_ann(
            uf, items, ratings_df, n=2, n_centroids=4, nprobe=2
        ).collect()
        return sorted(tuple(r) for r in out)

    itf = itf.localCheckpoint(eager=True)
    assert ann(itf.repartition(7)) == ann(itf.coalesce(1))
