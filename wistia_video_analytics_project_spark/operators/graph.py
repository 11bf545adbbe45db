"""Graph analytics over edge DataFrames: PageRank + triangle census.

Complements the connected-components clustering in
:mod:`.dedup` (pointer-jumping) with rank/centrality operators — the
"which items matter" half of graph analysis a recommendation or
link-quality pipeline needs next to "which items are the same".

Scale design: every iteration is declarative DataFrame algebra
(normalized-edge join -> dst aggregate -> teleport blend), so at
100 TB each iteration is one partial-aggregated shuffle keyed by node
id. Two execution shapes:

- **Symmetrized/undirected graphs** (every node has both in- and
  out-edges, e.g. any co-occurrence graph): no dangling mass exists and
  the in-rank aggregate already covers every node, so each iteration is
  exactly ONE edge join + ONE aggregate referencing the ranks frame
  once — all iterations chain lazily into a SINGLE action.
- **Dangling handling on** (arbitrary digraphs): the dangling-mass term
  reads the ranks frame a second time per iteration, which would double
  the logical plan per iteration (exponential in iterations); each
  iteration is therefore materialized (``localCheckpoint``) — the same
  iterative-algorithm shape as Lloyd's k-means in
  ``similarity.ivf_build_index`` and BPE training, with driver traffic
  bounded by the plan, never the data.

The node count is collected ONCE up front (a bounded driver scalar) and
inlined as a literal into every iteration's teleport blend — no
per-iteration broadcast exchanges.

Reference parity: the reference engine ships no graph operators; this
is part of the large-scale training-data tier (link-graph quality
weighting à la Common Crawl harmonic/PageRank centrality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    handle_dangling: bool = True,
    seeds: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Weighted PageRank with teleport, fixed ``iterations``.

    ``rank'(v) = (1-d)/N + d * (Σ_{u->v} rank(u)·w(u,v)/out(u)
    + dangling_mass/N)`` — the standard power iteration with uniform
    teleport and (optionally) dangling-node mass redistribution.

    ``handle_dangling=False`` is the symmetrized-graph fast path: it
    asserts every node has both an out-edge (no dangling mass) and an
    in-edge (the in-rank aggregate reaches every node), which is true
    for any undirected/symmetrized edge set.  Each iteration then
    references the ranks frame exactly once, so the whole power
    iteration chains lazily into one action.  On a digraph where some
    node lacks in- or out-edges this fast path would drop that node's
    rank — leave dangling handling on there.

    ``seeds`` switches to PERSONALIZED PageRank: teleport (and, with
    dangling handling, redistributed dangling mass) lands uniformly on
    the seed node set instead of all nodes, and the iteration starts
    from the seed distribution — ranks become relevance-to-the-seeds.
    Pass a 1-column frame of node ids; seeds outside the graph are
    ignored.  The seeded teleport rides a cached per-node column
    (one extra node-keyed join per iteration), so the symmetric lazy
    chain is preserved.

    ``stats``, if given, is populated with ``{"n_nodes": N}`` before
    returning — the node count is already collected internally for the
    teleport literal, so callers that need N (e.g. to scale ranks into
    a lift-vs-uniform) reuse it instead of re-running a distinct+count
    job over the edge set.

    Returns ``(node, rank)``; ranks sum to 1 over the node set.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), w.alias("__w")
    )
    # normalized transition fractions — reused every iteration.  ONE
    # exchange builds them (r14): the out-weight rides a
    # ``sum().over(partitionBy(__src))`` window on the single __src
    # exchange (the doc_novelty r13 shape) instead of a separate
    # aggregate + join-back, which paid the edge shuffle twice (the
    # pruned aggregate subtree differs from the probe subtree, so
    # ReusedExchange never fires on the agg+join form).  The cache then
    # pins hash(__src) partitioning AND the window sort's __src order,
    # so every per-iteration rank join is exchange-free and SORT-free
    # on the (large) edge side; only the (node-sized) rank frame is
    # sorted and shuffled each iteration.  (The previous shape paid
    # separate exchanges for out-weights, the join, and a redundant
    # repartition, then re-SORTED the cached frame inside every
    # iteration's SortMergeJoin — 6-10 sorts of the full edge set per
    # query.)
    from pyspark.sql import Window

    norm = cache.persist(
        e.repartition("__src")
        .withColumn(
            "__out", F.sum("__w").over(Window.partitionBy("__src"))
        )
        .select(
            "__src", "__dst", (F.col("__w") / F.col("__out")).alias("__frac")
        )
    )
    if handle_dangling:
        nodes = cache.persist(
            e.select(F.col("__src").alias("node"))
            .union(e.select(F.col("__dst").alias("node")))
            .distinct()
        )
    else:
        # symmetric contract: every node has an out-edge, so the node
        # set IS the distinct __src set — ride the cached norm layout
        # (partial dedup per partition, no union/distinct exchange over
        # the doubled edge frame) and keep hash(node) partitioning for
        # the first iteration's join
        nodes = norm.select(F.col("__src").alias("node")).distinct()
    # bounded driver scalar, one job; inlined as a literal below so no
    # iteration carries a broadcast of the 1-row count frame
    n_nodes = nodes.count()
    if stats is not None:
        stats["n_nodes"] = n_nodes
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    tele = None
    if seeds is not None:
        seed_nodes = nodes.join(
            seeds.select(F.col(seeds.columns[0]).alias("node")).distinct(),
            "node",
            "left_semi",
        )
        n_seeds = seed_nodes.count()
        if n_seeds == 0:
            raise ValueError("no seed node appears in the edge set")
        tele = cache.persist(
            nodes.join(
                seed_nodes.select("node", F.lit(1.0 / float(n_seeds)).alias("__tu")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("__tu"), F.lit(0.0)).alias("__tu"))
            # pin node order in the cache: the per-iteration contrib
            # join then sort-merges against it without re-sorting (r14)
            .sortWithinPartitions("node")
        )
        ranks = tele.select("node", F.col("__tu").alias("rank"))
        teleport = F.lit(1.0 - damping) * F.col("__tu")
    else:
        ranks = nodes.select(
            "node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("rank")
        )
        teleport = F.lit(1.0 - damping) / F.lit(float(n_nodes))
    dangling_nodes = (
        cache.persist(
            nodes.join(
                # distinct out-edge sources, off the cached norm layout
                norm.select(F.col("__src").alias("node")).distinct(),
                "node",
                "left_anti",
            )
        )
        if handle_dangling
        else None
    )
    for _ in range(int(iterations)):
        contrib = (
            norm.join(ranks, norm["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                (F.col("__frac") * F.col("rank")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        if handle_dangling:
            dm = ranks.join(dangling_nodes, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
            base = nodes.join(contrib, "node", "left")
            if tele is not None:
                base = base.join(tele, "node")
                dangling_share = F.col("__dm") * F.col("__tu")
            else:
                dangling_share = F.col("__dm") / F.lit(float(n_nodes))
            ranks = (
                base.crossJoin(F.broadcast(dm))
                .select(
                    "node",
                    (
                        teleport
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__in"), F.lit(0.0))
                            + dangling_share
                        )
                    ).alias("rank"),
                )
                # ranks is read TWICE next iteration (contrib + dangling
                # mass): checkpoint to keep the plan linear in
                # iterations.  LAZY since r13 — the next iteration's
                # broadcast-build job materializes it (block-manager
                # locking computes each partition once even with two
                # readers), one scheduled job per iteration instead of
                # two
                .localCheckpoint(eager=False)
            )
        else:
            # symmetric contract: contrib already contains every node
            base = contrib.join(tele, "node") if tele is not None else contrib
            ranks = base.select(
                "node",
                (teleport + F.lit(damping) * F.col("__in")).alias("rank"),
            )
    return ranks





def k_core(
    pairs: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 12,
    stats: dict | None = None,
) -> DataFrame:
    """``k``-core of an undirected graph (unique ``a < b`` pairs):
    iteratively peel nodes of degree < ``k`` until fixpoint (or
    ``max_rounds``).  Returns the surviving nodes with their in-core
    degree — the dense-subgraph trim used to drop weakly-connected
    periphery from web/link graphs before expensive downstream work.

    Each peel round is one degree aggregate + two semi-join filters on
    integer node keys.  The edge frame is referenced three times per
    round, so every round materializes via ``localCheckpoint`` (lineage
    truncation — NOT a cache chain, see ``bpe.train_bpe``) and the
    driver checks the edge count for early exit; rounds after
    convergence are idempotent, so a fixed ``max_rounds`` contract
    stays deterministic (and oracle-comparable) regardless of where
    early exit fires.

    ``stats``, if given, is populated with ``{"converged": bool,
    "rounds": int}`` — ``converged`` is True only when a peel round
    reached fixpoint (edge count unchanged) or the graph emptied.  On a
    deep graph at large SF a fixed ``max_rounds`` can return a
    partially-peeled edge set; the flag lets callers distinguish a true
    k-core from a truncated peel (round-4 ADVICE) without changing the
    deterministic unrolled contract the oracle mirrors."""
    # lazy checkpoints throughout (r13): the count() that every round
    # already runs is the materializing action, so each round schedules
    # ONE job instead of two (eager=True ran an internal count first,
    # then the user count again over the blocks)
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(
        eager=False
    )
    n_edges = e.count()
    converged = n_edges == 0
    rounds = 0
    for _ in range(int(max_rounds)):
        if n_edges == 0:
            break
        rounds += 1
        deg = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e2 = (
            e.join(keep.select(F.col("node").alias("u")), "u")
            .join(keep.select(F.col("node").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n2 = e2.count()
        e = e2
        if n2 == n_edges or n2 == 0:  # fixpoint: further rounds idempotent
            converged = True
            break
        n_edges = n2
    if stats is not None:
        stats["converged"] = converged
        stats["rounds"] = rounds
    return (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


# ---------------------------------------------------------------------------
# Driver-contract bindings (TPC-H-ish tables, FIXTURES.md §B)
# ---------------------------------------------------------------------------

from collections.abc import Callable  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402

from ..session import configure_runtime  # noqa: E402
from ..sources import load_table  # noqa: E402
from .analytics import cooccurrence_pairs  # noqa: E402

def _copurchase_edges(spark: SparkSession, sf_dir: str):
    """Shared co-purchase graph construction for the PageRank-family
    bindings: distinct (order, part) -> cached pair table -> symmetrized
    weighted edges.  One definition so part_pagerank and brand_part_ppr
    can never drift.  The node count is NOT computed here — pagerank()
    already collects it internally for the teleport literal and hands it
    back via its ``stats`` out-param, so the bindings reuse that instead
    of paying a duplicate distinct+count job (round-4 ADVICE)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = cache.persist(
        cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True)
    )
    half = pairs.select(
        F.col("item_a").alias("src"),
        F.col("item_b").alias("dst"),
        F.col("pair_count").cast("double").alias("w"),
    )
    edges = half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    return edges


#: shared oracle CTE prefix: the co-purchase edge graph + normalized
#: transition fractions (mirrors _copurchase_edges + pagerank's norm)
_COPURCHASE_CTES = """
        li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(count(*) AS DOUBLE) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        edges AS (SELECT pa AS src, pb AS dst, w FROM pairs
                  UNION ALL SELECT pb, pa, w FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        outw AS (SELECT src, sum(w) AS o FROM edges GROUP BY 1),
        norm AS (SELECT e.src, e.dst, e.w / o.o AS frac
                 FROM edges e JOIN outw o ON e.src = o.src),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)"""


_PR_ITERS = 6
_PR_DAMPING = 0.85
_PR_TOP = 50


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the part co-purchase graph: parts are
    nodes, edge weight = number of orders the pair co-occurs in
    (symmetrized, so no dangling nodes and the whole power iteration is
    ONE lazily-chained action).  Ranks scaled by N (≈1.0 for an average
    part) and rounded to 6 decimals BEFORE the top-50 ordering so the
    limit boundary is deterministic cross-engine."""
    configure_runtime(spark)
    edges = _copurchase_edges(spark, sf_dir)
    pr_stats: dict = {}
    pr = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        weight="w",
        handle_dangling=False,
        stats=pr_stats,
    )
    n_parts = pr_stats["n_nodes"]
    return (
        pr.select(
            F.col("node").alias("part_key"),
            F.round(F.col("rank") * F.lit(float(n_parts)), 6).alias(
                "scaled_rank"
            ),
        )
        .orderBy(F.desc("scaled_rank"), F.asc("part_key"))
        .limit(_PR_TOP)
    )


def _pagerank_oracle_sql() -> str:
    """Unrolled power iteration (DuckDB has no iterative construct that
    allows aggregates in the recursive term): one chained CTE per
    iteration, literals emitted via repr() so both engines blend with
    bit-identical damping constants; round-6 on the N-scaled rank
    absorbs float sum-order drift (~1e-13 after 6 iterations)."""
    d = repr(float(_PR_DAMPING))
    t = repr(1.0 - float(_PR_DAMPING))
    sql = f"""
        WITH {_COPURCHASE_CTES},
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
               FROM nodes)"""
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
        r{i} AS (
          SELECT nd.node,
                 CAST({t} AS DOUBLE) / (SELECT n FROM nn)
                 + CAST({d} AS DOUBLE)
                   * COALESCE(c.i, CAST(0.0 AS DOUBLE)) AS rank
          FROM nodes nd LEFT JOIN (
            SELECT nm.dst AS node, sum(nm.frac * r.rank) AS i
            FROM norm nm JOIN r{i - 1} r ON nm.src = r.node
            GROUP BY 1) c
          ON nd.node = c.node)"""
    sql += f"""
        SELECT node AS part_key,
               round(rank * (SELECT n FROM nn), 6) AS scaled_rank
        FROM r{_PR_ITERS}
        ORDER BY scaled_rank DESC, part_key ASC
        LIMIT {_PR_TOP}"""
    return sql


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the strong co-purchase graph (part pairs
    co-occurring in >= 2 orders): exact triangle count, wedge count and
    global clustering coefficient via the degree-ordered-orientation
    join (out-degree bounded by O(sqrt(m)) — the hub-skew guard that
    makes triangle counting survive power-law graphs at scale)."""
    configure_runtime(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True).filter(
        F.col("pair_count") >= 2
    )
    return triangle_stats(pairs, a="item_a", b="item_b")


_TRIANGLE_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS deg FROM (
              SELECT pa AS node FROM pairs
              UNION ALL SELECT pb FROM pairs) GROUP BY 1),
    ed AS (SELECT p.pa AS u, p.pb AS v, du.deg AS du, dv.deg AS dv
           FROM pairs p
           JOIN deg du ON du.node = p.pa
           JOIN deg dv ON dv.node = p.pb),
    oriented AS (
      SELECT CASE WHEN (du < dv) OR (du = dv AND u < v) THEN u ELSE v
             END AS src,
             CASE WHEN (du < dv) OR (du = dv AND u < v) THEN v ELSE u
             END AS dst,
             CASE WHEN (du < dv) OR (du = dv AND u < v) THEN dv ELSE du
             END AS ddeg
      FROM ed),
    wedge AS (
      SELECT o1.dst AS w1, o2.dst AS w2
      FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
      WHERE (o1.ddeg < o2.ddeg)
         OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM wedge w
            JOIN oriented o ON o.src = w.w1 AND o.dst = w.w2),
    sizes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
                     CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
              FROM deg)
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           CASE WHEN n_wedges > 0
                THEN round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6)
                ELSE CAST(0.0 AS DOUBLE) END AS global_clustering
    FROM sizes CROSS JOIN tri
"""




_CORE_K = 3
_CORE_ROUNDS = 12
_CORE_TOP = 50


def q_copurchase_core3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the strong co-purchase graph: the dense backbone left
    after 12 peel rounds (converged at both gate SFs; extra rounds are
    idempotent, so the fixed-round contract matches the unrolled-CTE
    oracle exactly).  Top-50 surviving parts by in-core degree."""
    configure_runtime(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True).filter(
        F.col("pair_count") >= 2
    )
    core = k_core(pairs, _CORE_K, a="item_a", b="item_b",
                  max_rounds=_CORE_ROUNDS)
    return (
        core.select(F.col("node").alias("part_key"), "core_degree")
        .orderBy(F.desc("core_degree"), F.asc("part_key"))
        .limit(_CORE_TOP)
    )


def _kcore_oracle_sql() -> str:
    """Fixed-round peeling unrolled as chained CTEs (DuckDB disallows
    aggregates in recursive CTEs).  Every CTE is MATERIALIZED: each peel round references its predecessor three times, and inlining would re-expand the parquet scan 3^rounds times (observed as a too-many-open-files failure).  All-integer arithmetic."""
    sql = """
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS MATERIALIZED (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        e0 AS MATERIALIZED (SELECT pa AS u, pb AS v FROM pairs)"""
    for i in range(1, _CORE_ROUNDS + 1):
        sql += f""",
        d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                   SELECT u AS node FROM e{i - 1}
                   UNION ALL SELECT v FROM e{i - 1}) GROUP BY 1),
        k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_CORE_K}),
        e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i - 1} e
                 JOIN k{i} x ON e.u = x.node
                 JOIN k{i} y ON e.v = y.node)"""
    sql += f"""
        SELECT node AS part_key, CAST(count(*) AS BIGINT) AS core_degree
        FROM (SELECT u AS node FROM e{_CORE_ROUNDS}
              UNION ALL SELECT v FROM e{_CORE_ROUNDS})
        GROUP BY 1
        ORDER BY core_degree DESC, part_key ASC
        LIMIT {_CORE_TOP}"""
    return sql




_PPR_BRAND = "Brand#11"


def q_brand_part_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: relevance of every part to the
    ``Brand#11`` seed set over the co-purchase graph — the
    topic-sensitive variant (teleport lands only on seed parts), i.e.
    "what does this brand's basket neighborhood look like".  Same
    single-action symmetric chain as ``part_pagerank``; ranks scaled by
    N (lift vs the uniform distribution) and rounded before the top-50
    ordering."""
    configure_runtime(spark)
    edges = _copurchase_edges(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _PPR_BRAND)
        .select(F.col("p_partkey").alias("node"))
    )
    pr_stats: dict = {}
    pr = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        weight="w",
        handle_dangling=False,
        seeds=seeds,
        stats=pr_stats,
    )
    n_parts = pr_stats["n_nodes"]
    return (
        pr.select(
            F.col("node").alias("part_key"),
            F.round(F.col("rank") * F.lit(float(n_parts)), 6).alias(
                "relevance_lift"
            ),
        )
        .orderBy(F.desc("relevance_lift"), F.asc("part_key"))
        .limit(_PR_TOP)
    )


def _ppr_oracle_sql() -> str:
    """Seeded unrolled power iteration: teleport rides a per-node tu
    column (1/|S| on graph-member seeds, 0 elsewhere) instead of the
    uniform 1/N literal."""
    d = repr(float(_PR_DAMPING))
    t = repr(1.0 - float(_PR_DAMPING))
    sql = f"""
        WITH {_COPURCHASE_CTES},
        gseeds AS (SELECT n.node FROM nodes n
                   JOIN (SELECT DISTINCT p_partkey AS node FROM part
                         WHERE p_brand = '{_PPR_BRAND}') s
                     ON n.node = s.node),
        ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM gseeds),
        tu AS (SELECT n.node,
                      CASE WHEN g.node IS NOT NULL
                           THEN CAST(1.0 AS DOUBLE) / (SELECT s FROM ns)
                           ELSE CAST(0.0 AS DOUBLE) END AS tu
               FROM nodes n LEFT JOIN gseeds g ON n.node = g.node),
        r0 AS (SELECT node, tu AS rank FROM tu)"""
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
        r{i} AS (
          SELECT t.node,
                 CAST({t} AS DOUBLE) * t.tu
                 + CAST({d} AS DOUBLE)
                   * COALESCE(c.i, CAST(0.0 AS DOUBLE)) AS rank
          FROM tu t LEFT JOIN (
            SELECT nm.dst AS node, sum(nm.frac * r.rank) AS i
            FROM norm nm JOIN r{i - 1} r ON nm.src = r.node
            GROUP BY 1) c
          ON t.node = c.node)"""
    sql += f"""
        SELECT node AS part_key,
               round(rank * (SELECT n FROM nn), 6) AS relevance_lift
        FROM r{_PR_ITERS}
        ORDER BY relevance_lift DESC, part_key ASC
        LIMIT {_PR_TOP}"""
    return sql




def hits_bipartite(
    edges: DataFrame,
    iterations: int = 3,
    hub_col: str = "hub",
    auth_col: str = "auth",
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs-and-authorities on a bipartite edge set
    ``(hub_side, auth_side)`` — e.g. customers -> parts: a part is
    authoritative when bought by strong hub customers, a customer is a
    strong hub when they buy authoritative parts.

    Kleinberg power iteration with the normalization deferred to the
    END: every update references its predecessor exactly once, so all
    ``2·iterations`` join+aggregate steps chain lazily into ONE action
    (values grow as sigma1^(2t) but stay far inside double range for
    bounded iteration counts).  The caller normalizes — see
    ``q_part_authority_hits`` — because the L1 mass is a single scalar
    best collected once, not a per-iteration rescan.

    Returns ``(hubs, authorities)`` frames with raw (unnormalized)
    scores: ``(hub, hub_score)`` and ``(auth, auth_score)``.
    """
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1")
    e = cache.persist(
        edges.select(
            F.col(hub_col).alias("__h"), F.col(auth_col).alias("__a")
        )
        .distinct()
    )
    h = e.select("__h").distinct().select("__h", F.lit(1.0).alias("hs"))
    a = None
    for _ in range(int(iterations)):
        a = (
            e.join(h, "__h")
            .groupBy("__a")
            .agg(F.sum("hs").alias("as_"))
        )
        h = (
            e.join(a, "__a")
            .groupBy("__h")
            .agg(F.sum("as_").alias("hs"))
        )
    hubs = h.select(F.col("__h").alias("hub"), F.col("hs").alias("hub_score"))
    auths = a.select(
        F.col("__a").alias("auth"), F.col("as_").alias("auth_score")
    )
    return hubs, auths


_HITS_ITERS = 3


def q_part_authority_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part authority scores from HITS over the bipartite customer ->
    part purchase graph (3 Kleinberg iterations, one lazy chain).
    Authority mass is L1-normalized and scaled by the part count
    (lift vs uniform), rounded to 6 before the deterministic top-50."""
    configure_runtime(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    _, auths = hits_bipartite(edges, iterations=_HITS_ITERS,
                              hub_col="c", auth_col="p")
    auths = cache.persist(auths)
    row = auths.agg(
        F.sum("auth_score").alias("t"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    total, n_parts = float(row["t"]), int(row["n"])
    return (
        auths.select(
            F.col("auth").alias("part_key"),
            F.round(
                F.col("auth_score") / F.lit(total) * F.lit(float(n_parts)), 6
            ).alias("authority_lift"),
        )
        .orderBy(F.desc("authority_lift"), F.asc("part_key"))
        .limit(50)
    )


def _hits_oracle_sql() -> str:
    """Unrolled Kleinberg iterations; MATERIALIZED CTEs (the edge set is
    referenced in every update step)."""
    sql = """
        WITH e AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS MATERIALIZED (
          SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS hs FROM e)"""
    for i in range(1, _HITS_ITERS + 1):
        sql += f""",
        a{i} AS MATERIALIZED (
          SELECT p, sum(hs) AS as_ FROM e JOIN h{i - 1} USING (c)
          GROUP BY 1),
        h{i} AS MATERIALIZED (
          SELECT c, sum(as_) AS hs FROM e JOIN a{i} USING (p)
          GROUP BY 1)"""
    sql += f"""
        , tot AS (SELECT sum(as_) AS t,
                         CAST(count(*) AS DOUBLE) AS n FROM a{_HITS_ITERS})
        SELECT p AS part_key,
               round(as_ / (SELECT t FROM tot) * (SELECT n FROM tot), 6)
                 AS authority_lift
        FROM a{_HITS_ITERS}
        ORDER BY authority_lift DESC, part_key ASC
        LIMIT 50"""
    return sql




def degree_powerlaw(
    pairs: DataFrame, a: str = "a", b: str = "b", dmin: int = 2
) -> DataFrame:
    """Power-law fit of the undirected degree distribution: the
    continuous MLE exponent ``alpha = 1 + n / Σ ln(d / (dmin - 1/2))``
    (Clauset-Shalizi-Newman) over nodes with degree >= ``dmin``, plus
    the degree summary — the skew diagnostic that tells you whether a
    graph needs hub guards (salting, degree-ordered orientation)
    before joins.  One degree aggregate + one summary aggregate; the
    log runs JVM-side."""
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tail = deg.filter(F.col("deg") >= dmin)
    denom = F.log(
        F.col("deg").cast("double") / (F.lit(float(dmin)) - F.lit(0.5))
    )
    return (
        tail.agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.max("deg").alias("max_degree"),
            F.sum(denom).alias("__s"),
        )
        .crossJoin(
            F.broadcast(
                deg.agg(
                    F.count(F.lit(1)).alias("n_nodes"),
                    (F.round(F.avg(F.col("deg").cast("double")), 4)
                     + F.lit(0.0)).alias("avg_degree"),
                )
            )
        )
        .select(
            "n_nodes",
            "n_tail",
            "max_degree",
            "avg_degree",
            (
                F.round(
                    F.lit(1.0)
                    + F.col("n_tail").cast("double") / F.col("__s"),
                    4,
                )
                + F.lit(0.0)
            ).alias("alpha_mle"),
        )
    )


def q_copurchase_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-skew diagnostic of the co-purchase graph: CSN power-law
    MLE exponent over the degree->=2 tail plus degree summary."""
    configure_runtime(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True)
    return degree_powerlaw(pairs, a="item_a", b="item_b", dmin=2)


_POWERLAW_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    deg AS (SELECT node, count(*) AS deg FROM (
              SELECT pa AS node FROM pairs
              UNION ALL SELECT pb FROM pairs) GROUP BY 1),
    tail AS (SELECT deg FROM deg WHERE deg >= 2),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
                 CAST(max(deg) AS BIGINT) AS max_degree,
                 sum(ln(CAST(deg AS DOUBLE)
                        / (CAST(2.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)))) AS s
          FROM tail),
    d AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 round(avg(CAST(deg AS DOUBLE)), 4)
                   + CAST(0.0 AS DOUBLE) AS avg_degree
          FROM deg)
    SELECT n_nodes, n_tail, max_degree, avg_degree,
           round(CAST(1.0 AS DOUBLE) + n_tail / s, 4)
             + CAST(0.0 AS DOUBLE) AS alpha_mle
    FROM t CROSS JOIN d
"""




def degree_assortativity(
    pairs: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    negative on hub-and-spoke graphs (hubs attach to low-degree
    periphery), positive on social-style graphs.  Computed from
    explicit sums (M, Σj, Σj², Σjk) rather than builtin ``corr`` so the
    statistic is cross-engine comparable (CLAUDE.md corr caveat); by
    symmetry the j- and k-marginals coincide, collapsing the formula to
    ``(M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)``."""
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    both = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("ju"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("jv"))
    sums = (
        both.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).cast("double").alias("m"),
            F.sum(F.col("ju").cast("double")).alias("sj"),
            F.sum((F.col("ju") * F.col("ju")).cast("double")).alias("sj2"),
            F.sum((F.col("ju") * F.col("jv")).cast("double")).alias("sjk"),
        )
    )
    # try_divide: a regular (zero-degree-variance) graph has an
    # undefined correlation — return NULL, don't raise under ANSI mode
    r = F.try_divide(
        F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj"),
        F.col("m") * F.col("sj2") - F.col("sj") * F.col("sj"),
    )
    return sums.select(
        (F.col("m") / F.lit(2.0)).cast("long").alias("n_edges"),
        (F.round(r, 4) + F.lit(0.0)).alias("assortativity"),
    )


def q_copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-mixing diagnostic of the co-purchase graph."""
    configure_runtime(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True)
    return degree_assortativity(pairs, a="item_a", b="item_b")


_ASSORT_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    deg AS (SELECT node, count(*) AS deg FROM (
              SELECT pa AS node FROM pairs
              UNION ALL SELECT pb FROM pairs) GROUP BY 1),
    eboth AS (SELECT pa AS u, pb AS v FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS m,
             sum(CAST(du.deg AS DOUBLE)) AS sj,
             sum(CAST(du.deg * du.deg AS DOUBLE)) AS sj2,
             sum(CAST(du.deg * dv.deg AS DOUBLE)) AS sjk
      FROM eboth
      JOIN deg du ON eboth.u = du.node
      JOIN deg dv ON eboth.v = dv.node)
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((m * sjk - sj * sj) / (m * sj2 - sj * sj), 4)
             + CAST(0.0 AS DOUBLE) AS assortativity
    FROM sums
"""


def label_propagation(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    weight: str | None = None,
    rounds: int = 5,
) -> DataFrame:
    """Deterministic semi-synchronous label propagation (community
    detection): labels start as node ids; each round every node adopts
    the label with the highest total incident edge weight among its
    neighbors' CURRENT labels, ties broken by the SMALLEST label id.
    Classic async LPA is run-order-dependent; fixing the update to
    synchronous rounds with a total tie order makes the result a pure
    function of (graph, rounds) — reproducible across layouts, which
    is what a 100 TB rerun needs.  Iterative and heuristic, so no SQL
    oracle (rows-only; determinism + planted-partition recovery pinned
    in tests/test_graph.py).

    Each round: one edge->label equi-join + one (node, label) weight
    aggregate + one max_by per node — ONE shuffle on an integer key
    (r14): the edge cache pins hash(src) partitioning and src order, so
    the per-round label join adds no exchange and no edge-side sort,
    and the contributions are explicitly repartitioned on the dst node
    alone — hash(node) satisfies BOTH the (node, label) tally and the
    per-node max (subset clustering), so the two aggregates ride one
    exchange instead of paying one each.  The label chain is LINEAR
    (each round's frame is referenced exactly once by the next), so the
    whole propagation stays lazily chained into ONE action, the
    pagerank idiom — no per-round materialization jobs; only the static
    edge frame (referenced every round) is cached.

    Returns (node, community) — community is the final label.
    """
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    half = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"), w.alias("w"))
    edges = cache.persist(
        half.unionByName(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .repartition("src")
        .sortWithinPartitions("src")
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    for _ in range(int(rounds)):
        tally = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"),
                    F.col("community").alias("nbr_label"),
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"), F.col("nbr_label"), F.col("w")
            )
            .repartition("node")
            .groupBy("node", "nbr_label")
            .agg(F.sum("w").alias("wsum"))
        )
        # max struct = (highest weight, then smallest label via negation)
        labels = (
            tally.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("wsum"), (-F.col("nbr_label")).alias("nl")
                    )
                ).alias("best")
            )
            .select("node", (-F.col("best.nl")).alias("community"))
        )
    return labels


def community_summary(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-community report over a node->community assignment: size,
    internal edge weight, and the community's modularity contribution
    ``w_in/(2m) - (deg_c/(2m))^2``.  Pure aggregates — two shuffles."""
    sym = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    lab = labels.select(
        F.col("node").alias("src"), F.col("community").alias("c_src")
    )
    labd = labels.select(
        F.col("node").alias("dst"), F.col("community").alias("c_dst")
    )
    joined = sym.join(lab, "src").join(labd, "dst")
    # 2m needs only the edge weights — don't force the label joins
    # into its scan
    two_m = sym.agg(F.sum("w").alias("m2"))
    per = joined.groupBy(F.col("c_src").alias("community")).agg(
        F.sum(F.when(F.col("c_src") == F.col("c_dst"), F.col("w")).otherwise(0.0)).alias("w_in"),
        F.sum("w").alias("deg_w"),
    )
    sizes = labels.groupBy("community").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        per.join(sizes, "community")
        .crossJoin(F.broadcast(two_m))
        .select(
            "community",
            "n_nodes",
            F.round(F.col("w_in") / 2.0, 1).alias("internal_w"),
            F.round(
                F.col("w_in") / F.col("m2")
                - (F.col("deg_w") / F.col("m2"))
                * (F.col("deg_w") / F.col("m2")),
                6,
            ).alias("modularity_part"),
        )
    )


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of the strong co-purchase graph
    (pairs co-occurring in >= 2 orders), 5 deterministic rounds; top-20
    communities by size with their modularity contribution.  Rows-only
    (iterative heuristic — see label_propagation)."""
    configure_runtime(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # the pair build (basket self-join + count agg) feeds BOTH the
    # propagation's edge frame and the summary's — cache it once
    pairs = cache.persist(
        cooccurrence_pairs(li, "l_orderkey", "l_partkey", distinct_items=True)
        .filter(F.col("pair_count") >= 2)
    )
    # the summary joins the label frame twice (src + dst side): cache
    # the END of the lazy propagation chain once (not per round)
    labels = cache.persist(
        label_propagation(
            pairs, a="item_a", b="item_b", weight="pair_count", rounds=5
        )
    )
    edges = pairs.select(
        F.col("item_a").alias("src"),
        F.col("item_b").alias("dst"),
        F.col("pair_count").cast("double").alias("w"),
    )
    return (
        community_summary(labels, edges)
        .orderBy(
            F.col("n_nodes").desc(), F.col("community").asc()
        )
        .limit(20)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "part_pagerank": q_part_pagerank,
        "brand_part_ppr": q_brand_part_ppr,
        "part_authority_hits": q_part_authority_hits,
        "copurchase_powerlaw": q_copurchase_powerlaw,
        "copurchase_assortativity": q_copurchase_assortativity,
        "copurchase_triangles": q_copurchase_triangles,
        "copurchase_core3": q_copurchase_core3,
        "part_communities": q_part_communities,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "part_pagerank": _pagerank_oracle_sql(),
        "brand_part_ppr": _ppr_oracle_sql(),
        "part_authority_hits": _hits_oracle_sql(),
        "copurchase_powerlaw": _POWERLAW_ORACLE,
        "copurchase_assortativity": _ASSORT_ORACLE,
        "copurchase_triangles": _TRIANGLE_ORACLE,
        "copurchase_core3": _kcore_oracle_sql(),
    }


def triangle_stats(
    pairs: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected graph given as unique ``a < b`` pairs.

    Scale design — degree-ordered orientation: every edge is directed
    from its lower-``(degree, id)`` endpoint to the higher, which bounds
    each node's out-degree by O(√m) on any graph, so the wedge-building
    self-join fans out by Σ C(out_deg, 2) instead of the unbounded
    Σ C(deg, 2) a naive neighbor join pays on skewed hubs.  Three
    equi-joins, all integer keys; counting is exact integer arithmetic.

    Returns one row: ``n_nodes, n_edges, n_triangles, n_wedges,
    global_clustering`` where clustering = 3·triangles / wedges
    (wedges = Σ C(deg, 2) over the UNDIRECTED degrees).
    """
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    deg = cache.persist(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = cache.persist(
        ed.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
    )
    o1 = oriented.select(
        "src", F.col("dst").alias("w1"), F.col("ddeg").alias("g1")
    )
    o2 = oriented.select(
        "src", F.col("dst").alias("w2"), F.col("ddeg").alias("g2")
    )
    wedge = o1.join(o2, "src").filter(
        (F.col("g1") < F.col("g2"))
        | ((F.col("g1") == F.col("g2")) & (F.col("w1") < F.col("w2")))
    )
    closed = wedge.join(
        oriented.select(
            F.col("src").alias("w1"), F.col("dst").alias("w2")
        ),
        ["w1", "w2"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    sizes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg").cast("long")) / F.lit(2)).cast("long").alias("n_edges"),
        F.sum(
            (F.col("deg").cast("long") * (F.col("deg").cast("long") - 1) / 2)
        ).cast("long").alias("n_wedges"),
    )
    return (
        sizes.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("global_clustering"),
        )
    )
