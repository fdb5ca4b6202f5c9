"""Graph operators — weighted PageRank over a relationally-built
graph (the join-per-superstep iterative pattern), BFS, shortest paths,
triangle counts and near-dup connected components. The components
kernel itself is ``dedup.label_propagate_components`` (star
contraction); this module owns the canonical edge set it rewrites.

Exactness rule: ranks are SCALED INTEGERS and every transition is
integer arithmetic (floor division), so eight supersteps produce
bit-identical results on any engine and any partitioning — float
PageRank would accumulate summation-order noise across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.caching import persist_bounded
from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query

PR_SCALE = 10**12
PR_ITERS = 8
#: damping in exact percent units: d = 85/100
PR_D_NUM = 85

#: the trade graph: customer nation → supplier nation, one edge per
#: lineitem (weight = co-occurrence count)
_SQL_EDGES = """
    SELECT c.c_nationkey AS u, s.s_nationkey AS v, count(*) AS w
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
"""


def _sql_pagerank() -> str:
    n_nodes = "(SELECT count(*) FROM nation)"
    teleport = f"((100 - {PR_D_NUM}) * {PR_SCALE}) // (100 * {n_nodes})"
    ctes = [
        f"edges AS ({_SQL_EDGES})",
        "outw AS (SELECT u, sum(w) AS wu FROM edges GROUP BY 1)",
        f"pr0 AS (SELECT n_nationkey AS node, "
        f"{PR_SCALE} // {n_nodes} AS r FROM nation)",
    ]
    for i in range(PR_ITERS):
        ctes.append(
            f"""pr{i + 1} AS (
        SELECT nd.n_nationkey AS node,
               ({teleport} + ({PR_D_NUM} * COALESCE(s.c, 0)) // 100)::BIGINT
                   AS r
        FROM nation nd LEFT JOIN (
            SELECT e.v, sum((p.r * e.w) // o.wu) AS c
            FROM pr{i} p
            JOIN edges e ON e.u = p.node
            JOIN outw o ON o.u = p.node
            GROUP BY e.v
        ) s ON s.v = nd.n_nationkey
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r::BIGINT AS rank_scaled FROM pr{PR_ITERS}"
    )


def _canon_edges(df: DataFrame) -> DataFrame:
    """Canonical undirected edge set of (x, y) pairs: oriented
    (lo, hi), self-loops dropped, distinct."""
    return (
        df.select(
            F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi")
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _sql_components() -> str:
    from lake_satellite_image_etl_spark.operators.dedup import (
        sql_minhash_pair_ctes,
    )

    return f"""
    WITH RECURSIVE {sql_minhash_pair_ctes('documents')},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    reach(v, u) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u
    )
    SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
    """


@query("graph_components_star", oracle=_sql_components())
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment from the UN-SYMMETRIZED pair set —
    same input graph, output shape, and oracle (the recursive-CTE
    transitive closure) as dedup_cluster_assign, but the MinHash pairs
    go to the components kernel (``dedup.label_propagate_components``,
    star contraction) as (doc_a, doc_b) rows only: the kernel
    canonicalizes orientation itself, so no symmetrizing union (and no
    persist to keep that union from running the pair pipeline twice)
    is needed. The kernel's O(log² n) round bound is pinned in
    tests/test_graph_components.py on a long-chain graph."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        dedup_minhash_lsh,
        label_propagate_components,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return label_propagate_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


#: triangle-count graph: parts of ONE brand co-ordered within one
#: order (the market-basket co-occurrence graph restricted to a
#: brand slice — the full co-purchase graph's wedge volume grows
#: with order fan-out² × |orders| and is bench-hostile at sf0.1;
#: the brand slice keeps the graph triangle-rich at every sf while
#: the ALGORITHM stays the one that survives the full graph)
_SQL_COPART = """
        SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_brand = (SELECT min(p_brand) FROM part))
          AND b.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_brand = (SELECT min(p_brand) FROM part))
"""

_SQL_TRIANGLES = f"""
    WITH pair AS ({_SQL_COPART}),
    tri AS (
        SELECT p1.lo AS a, p1.hi AS b, p2.hi AS c
        FROM pair p1
        JOIN pair p2 ON p2.lo = p1.hi
        JOIN pair p3 ON p3.lo = p1.lo AND p3.hi = p2.hi
    )
    SELECT node AS l_partkey, count(*) AS n_triangles
    FROM (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
          UNION ALL SELECT c AS node FROM tri)
    GROUP BY 1
"""


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts by DEGREE-ORDERED edge orientation
    (Cohen's MapReduce triangle algorithm / Latapy's compact-forward):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one, enumerate wedges by joining oriented edges on
    the shared middle node, close each wedge with a third oriented-
    edge join, then explode each triangle to its three corners and
    count per node.

    Why the orientation matters at 100 TB: wedge enumeration costs
    Σ out-degree², and degree orientation bounds every out-degree by
    O(√|E|) — a celebrity node with 10⁷ undirected neighbors
    contributes ZERO wedges from its own key (all its edges point
    INTO it), so the skewed key that would OOM a naive neighbor
    self-join is structurally defused instead of salted after the
    fact. The triangle SET is orientation-invariant, which is what
    the id-ordered oracle checks.

    ``edges`` is any (src, dst) pair DataFrame; canonicalized here.
    Returns (node, n_triangles) for nodes in ≥1 triangle."""
    canon = _canon_edges(
        edges.select(
            F.col(edges.columns[0]).alias("x"),
            F.col(edges.columns[1]).alias("y"),
        )
    )
    deg = (
        canon.select(F.col("lo").alias("node"))
        .union(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("d").alias("d_lo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("d").alias("d_hi"))
    lo_first = (F.col("d_lo") < F.col("d_hi")) | (
        (F.col("d_lo") == F.col("d_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        canon.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        )
    )
    # LAZY persist for the multi-consumer subtrees: Catalyst does not
    # reuse non-exchange subtrees, so without these the oriented edge
    # build (pairs distinct + degree joins) physically recomputes
    # once per wedge side and once per corner — ~9 full passes per
    # run (PLANS.md r10 showed the blowup: 184 shuffles / 225
    # broadcast exchanges in one triangle plan). persist() keeps
    # construction jobless (the zero-jobs sweep) and the bounded
    # registry caps long-session accumulation.
    oriented = persist_bounded(oriented)
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = persist_bounded(e1.join(e2, "b").join(e3, ["a", "c"]))
    corners = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


@query("graph_triangle_count", oracle=_SQL_TRIANGLES)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the within-brand part co-purchase graph
    (parts of the lexicographically-first brand co-ordered within one
    order): the standard graph-local clustering primitive, computed
    with the degree-ordered orientation so wedge fan-out is bounded by
    O(√|E|) per node (see ``triangle_counts``). The brand slice keeps
    the demonstration graph triangle-rich and bench-sized at every sf;
    on the FULL graph the same orientation is exactly what keeps the
    wedge join feasible. The oracle enumerates the same triangles with
    the id-ordered 3-way self-join — the triangle set is
    orientation-invariant, so two different join orders must
    hash-match."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    min_brand = part.agg(F.min("p_brand").alias("b"))
    brand_parts = part.join(
        F.broadcast(min_brand), part["p_brand"] == F.col("b")
    ).select(F.col("p_partkey").alias("pk"))
    # no broadcast hint: the brand slice is |parts|/|brands| keys —
    # tiny here, 10⁶-ish at 100 TB — AQE picks the right side
    li_b = li.join(
        brand_parts, li["l_partkey"] == F.col("pk"), "leftsemi"
    ).select(F.col("l_orderkey").alias("ok"), F.col("l_partkey"))
    pairs = copurchase_pairs(li_b, "ok", "l_partkey")
    return triangle_counts(pairs).select(
        F.col("node").alias("l_partkey"), "n_triangles"
    )


@query("graph_pagerank", oracle=_sql_pagerank())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank ({PR_ITERS} supersteps, damping 0.85) over
    the customer-nation → supplier-nation trade graph, built
    relationally from the fact tables.

    Plan per superstep: ranks ⋈ edges on the source key, contribution
    = (r·w) // out-weight in exact integers, one aggregate on the
    destination key, right-joined against the node list so sinks keep
    their teleport mass. The edge/out-weight tables are built ONCE
    behind a plan-lazy bounded persist (r16 — was an eager
    localCheckpoint, i.e. two construction-time jobs billed to every
    plan-only consumer); each superstep is the canonical Pregel-on-a-
    relational-engine shape — shuffle keyed on node id, per-round
    lineage cut, measured cheaper than composing all rounds into one
    lazy mega-plan (r16: the lazy form re-plans ~91 exchanges under
    AQE and read 4.2 s warm vs 3.1 s checkpointed). At 100 TB the
    edge build (three fact joins, all on pre-aggregated keys — the
    persisted part) still dominates; supersteps touch only
    |nodes| + |edges| rows. The node count and teleport mass ride a
    1-row broadcast into the plan instead of a driver-side count, so
    construction runs zero Spark jobs (the construction-jobs sweep
    contract) — all integer arithmetic is unchanged, ``div`` on longs
    == Python ``//``."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    edges = persist_bounded(
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            cust["c_nationkey"].alias("u"),
            supp["s_nationkey"].alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = edges.groupBy("u").agg(F.sum("w").alias("wu"))
    ew = persist_bounded(edges.join(outw, "u"))

    # node list + the two scalar constants (node count, teleport mass)
    # as COLUMNS of a 1-row broadcast — exact integer `div`, identical
    # values to the former driver-side count, zero construction jobs
    consts = nation.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    nodes = persist_bounded(
        nation.select(F.col("n_nationkey").alias("node"))
        .crossJoin(F.broadcast(consts))
        .select(
            "node",
            F.expr(
                f"(({100 - PR_D_NUM}) * {PR_SCALE}L) div (100 * nn)"
            ).alias("tp"),
            F.expr(f"{PR_SCALE}L div nn").alias("r0"),
        )
    )

    ranks = nodes.select("node", F.col("r0").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(ew, ranks["node"] == ew["u"])
            .select(
                F.col("v"),
                F.expr("(r * w) div wu").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["v"], "left")
            .select(
                "node",
                (
                    F.col("tp")
                    + F.expr(f"({PR_D_NUM} * coalesce(c, 0L)) div 100")
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


#: BFS demonstration: seed parts (every 997th key) expanded over the
#: FULL co-purchase graph for a fixed hop budget.
BFS_SEED_MOD = 997
BFS_MAX_HOPS = 3

_SQL_COPART_FULL = """
        SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
"""

_SQL_BFS = f"""
    WITH RECURSIVE pair AS ({_SQL_COPART_FULL}),
    edges AS (SELECT lo AS src, hi AS dst FROM pair
              UNION ALL SELECT hi, lo FROM pair),
    seeds AS (SELECT p_partkey AS node FROM part
              WHERE p_partkey % {BFS_SEED_MOD} = 0),
    walk(node, d) AS (
        SELECT node, 0::BIGINT FROM seeds
        UNION
        SELECT e.dst, w.d + 1 FROM walk w
        JOIN edges e ON e.src = w.node
        WHERE w.d < {BFS_MAX_HOPS}
    )
    SELECT node AS l_partkey, min(d)::BIGINT AS hops
    FROM walk GROUP BY 1
"""


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Level-synchronous BFS: exact minimum hop distance (≤
    ``max_hops``) from a seed set over an undirected edge set.

    ``edges`` is any (src, dst) pair DataFrame (canonicalized +
    symmetrized here); ``seeds`` is a 1-column node DataFrame.
    Returns (node, hops).

    Scale shape (r13 — VERDICT r12 item 5): the symmetrized edge set
    is built ONCE, hash-repartitioned on ``src`` and persisted
    through the bounded registry — without that, every superstep
    re-derives the upstream edge build (here: the lineitem
    co-purchase self-join + distinct, the dominant cost) AND
    re-shuffles the big edge side; with it, each round's equi-join
    reuses the persisted partitioning, so the only per-round
    exchange is the (small) frontier. Each superstep is then one
    equi-join (frontier × edges) + one anti-join against the visited
    set — per-round cost is O(frontier-degree sum), the textbook
    Pregel BFS expressed relationally. Only the FRONTIER is eagerly
    localCheckpointed per round (it feeds the join, the union AND the
    next anti-join — without the cut Spark re-derives the whole
    prefix three times per round, the same lineage trap the
    components kernel, ``dedup.label_propagate_components``,
    documents); the visited set stays a lazy union OF those
    checkpoints, so it costs no extra materialization. The loop exits
    as soon as a frontier comes back EMPTY (structural convergence,
    as the components kernel does) — the checkpoint has already
    materialized it, so the check is a scan of stored partitions, not
    a recompute; remaining
    supersteps would each still pay a join against the edge set for
    a provably empty result. Level-synchronous visiting makes
    first-found == minimum distance, which is what the oracle's
    min() over the (node, d)-deduped recursive walk checks."""
    # canon persisted too (r16): the symmetrizing union references it
    # twice, so materializing ``sym`` was running the upstream edge
    # build (the co-purchase self-join + distinct — the dominant
    # cost) twice.
    canon = persist_bounded(
        _canon_edges(
            edges.select(
                F.col(edges.columns[0]).alias("x"),
                F.col(edges.columns[1]).alias("y"),
            )
        )
    )
    sym = persist_bounded(
        canon.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .union(
            canon.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )
        .repartition("src")
    )
    dist = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias("node"),
        F.lit(0).cast("long").alias("hops"),
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt)
        frontier = nxt.select("node")
    return dist


def copurchase_pairs(li: DataFrame, order_col: str, part_col: str) -> DataFrame:
    """Distinct co-purchase part pairs (pa < pb) per order, built as
    one groupBy + in-memory pair expansion instead of a lineitem
    self-join (r17, guide §2.3 "aggregate before you shuffle" / §3.3
    "explode after the join"): the self-join form shuffled the line
    table, sorted both sides, and pushed sum-of-basket² rows through
    join machinery before the final distinct; this form shuffles the
    projected line table ONCE (partial-aggregated collect_set),
    expands C(basket, 2) pairs in memory (baskets cap at 13 parts on
    the fixture; real A-Priori caps basket size the same way —
    analytics_market_basket's shape), and feeds the same distinct.
    Same pair set by construction: within-order collect_set dedup
    only removes duplicates the final distinct removed anyway, and
    sort_array + i<j expansion reproduces pa < pb exactly. Measured
    interleaved at sf0.1 (full lineitem): 1.85-2.2 s → 1.32-1.6 s.
    NOT usable where pair multiplicity matters
    (graph_shortest_path_weighted weights edges by the ROW-pair
    count, which the set semantics here would change)."""
    from lake_satellite_image_etl_spark.operators.dedup import pair_combos

    baskets = (
        li.groupBy(order_col)
        .agg(F.sort_array(F.collect_set(part_col)).alias("m"))
        .filter(F.size("m") >= 2)
    )
    return (
        baskets.select(F.explode(pair_combos(F.col("m"))).alias("p"))
        .select(F.col("p.a").alias("pa"), F.col("p.b").alias("pb"))
        .distinct()
    )


@query("graph_bfs_distance", oracle=_SQL_BFS)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (BFS, ≤ {BFS_MAX_HOPS} hops) from the
    seed parts (every {BFS_SEED_MOD}th key) over the FULL part
    co-purchase graph — reachability / blast-radius analysis as a
    fixed-superstep relational loop (see ``bfs_distances``). The
    oracle recomputes the same distances with a recursive CTE whose
    UNION dedups on (node, d) pairs, bounding its work at
    |nodes| × hops."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    pairs = copurchase_pairs(li, "l_orderkey", "l_partkey")
    seeds = part.where(
        F.col("p_partkey") % BFS_SEED_MOD == 0
    ).select("p_partkey")
    return bfs_distances(pairs, seeds, BFS_MAX_HOPS).select(
        F.col("node").alias("l_partkey"), "hops"
    )


#: Bellman-Ford supersteps (the oracle unrolls the same number) and
#: the affinity→cost transform: strong co-purchase support = cheap
#: edge, in exact integers.
BF_ROUNDS = 6
BF_COST_SCALE = 10**6

_SQL_WEDGES = f"""
        SELECT a.l_partkey AS lo, b.l_partkey AS hi,
               {BF_COST_SCALE} // count(*) AS w
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_brand = (SELECT min(p_brand) FROM part))
          AND b.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_brand = (SELECT min(p_brand) FROM part))
        GROUP BY 1, 2
"""


def _sql_bellman_ford() -> str:
    src = (
        "(SELECT min(p_partkey) FROM part WHERE p_brand = "
        "(SELECT min(p_brand) FROM part))"
    )
    ctes = [
        f"pair AS ({_SQL_WEDGES})",
        "edges AS (SELECT lo AS src, hi AS dst, w FROM pair"
        " UNION ALL SELECT hi, lo, w FROM pair)",
        f"d0 AS (SELECT {src} AS node, 0::BIGINT AS d)",
    ]
    for i in range(BF_ROUNDS):
        ctes.append(
            f"""d{i + 1} AS (
        SELECT node, min(d)::BIGINT AS d FROM (
            SELECT node, d FROM d{i}
            UNION ALL
            SELECT e.dst AS node, p.d + e.w AS d
            FROM d{i} p JOIN edges e ON e.src = p.node
        ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node AS l_partkey, d AS dist_scaled FROM d{BF_ROUNDS}"
    )


@query("graph_shortest_path_weighted", oracle=_sql_bellman_ford())
def graph_shortest_path_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-source weighted shortest paths by {BF_ROUNDS}
    Bellman-Ford supersteps over the within-brand co-purchase
    affinity graph (edge cost = {BF_COST_SCALE} // co-order support —
    strongly-associated parts are "close"), from the brand's minimum
    part key. Costs and distances are exact integers; the oracle
    unrolls the identical relaxations, so any divergence in a single
    min() breaks the hash.

    Scale shape: each superstep is ONE equi-join (tentative distances
    × edges, shuffled on the node key) + a groupBy-min whose partial
    aggregation collapses candidates map-side — the Pregel SSSP
    pattern expressed relationally, cousin to ``graph_pagerank``'s
    supersteps. The round count is FIXED (bounded-horizon relaxation
    — distances are exact for all paths of ≤ {BF_ROUNDS} edges, the
    deliberate contract at 100 TB where true-diameter iteration is
    unbounded); per-round eager localCheckpoint cuts the iterative
    lineage (measured necessary — see the in-body r16 note), while
    the loop-invariant edge set sits behind a plan-lazy bounded
    persist instead of an eager checkpoint, so the edge build
    materializes once inside the first action rather than at
    construction. Negative edges cannot exist (costs are positive by
    construction), so no negative-cycle guard is needed."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    min_brand = part.agg(F.min("p_brand").alias("mb"))
    brand_parts = part.join(
        F.broadcast(min_brand), part["p_brand"] == F.col("mb")
    ).select(F.col("p_partkey").alias("pk"))
    li_b = li.join(
        brand_parts, li["l_partkey"] == F.col("pk"), "leftsemi"
    ).select(F.col("l_orderkey").alias("ok"), F.col("l_partkey"))
    a = li_b.select("ok", F.col("l_partkey").alias("pa"))
    b = li_b.select("ok", F.col("l_partkey").alias("pb"))
    pair = persist_bounded(
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.expr(f"{BF_COST_SCALE} div count(1)").alias("w")
        )
    )
    # edge build behind plan-lazy bounded persists (r16 — was an
    # eager localCheckpoint, billing two construction jobs to every
    # plan-only consumer; the persist also dedups the two symmetrized
    # union branches' shared pair subtree at execution). The loop
    # keeps its per-round eager lineage cut: ``dist`` is referenced
    # twice per relaxation (carry ∪ candidates), so an uncut plan
    # duplicates the subtree 2^rounds times (measured 825 exchanges /
    # 14 s by round 6; a self-loop-augmented single-reference rewrite
    # still re-planned 122 exchanges under AQE and read 3.7 s vs
    # 2.1 s for the cut loop — fixed-round mega-plans lose to small
    # per-round jobs here, same finding as graph_pagerank).
    edges = persist_bounded(
        pair.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst"), "w"
        ).union(
            pair.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "w")
        )
    )
    dist = brand_parts.agg(F.min("pk").alias("node")).select(
        "node", F.lit(0).cast("long").alias("d")
    )
    for _ in range(BF_ROUNDS):
        cand = dist.join(edges, dist["node"] == edges["src"]).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.union(cand)
            .groupBy("node")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        F.col("node").alias("l_partkey"), F.col("d").alias("dist_scaled")
    )


#: clustering-coefficient fixed-point scale
CLUST_SCALE = 10**6

_SQL_CLUSTERING = f"""
    WITH pair AS ({_SQL_COPART}),
    deg AS (
        SELECT node, count(*)::BIGINT AS d FROM (
            SELECT lo AS node FROM pair UNION ALL SELECT hi FROM pair
        ) GROUP BY 1
    ),
    tri AS (
        SELECT p1.lo AS a, p1.hi AS b, p2.hi AS c
        FROM pair p1
        JOIN pair p2 ON p2.lo = p1.hi
        JOIN pair p3 ON p3.lo = p1.lo AND p3.hi = p2.hi
    ),
    tcnt AS (
        SELECT node, count(*)::BIGINT AS t
        FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY 1
    )
    SELECT deg.node AS l_partkey, deg.d AS degree,
           COALESCE(tcnt.t, 0)::BIGINT AS n_triangles,
           ((2 * COALESCE(tcnt.t, 0) * {CLUST_SCALE})
               // (deg.d * (deg.d - 1)))::BIGINT AS clustering_scaled
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE deg.d >= 2
"""


@query("graph_clustering_coefficient", oracle=_SQL_CLUSTERING)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per node — 2·triangles(v) /
    (deg(v)·(deg(v)−1)), the standard "how clique-like is this
    node's neighborhood" metric (community cores vs bridges), over
    the within-brand co-purchase graph. Reported as the exact scaled
    integer 2·t·{CLUST_SCALE} // (d·(d−1)); nodes of degree < 2 are
    excluded (coefficient undefined).

    Scale shape: reuses ``triangle_counts``'s degree-ordered wedge
    enumeration (per-node fan-out bounded O(√|E|)); the degree table
    is one more partial-agg pass over the same canonical edge set;
    the final combine is a left join of two node-keyed aggregates.
    Numeric envelope: 2·t·SCALE with t ≤ d² ≤ |E| stays in BIGINT
    through |E| ≈ 9·10¹² triangles per node — far past any real
    per-node count."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    min_brand = part.agg(F.min("p_brand").alias("b"))
    brand_parts = part.join(
        F.broadcast(min_brand), part["p_brand"] == F.col("b")
    ).select(F.col("p_partkey").alias("pk"))
    li_b = li.join(
        brand_parts, li["l_partkey"] == F.col("pk"), "leftsemi"
    ).select(F.col("l_orderkey").alias("ok"), F.col("l_partkey"))
    pairs = copurchase_pairs(li_b, "ok", "l_partkey").localCheckpoint(
        eager=True
    )
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .union(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tri = triangle_counts(pairs)
    return (
        deg.join(tri, "node", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("node").alias("l_partkey"),
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                f"(2 * coalesce(n_triangles, 0L) * {CLUST_SCALE})"
                f" div (d * (d - 1))"
            ).alias("clustering_scaled"),
        )
    )
