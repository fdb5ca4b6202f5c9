"""Graph operator tests: the components kernel's O(log² n) round
bound on long chains and min-rooted stars (its reason to exist at
100 TB), its un-symmetrized-input contract, its loop path against the
DuckDB oracles, and triangle counts, BFS and Bellman-Ford. Tests of
the distributed components loop set ``DRIVER_COMPONENTS_MAX_EDGES``
to 0, so their graphs do not take the driver path."""

from __future__ import annotations

import warnings

import pytest

from tests.test_cluster import _loop_only


def _labels(spark, undirected_pairs):
    """(node → label) of un-symmetrized pairs; an exhausted round cap
    (its RuntimeWarning) fails the test."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    pairs = spark.createDataFrame(undirected_pairs, "src long, dst long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = label_propagate_components(pairs)
    return {r["node"]: r["label"] for r in labels.collect()}


def _loop_capped(monkeypatch, rounds):
    from lake_satellite_image_etl_spark.operators import dedup

    _loop_only(monkeypatch)
    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", rounds)


def test_chain_converges_in_logarithmic_rounds(spark, monkeypatch):
    """A 64-node chain (diameter 63) needs 63 min-label propagation
    rounds; star contraction must land the same single min-rooted
    component in O(log²n) alternations — pinned by a cap of 10 rounds
    that must not be exhausted."""
    _loop_capped(monkeypatch, 10)
    chain = [(i, i + 1) for i in range(1, 64)]
    labels = _labels(spark, chain)
    assert labels == {n: 1 for n in range(1, 65)}


def test_two_components_and_orientation_independence(spark):
    """Direction of the input pairs must not matter, and separate
    components keep separate min labels."""
    pairs = [(12, 11), (11, 10), (10, 9)] + [(20, 21), (21, 22)]
    labels = _labels(spark, pairs)
    assert labels == {9: 9, 10: 9, 11: 9, 12: 9, 20: 20, 21: 20, 22: 20}


def test_star_input_is_immediate_fixpoint(spark, monkeypatch):
    """A min-rooted star is a fixpoint of both operations: one round
    to observe stability, so a cap of 2 rounds is not exhausted."""
    _loop_capped(monkeypatch, 2)
    star = [(1, k) for k in range(2, 12)]
    labels = _labels(spark, star)
    assert labels == {n: 1 for n in range(1, 12)}


def test_round_cap_exhaustion_warns(spark, monkeypatch):
    """An exhausted STAR_MAX_ROUNDS on un-symmetrized input warns, and
    the unconverged result is still one row per node with a label no
    larger than the node (a split component, never a lost node)."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    _loop_capped(monkeypatch, 1)
    chain = [(i + 1, i) for i in range(1, 40)]
    pairs = spark.createDataFrame(chain, "src long, dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = label_propagate_components(pairs).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "not converged" in str(w.message)
        for w in caught
    )
    assert sorted(r["node"] for r in rows) == list(range(1, 41))
    assert all(r["label"] <= r["node"] for r in rows)


#: graph → (un-symmetrized pairs, expected labels without the (99, 99)
#: self-loop every case adds)
_STAR_GRAPHS = {
    "two_components": (
        [(12, 11), (11, 10), (10, 9), (20, 21), (21, 22)],
        {9: 9, 10: 9, 11: 9, 12: 9, 20: 20, 21: 20, 22: 20},
    ),
    "empty": ([], {}),
}


@pytest.mark.parametrize("ddl", ["src long, dst long", "src int, dst int"])
@pytest.mark.parametrize("graph", sorted(_STAR_GRAPHS))
def test_star_driver_path_equals_loop(spark, monkeypatch, graph, ddl):
    """Both paths give the same rows and schema on pairs in reversed
    orientation, and those rows are the expected min labels: a node
    seen only in a self-loop labels itself (99 → 99), also when the
    self-loop is the whole graph."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    pairs, expected = _STAR_GRAPHS[graph]
    frame = spark.createDataFrame([(b, a) for a, b in pairs] + [(99, 99)], ddl)
    fast = label_propagate_components(frame)
    _loop_only(monkeypatch)
    loop = label_propagate_components(frame)
    assert fast.schema == loop.schema
    rows = sorted(fast.collect())
    assert sorted(loop.collect()) == rows
    assert {r["node"]: r["label"] for r in rows} == {**expected, 99: 99}


@pytest.mark.parametrize("name",["dedup_cluster_assign", "graph_components_star"])
def test_components_loop_path_matches_oracle(spark, monkeypatch, name):
    """With the driver path off, both components queries still
    hash-match their recursive-CTE oracles on sf0.001 — the gate's
    fixtures are small enough that they otherwise only take the
    driver path."""
    from lake_satellite_image_etl_spark.registry import load_all
    from tests.conftest import SF_SMOKE
    from tools.compare import compare_frames, duckdb_con

    _loop_only(monkeypatch)
    queries, oracles = load_all()
    spark_pdf = queries[name](spark, SF_SMOKE).toPandas()
    assert len(spark_pdf) >= 2  # at least one near-dup pair
    oracle_pdf = duckdb_con(SF_SMOKE).execute(oracles[name]).fetchdf()
    res = compare_frames(name, spark_pdf, oracle_pdf)
    assert res.ok, res.detail


# ---------------- triangle counting ------------------------------------


def _tri(spark, undirected_pairs):
    from lake_satellite_image_etl_spark.operators.graph import (
        triangle_counts,
    )

    pairs = spark.createDataFrame(undirected_pairs, "src long, dst long")
    return {
        r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()
    }


def test_triangles_k4(spark):
    """K4 has C(4,3)=4 triangles; every node sits in exactly 3."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert _tri(spark, k4) == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_star_graph_has_none(spark):
    """A star (the degree-skew worst case the orientation defuses)
    has no triangles — and nodes with zero triangles are absent."""
    star = [(1, h) for h in range(2, 40)]
    assert _tri(spark, star) == {}


def test_triangles_orientation_invariance(spark):
    """Same counts regardless of input edge direction, duplicates,
    and self-loops (canonicalization)."""
    base = [(1, 2), (2, 3), (1, 3), (3, 4)]
    noisy = base + [(2, 1), (3, 1), (4, 4), (1, 2)]
    assert _tri(spark, base) == _tri(spark, noisy) == {1: 1, 2: 1, 3: 1}


def test_triangles_two_overlapping(spark):
    """Two triangles sharing an edge: shared nodes count both."""
    g = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    assert _tri(spark, g) == {1: 1, 2: 2, 3: 2, 4: 1}


# ---------------- BFS distances ------------------------------------


def _bfs(spark, pairs, seeds, hops=3):
    from lake_satellite_image_etl_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(pairs, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    return {
        r["node"]: r["hops"] for r in bfs_distances(e, s, hops).collect()
    }


def test_bfs_path_graph(spark):
    """Chain 1-2-3-4-5-6 from seed 1: exact hop distances, capped."""
    chain = [(i, i + 1) for i in range(1, 6)]
    assert _bfs(spark, chain, [1], hops=3) == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_min_over_multiple_seeds(spark):
    """Node reachable from two seeds takes the SHORTER distance."""
    chain = [(i, i + 1) for i in range(1, 6)]
    assert _bfs(spark, chain, [1, 5], hops=2) == {
        1: 0, 5: 0, 2: 1, 4: 1, 6: 1, 3: 2,
    }


def test_bfs_disconnected_and_isolated_seed(spark):
    """Unreached nodes are absent; a seed with no edges still
    reports distance 0; direction of input pairs is irrelevant."""
    g = [(2, 1), (3, 2), (9, 8)]
    assert _bfs(spark, g, [1, 7], hops=3) == {1: 0, 7: 0, 2: 1, 3: 2}


# note: cycle shortcuts (both directions explored) are covered by
# test_bfs_min_over_multiple_seeds' undirected symmetric expansion.


def test_bellman_ford_oracle_unroll_matches_second_fixture(spark):
    """The SSSP query and its unrolled oracle agree on sf0.001 too
    (different brand slice than the gate's sf0.01 — exercises the
    derived source/seed logic on a second fixture)."""
    from lake_satellite_image_etl_spark.operators.graph import (
        graph_shortest_path_weighted,
    )
    from lake_satellite_image_etl_spark.registry import load_all
    from tests.conftest import SF_SMOKE
    from tools.compare import compare_frames, duckdb_con

    _, oracles = load_all()
    spark_pdf = graph_shortest_path_weighted(spark, SF_SMOKE).toPandas()
    assert len(spark_pdf) >= 1   # at least the source itself
    duck = duckdb_con(SF_SMOKE)
    oracle_pdf = duck.execute(
        oracles["graph_shortest_path_weighted"]
    ).fetchdf()
    res = compare_frames("bf_smoke", spark_pdf, oracle_pdf)
    assert res.ok, res.detail


# -------- randomized cross-checks vs pure-python brute force ----------


def _brute_triangles(pairs):
    adj = {}
    es = set()
    for a, b in pairs:
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        es.add((lo, hi))
    for lo, hi in es:
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    out = {}
    for lo, hi in es:
        for c in adj[lo] & adj[hi]:
            for node in (lo, hi, c):
                out[node] = out.get(node, 0) + 1
    # each triangle visits a corner via its 3 edges → counted 3× per node
    return {k: v // 3 for k, v in out.items() if v}


def _brute_bfs(pairs, seeds, hops):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        frontier = nxt
    return dist


def test_triangles_random_graphs_match_bruteforce(spark):
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n, m = 30, 80
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        want = _brute_triangles(pairs)
        assert _tri(spark, pairs) == want, f"seed {seed}"


def test_bfs_random_graphs_match_bruteforce(spark):
    import random

    for seed in (5, 41):
        rng = random.Random(seed)
        n, m = 40, 70
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        seeds = [0, 1]
        want = _brute_bfs(pairs, seeds, 3)
        assert _bfs(spark, pairs, seeds, hops=3) == want, f"seed {seed}"
