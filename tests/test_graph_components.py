"""Star-contraction connected components (operators/graph.py):
equivalence with label propagation, the O(log²n) round-count
advantage on long chains (its reason to exist at 100 TB), and
structural-fixpoint properties. Tests of the distributed loops set
``DRIVER_COMPONENTS_MAX_EDGES`` to 0, so their graphs do not take the
driver path."""

from __future__ import annotations

import random

import pytest

from tests.test_cluster import _GRAPHS, _components, _loop_only, _plan


def _star(spark, undirected_pairs):
    from lake_satellite_image_etl_spark.operators.graph import (
        star_contract_components,
    )

    pairs = spark.createDataFrame(undirected_pairs, "src long, dst long")
    labels, rounds = star_contract_components(pairs)
    return {r["node"]: r["label"] for r in labels.collect()}, rounds


def test_chain_converges_in_logarithmic_rounds(spark, monkeypatch):
    """A 64-node chain (diameter 63) needs ~63 propagation rounds; star
    contraction must land the same single min-rooted component in
    O(log²n) alternations — pinned at ≤ 10."""
    _loop_only(monkeypatch)
    chain = [(i, i + 1) for i in range(1, 64)]
    labels, rounds = _star(spark, chain)
    assert labels == {n: 1 for n in range(1, 65)}
    assert rounds <= 10, f"star contraction took {rounds} rounds on a chain"


def _random_graphs():
    rng = random.Random(7)
    for _ in range(3):
        n = 60
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n)
        ]  # includes self-loops / dups / reversed duplicates
        pairs += [(b, a) for a, b in pairs[: n // 4]]
        yield [p for p in pairs if p[0] != p[1]]


def test_components_match_label_propagation_on_random_graphs(spark, monkeypatch):
    """Two independent algorithms, identical fixpoint: random sparse
    graphs (dup edges, self loops, both orientations, singleton-free
    by construction) must agree node-for-node."""
    _loop_only(monkeypatch)
    for trial, pairs in enumerate(_random_graphs()):
        star_labels, _ = _star(spark, pairs)
        prop_labels = _components(spark, pairs)
        assert star_labels == prop_labels, f"trial {trial} diverged"


def test_two_components_and_orientation_independence(spark):
    """Direction of the input pairs must not matter, and separate
    components keep separate min labels."""
    pairs = [(12, 11), (11, 10), (10, 9)] + [(20, 21), (21, 22)]
    labels, _ = _star(spark, pairs)
    assert labels == {9: 9, 10: 9, 11: 9, 12: 9, 20: 20, 21: 20, 22: 20}


def test_star_input_is_immediate_fixpoint(spark, monkeypatch):
    """A min-rooted star is a fixpoint of both operations: one round
    to observe stability, then out."""
    _loop_only(monkeypatch)
    star = [(1, k) for k in range(2, 12)]
    labels, rounds = _star(spark, star)
    assert labels == {n: 1 for n in range(1, 12)}
    assert rounds <= 2


def test_round_cap_exhaustion_warns(spark, monkeypatch):
    """Exiting via STAR_MAX_ROUNDS before the edge set stabilizes must
    raise the RuntimeWarning, mirroring label propagation's contract."""
    import warnings

    from lake_satellite_image_etl_spark.operators import graph

    _loop_only(monkeypatch)
    monkeypatch.setattr(graph, "STAR_MAX_ROUNDS", 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _star(spark, [(i, i + 1) for i in range(1, 40)])
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "not converged" in str(w.message)
        for w in caught
    )


_STAR_GRAPHS = {
    **{f"random7_{i}": g for i, g in enumerate(_random_graphs())},
    "chain64": [(i, i + 1) for i in range(1, 64)],
    "two_components": _GRAPHS["two_components"],
    "empty": [],
}


@pytest.mark.parametrize("ddl", ["src long, dst long", "src int, dst int"])
@pytest.mark.parametrize("graph", sorted(_STAR_GRAPHS))
def test_star_driver_path_equals_loop(spark, monkeypatch, graph, ddl):
    """The driver path returns the star loop's rows and schema, and
    reports 0 rounds; self-loops are dropped on both paths. A bound of
    -1 sends even the empty graph to the loop."""
    from lake_satellite_image_etl_spark.operators.graph import (
        star_contract_components,
    )

    pairs = spark.createDataFrame(_STAR_GRAPHS[graph] + [(99, 99)], ddl)
    fast, fast_rounds = star_contract_components(pairs)
    assert fast_rounds == 0 and "LocalTableScan" in _plan(fast)
    _loop_only(monkeypatch, -1 if graph == "empty" else 0)
    loop, loop_rounds = star_contract_components(pairs)
    assert loop_rounds >= 1
    assert fast.schema == loop.schema
    assert sorted(fast.collect()) == sorted(loop.collect())


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
