"""Convergence tests for the label-propagation connected-components
pass behind dedup_cluster_assign (VERDICT r2 flagged the old fixed
4-hop bound: diameter > 4 components got split cluster ids), and for
the driver path that finishes graphs of at most
``DRIVER_COMPONENTS_MAX_EDGES`` edge rows by union-find.

Tests of the distributed loop set the bound to 0, so their graphs do
not take the driver path."""

from __future__ import annotations

import random

import pytest

from tests.test_incremental import _max_job_id


def _edges(spark, undirected_pairs, ddl="src long, dst long"):
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(undirected_pairs, ddl)
    return pairs.union(pairs.select(F.col("dst"), F.col("src")))


def _components(spark, undirected_pairs):
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    return {
        r["node"]: r["label"]
        for r in label_propagate_components(_edges(spark, undirected_pairs)).collect()
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _loop_only(monkeypatch, bound=0):
    from lake_satellite_image_etl_spark.operators import dedup

    monkeypatch.setattr(dedup, "DRIVER_COMPONENTS_MAX_EDGES", bound)


def test_diameter_six_chain_is_one_cluster(spark, monkeypatch):
    """1-2-3-4-5-6-7 (diameter 6) must converge to a single cluster
    labeled by the minimum node — the case a fixed 4-hop unroll
    splits."""
    _loop_only(monkeypatch)
    chain = [(i, i + 1) for i in range(1, 7)]
    labels = _components(spark, chain)
    assert labels == {n: 1 for n in range(1, 8)}


def test_two_components_and_reversed_chain(spark):
    """Min label must flow AGAINST edge orientation too (the input is
    symmetrized), and separate components must keep separate ids."""
    pairs = [(12, 11), (11, 10), (10, 9)] + [(20, 21), (21, 22)]
    labels = _components(spark, pairs)
    assert labels == {9: 9, 10: 9, 11: 9, 12: 9, 20: 20, 21: 20, 22: 20}


def test_round_cap_exhaustion_warns(spark, monkeypatch):
    """Exiting via CLUSTER_MAX_ROUNDS with labels still moving must be
    observable, not silent (ADVICE r3): cap a diameter-6 chain at 2
    rounds and expect the non-convergence RuntimeWarning."""
    import warnings

    from lake_satellite_image_etl_spark.operators import dedup

    _loop_only(monkeypatch)
    monkeypatch.setattr(dedup, "CLUSTER_MAX_ROUNDS", 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _components(spark, [(i, i + 1) for i in range(1, 7)])
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "not converged" in str(w.message)
        for w in caught
    )


def _random_pairs(seed, n=60):
    rng = random.Random(seed)
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(n)]
    return pairs + [(b, a) for a, b in pairs[: n // 4]]


#: the 64-node chain needs 63 propagation rounds, above the loop's
#: cap of 50; the star kernel's tests compare it
_GRAPHS = {
    **{f"random{s}": _random_pairs(s) for s in (7, 8)},
    "chain16": [(i, i + 1) for i in range(1, 16)],
    "two_components": [(12, 11), (11, 10), (10, 9), (20, 21), (21, 22)],
    "empty": [],
}


@pytest.mark.parametrize("ddl", ["src long, dst long", "src int, dst int"])
@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_driver_path_equals_loop(spark, monkeypatch, graph, ddl):
    """The driver path returns the loop's rows and schema. The random
    graphs hold self-loops and duplicate edges. A bound of -1 sends
    even the empty graph (0 rows, at most a bound of 0) to the loop."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    edges = _edges(spark, _GRAPHS[graph], ddl)
    fast = label_propagate_components(edges)
    assert "LocalTableScan" in _plan(fast)
    _loop_only(monkeypatch, -1 if graph == "empty" else 0)
    loop = label_propagate_components(edges)
    assert "LocalTableScan" not in _plan(loop)
    assert fast.schema == loop.schema
    assert sorted(fast.collect()) == sorted(loop.collect())


@pytest.mark.parametrize("n_rows, driver", [(4, True), (5, False)])
def test_driver_path_size_boundary(spark, monkeypatch, n_rows, driver):
    """Exactly DRIVER_COMPONENTS_MAX_EDGES edge rows take the driver
    path; one more takes the loop."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    _loop_only(monkeypatch, 4)
    rows = [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)][:n_rows]
    edges = spark.createDataFrame(rows, "src long, dst long")
    labels = label_propagate_components(edges)
    assert ("LocalTableScan" in _plan(labels)) is driver


def test_driver_path_job_count_and_plan(spark):
    """One call on a small persisted edge frame launches at most 2
    Spark jobs (the bounded Arrow collect), and the result is a local
    relation: no Python RDD (``ExistingRDD``) in its plan."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        label_propagate_components,
    )

    edges = _edges(spark, [(i, i + 1) for i in range(200)]).repartition(4)
    edges = edges.persist()
    try:
        edges.count()
        floor = _max_job_id(spark)
        labels = label_propagate_components(edges)
        assert _max_job_id(spark) - floor <= 2
        plan = _plan(labels)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert {r["label"] for r in labels.collect()} == {0}
    finally:
        edges.unpersist()
