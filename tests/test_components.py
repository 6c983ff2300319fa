"""Connected components: chains, multiple components, convergence — on
both paths (driver union-find and min-label propagation)."""

from __future__ import annotations

import random

import pytest

from scala_data_pipeline_spark.ext import components
from scala_data_pipeline_spark.ext.components import (
    ComponentsNotConverged,
    connected_components,
)

from .oracle_harness import compare, duckdb_run


@pytest.fixture
def paths(monkeypatch):
    """Iterating runs the test body once per path: the driver solve (the
    default bound) and propagation (bound 0). The test ids stay one per
    test."""

    def each():
        for name, bound in (
            ("driver", components.SMALL_GRAPH_EDGES),
            ("propagation", 0),
        ):
            monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", bound)
            yield name

    return each()


def _labels(pairs) -> dict:
    return {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }


def test_components_chain_and_islands(spark, paths):
    # chain 1-2-3 ... 9-1 merges {1,2,3,8,9}; {5,6} separate.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], ["doc_a", "doc_b"]
    )
    for path in paths:
        assert _labels(pairs) == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5}, path


def test_components_long_chain_converges(spark, paths):
    # path graph 0-1-2-...-12: diameter > a couple rounds, still
    # converges.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    for path in paths:
        assert _labels(pairs) == {i: 0 for i in range(13)}, path


def test_components_unconverged_raises(spark, monkeypatch):
    # path graph 0-1-...-8 has diameter 8; 2 rounds cannot reach fixpoint
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setattr(components, "MAX_ROUNDS", 2)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    with pytest.raises(ComponentsNotConverged):
        connected_components(pairs)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min id per component
    return {v: find(v) for v in list(parent)}


def test_components_random_graphs_match_union_find(spark, paths):
    """Property check against a pure-Python union-find on a batch of
    random graphs (seeded; one Spark run per graph shape and path)."""
    graphs = []
    for seed in (7, 11):
        rng = random.Random(seed)
        for _ in range(4):
            n = rng.randint(2, 40)
            m = rng.randint(1, 60)
            edges = [
                (rng.randint(0, n), rng.randint(0, n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            if edges:
                graphs.append(edges)
    frames = [spark.createDataFrame(e, ["doc_a", "doc_b"]) for e in graphs]
    for path in paths:
        for edges, pairs in zip(graphs, frames):
            want = _union_find_components(edges)
            assert _labels(pairs) == want, f"{path}: {sorted(edges)}"


def test_components_self_loop_only_vertices_labeled(spark, paths):
    # A vertex appearing ONLY in self-pairs must still be labeled with
    # its own id, matching the recursive-CTE oracle.
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (9, 9)], ["doc_a", "doc_b"]
    )
    for path in paths:
        assert _labels(pairs) == {1: 1, 2: 1, 7: 7, 9: 9}, path


def test_components_above_bound_matches(spark, monkeypatch):
    """A bound that the edge list exceeds sends the graph to propagation,
    never to the driver solve, and the labels still match union-find,
    self-loop-only vertices included."""

    def no_driver_solve(edges):
        raise AssertionError("driver solve taken above the bound")

    monkeypatch.setattr(components, "_solve_small_graph", no_driver_solve)
    # 3 undirected non-loop edges -> 6 bidirectional + 1 self row = 7
    # distinct edge rows > bound 2.
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 2)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 7)], ["doc_a", "doc_b"]
    )
    assert _labels(pairs) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 7: 7}


def test_components_iterative_matches_oracle(spark, sf_dir, monkeypatch):
    """Propagation on a real LSH pair graph: the dedup_components query
    with the driver solve switched off equals its recursive-CTE
    oracle."""
    from scala_data_pipeline_spark.queries import extra_oracles, extra_queries

    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    got = extra_queries()["dedup_components"](spark, sf_dir)
    want = duckdb_run(extra_oracles()["dedup_components"], sf_dir)
    compare(got, want, "dedup_components (propagation)")
