"""Connected-components correctness: known graphs + random-graph oracle."""

import random

import pytest
from pyspark.sql import functions as F

from blink_spark.operators.clustering import connected_components


def _assign(spark, edges, max_iter=50):
    df = spark.createDataFrame(edges, ["conv_a", "conv_b"])
    rows = connected_components(df, max_iter=max_iter).collect()
    return {r["conv_id"]: r["cluster_id"] for r in rows}


def _union_find_oracle(edges):
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
    # root = min of component
    comp = {}
    for node in list(parent):
        comp[node] = find(node)
    return comp


def test_two_components(spark):
    got = _assign(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain(spark):
    """Chains are the worst case for naive propagation; star alg must close them."""
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    got = _assign(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == 40


def test_non_convergence_raises(spark):
    """Running out of max_iter must raise, never return a non-fixpoint
    edge set (which would split one component into several clusters);
    the default still closes the same chain into one component."""
    nodes = [f"n{i:03d}" for i in range(64)]
    edges = list(zip(nodes, nodes[1:]))
    with pytest.raises(RuntimeError, match="max_iter=2"):
        _assign(spark, edges, max_iter=2)
    assert set(_assign(spark, edges).values()) == {"n000"}


def test_stops_only_at_a_star_forest(spark):
    """Round 1 on this path leaves ``c`` with two parents, ``a`` and ``b``,
    neither of which is a child: a stop on "no parent is a child" alone
    would split the one component in two."""
    got = _assign(spark, [("a", "c"), ("d", "c"), ("e", "b"), ("e", "d")])
    assert got == {n: "a" for n in "abcde"}


def test_duplicate_and_reversed_edges(spark):
    got = _assign(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_self_loops_ignored(spark):
    got = _assign(spark, [("a", "a"), ("a", "b")])
    assert got == {"a": "a", "b": "a"}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(1234)
    nodes = [f"v{i:04d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _assign(spark, edges)
    want = _union_find_oracle(edges)
    assert got == want
