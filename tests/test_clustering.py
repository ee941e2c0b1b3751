"""Unit tests for large-star/small-star connected components."""

import pytest
from pyspark.sql import functions as F

from cutwed_spark.operators.clustering import assign_clusters, connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    out, _ = connected_components(df)
    return {r["conv_id"]: r["cluster_id"] for r in out.collect()}


def test_chain_and_island(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_star_graph(spark):
    edges = [("hub", f"s{i}") for i in range(20)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"hub"}


def test_assign_clusters_singletons(spark):
    series = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["conv_id"])
    edges = spark.createDataFrame([("a", "b")], ["conv_id_a", "conv_id_b"])
    out, _ = assign_clusters(series, edges)
    got = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "d"}


def test_empty_edges(spark):
    series = spark.createDataFrame([("a",), ("b",)], ["conv_id"])
    edges = spark.createDataFrame([], "conv_id_a string, conv_id_b string")
    out, _ = assign_clusters(series, edges)
    got = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "b"}


def test_mixed_graph_matches_union_find(spark):
    """connected_components on a mixed graph of chains, random
    components (with self-loops), and a 5-clique equals a driver-side
    union-find: every node maps to its component's minimum id, and a
    node whose only edges are self-loops is absent."""
    import random

    random.seed(7)
    rows = []
    for c in range(12):
        ln = 2 + c % 9
        ids = [f"a{c:03d}_{i:02d}" for i in range(ln)]
        rows += list(zip(ids, ids[1:]))
    for c in range(8):
        ids = [f"b{c:03d}_{i:02d}" for i in range(random.randint(2, 12))]
        rows += [(i, random.choice(ids)) for i in ids]
    rows += [(f"q_{i}", f"q_{j}") for i in range(5) for j in range(5)]

    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(rows, "conv_id_a string, conv_id_b string")
    out, _ = connected_components(df)
    got = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    assert got == expected
