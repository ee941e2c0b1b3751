"""Unit tests for large-star/small-star connected components, on both
paths: the distributed Spark loop and its driver-side NumPy twin."""

import random

import pytest

from cutwed_spark.operators import clustering
from cutwed_spark.operators.clustering import (
    assign_clusters,
    connected_components,
    driver_components,
)


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


def _mixed_rows():
    """Chains, random components with self-loops, and a 5-clique."""
    rng = random.Random(7)
    rows = []
    for c in range(12):
        ln = 2 + c % 9
        ids = [f"a{c:03d}_{i:02d}" for i in range(ln)]
        rows += list(zip(ids, ids[1:]))
    for c in range(8):
        ids = [f"b{c:03d}_{i:02d}" for i in range(rng.randint(2, 12))]
        rows += [(i, rng.choice(ids)) for i in ids]
    rows += [(f"q_{i}", f"q_{j}") for i in range(5) for j in range(5)]
    return rows


def test_mixed_graph_matches_union_find(spark):
    """connected_components on a mixed graph of chains, random
    components (with self-loops), and a 5-clique equals a driver-side
    union-find: every node maps to its component's minimum id, and a
    node whose only edges are self-loops is absent."""
    rows = _mixed_rows()
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


PARITY_GRAPHS = {
    "chain_and_island": [("a", "b"), ("b", "c"), ("x", "y")],
    "long_chain": [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)],
    "star": [("hub", f"s{i}") for i in range(20)],
    "duplicate_and_reversed": [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")],
    "mixed": _mixed_rows(),
    "empty": [],
    "self_loops_only": [("a", "a"), ("b", "b")],
    "null_endpoint": [("a", None), (None, "b"), ("c", "d"), ("d", "a")],
    # code-point order: "Z" < "a" < "ß" < "é"; a wrong sort changes labels
    "mixed_case_non_ascii": [("é", "ß"), ("ß", "a"), ("a", "Z"), ("x", "é")],
}


@pytest.mark.parametrize("name", sorted(PARITY_GRAPHS))
def test_driver_path_matches_distributed(spark, name):
    """driver_components runs the same rounds as connected_components:
    equal assignments, round counts and per-round edge counts."""
    df = spark.createDataFrame(
        PARITY_GRAPHS[name], "conv_id_a string, conv_id_b string"
    )
    per_round: list[int] = []
    out, iters = connected_components(df, edges_per_round=per_round)
    want = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    got_pd, got_iters, got_per_round = driver_components(df.toPandas())
    assert dict(zip(got_pd["conv_id"], got_pd["cluster_id"])) == want
    assert (got_iters, got_per_round) == (iters, per_round)
    if name == "empty":
        assert iters == 2


def _clusters(out):
    return {r["conv_id"]: r["cluster_id"] for r in out.collect()}


def test_assign_clusters_falls_back_to_distributed(spark, monkeypatch):
    """Above the edge budget assign_clusters runs the Spark loop; the
    clusters and round count equal the driver path's."""
    nodes = sorted({x for e in _mixed_rows() for x in e} | {"lonely"})
    series = spark.createDataFrame([(n,) for n in nodes], ["conv_id"])
    edges = spark.createDataFrame(
        _mixed_rows(), "conv_id_a string, conv_id_b string"
    )
    drv_stats: dict = {}
    drv, drv_iters = assign_clusters(series, edges, stats=drv_stats)
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 10)
    dist_stats: dict = {}
    dist, dist_iters = assign_clusters(series, edges, stats=dist_stats)
    assert (drv_stats["path"], dist_stats["path"]) == ("driver", "distributed")
    assert _clusters(dist) == _clusters(drv)
    assert _clusters(drv)["lonely"] == "lonely"
    assert dist_iters == drv_iters
    assert dist_stats["edges_per_round"] == drv_stats["edges_per_round"]
