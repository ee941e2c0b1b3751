"""Transitive clustering: large-star / small-star connected components
on the match-edge DataFrame.

Implements the alternating algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC'14) — converges in O(log n)
rounds regardless of component diameter, each round a join + min-agg
(all Catalyst built-ins). The reference has no clustering operator; its
tests compute all-pairs matrices for offline clustering
(/root/reference/tests/test_synthetic_validation.py:61-83) — this stage
is what the north_rule adds on top.

Two paths, one algorithm. ``assign_clusters`` collects at most
``_DRIVER_CC_MAX_EDGES + 1`` match edges (one bounded Arrow collect):
* at or under that budget it runs the same rounds in vectorized NumPy
  on the driver (``driver_components``) — same dedup, same order, same
  stop rule, so the same labels and the same round count, with no
  Spark job per round;
* above it, the distributed loop (``connected_components``) runs
  unchanged — the path the design needs at scale.

Scale notes (distributed path):
* ``localCheckpoint`` every iteration truncates lineage (SURVEY.md §7
  hard part 5) — without it the plan doubles per round.
* convergence is detected by (count, bit_xor of xxhash64) of the edge
  set — two cheap aggregates, no exceptAll antijoin.
* node ids are strings; min() uses lexicographic order, which is a
  valid total order for the algorithm (no dense-id remap shuffle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Largest match-edge set labeled on the driver. Sized by driver memory:
# 1M edges collect as ~2M pandas object strings, roughly 200 MB with the
# engine's short conv_ids, plus a few int64 arrays of the edge count.
_DRIVER_CC_MAX_EDGES = 1_000_000

# Round cap of both paths: one constant, so the driver and distributed
# loops stop at the same round and report the same ``cc_iterations``.
_CC_MAX_ROUNDS = 25


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    und = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
    # F.first("u") inside agg of groupBy("u") is just u; least folds {u} in.
    joined = und.join(m, "u")
    return (
        joined.where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger -> smaller); connect all smaller
    neighbors (and u itself) to the minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("mn"))
    joined = directed.join(m, "u")
    out = joined.select(F.col("v").alias("u"), F.col("mn").alias("v")).union(
        m.select(F.col("u"), F.col("mn").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def connected_components(
    edges: DataFrame, edges_per_round: list | None = None
) -> tuple[DataFrame, int]:
    """edges (conv_id_a, conv_id_b) -> (assignments (conv_id, cluster_id),
    n_iterations). cluster_id is the component's minimum conv_id.

    Isolated nodes (no edges) are the caller's concern — union the full
    node set with identity assignments afterwards (see
    ``assign_clusters``). ``edges_per_round``, when given, receives each
    round's edge count (read off the convergence fingerprint).
    """
    cur = (
        edges.select(F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    ).localCheckpoint()
    prev_fp = None
    it = 0
    for it in range(1, _CC_MAX_ROUNDS + 1):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        fp = _edge_fingerprint(cur)
        if edges_per_round is not None:
            edges_per_round.append(fp[0])
        if fp == prev_fp:
            break
        prev_fp = fp
    # At convergence every edge is (node, component-min): u's label is v.
    assignments = cur.select(
        F.col("u").alias("conv_id"), F.col("v").alias("cluster_id")
    ).union(
        cur.select(F.col("v").alias("conv_id"), F.col("v").alias("cluster_id"))
    )
    assignments = assignments.groupBy("conv_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    return assignments, it


def _dedup_edges(u: np.ndarray, v: np.ndarray, n: int):
    """``where(u != v).dropDuplicates`` on int codes; sorted by (u, v)."""
    keep = u != v
    key = np.unique(u[keep] * n + v[keep])
    return key // n, key % n


def _np_large_star(u: np.ndarray, v: np.ndarray, n: int):
    uu, vv = np.concatenate([u, v]), np.concatenate([v, u])
    mn = np.arange(n, dtype=np.int64)  # least(min(N(u)), u)
    np.minimum.at(mn, uu, vv)
    up = vv > uu
    return _dedup_edges(vv[up], mn[uu[up]], n)


def _np_small_star(u: np.ndarray, v: np.ndarray, n: int):
    hi, lo = np.maximum(u, v), np.minimum(u, v)
    keep = hi != lo
    hi, lo = hi[keep], lo[keep]
    mn = np.full(n, n, dtype=np.int64)
    np.minimum.at(mn, hi, lo)
    heads = np.unique(hi)
    return _dedup_edges(
        np.concatenate([lo, heads]), np.concatenate([mn[hi], mn[heads]]), n
    )


def driver_components(edges: pd.DataFrame) -> tuple[pd.DataFrame, int, list[int]]:
    """``connected_components`` on the driver: pandas edges (conv_id_a,
    conv_id_b) -> (assignments, n_iterations, edges_per_round), equal
    to the distributed loop's output round for round.

    Ids are factorized with ``sort=True``: Python's code-point order of
    ``str`` is Spark's UTF-8 byte order, so integer order is the order
    the Spark path's min() uses. Rows with a null endpoint are dropped,
    as the Spark path's ``u != v`` filter drops them.
    """
    edges = edges.dropna()
    codes, ids = pd.factorize(
        np.concatenate([edges["conv_id_a"].to_numpy(), edges["conv_id_b"].to_numpy()]),
        sort=True,
    )
    n = max(len(ids), 1)
    codes = codes.astype(np.int64)
    u, v = _dedup_edges(codes[: len(edges)], codes[len(edges):], n)
    prev = None
    it = 0
    per_round: list[int] = []
    for it in range(1, _CC_MAX_ROUNDS + 1):
        u, v = _np_small_star(*_np_large_star(u, v, n), n)
        per_round.append(len(u))
        if prev is not None and np.array_equal(prev[0], u) and np.array_equal(prev[1], v):
            break
        prev = (u, v)
    label = np.full(n, n, dtype=np.int64)
    np.minimum.at(label, np.concatenate([u, v]), np.concatenate([v, v]))
    nodes = np.flatnonzero(label < n)
    out = pd.DataFrame({"conv_id": ids[nodes], "cluster_id": ids[label[nodes]]})
    return out, it, per_round


def assign_clusters(
    series: DataFrame,
    match_edges: DataFrame,
    stats: dict | None = None,
) -> tuple[DataFrame, int]:
    """All conversations -> cluster ids; singletons are their own cluster.

    ``stats``, when given, receives ``path`` ("driver" or
    "distributed") and ``edges_per_round``; filling it runs no job.
    """
    spark = series.sparkSession
    edges_pd = (
        match_edges.select("conv_id_a", "conv_id_b")
        .limit(_DRIVER_CC_MAX_EDGES + 1)
        .toPandas()
    )
    per_round: list[int] = []
    if len(edges_pd) <= _DRIVER_CC_MAX_EDGES:
        path = "driver"
        cc_pd, iters, per_round = driver_components(edges_pd)
        cc = spark.createDataFrame(cc_pd, "conv_id string, cluster_id string")
    else:
        path = "distributed"
        del edges_pd
        cc, iters = connected_components(match_edges, per_round)
    if stats is not None:
        stats.update(path=path, edges_per_round=per_round)
    out = (
        series.select("conv_id")
        .join(cc, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
        )
    )
    return out, iters
