"""Transitive clustering: large-star / small-star connected components
on the match-edge DataFrame.

Implements the alternating algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC'14) — converges in O(log n)
rounds regardless of component diameter, each round a join + min-agg
(all Catalyst built-ins). The reference has no clustering operator; its
tests compute all-pairs matrices for offline clustering
(/root/reference/tests/test_synthetic_validation.py:61-83) — this stage
is what the north_rule adds on top.

Scale notes:
* ``localCheckpoint`` every iteration truncates lineage (SURVEY.md §7
  hard part 5) — without it the plan doubles per round.
* convergence is detected by (count, bit_xor of xxhash64) of the edge
  set — two cheap aggregates, no exceptAll antijoin.
* node ids are strings; min() uses lexicographic order, which is a
  valid total order for the algorithm (no dense-id remap shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    edges: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """edges (conv_id_a, conv_id_b) -> (assignments (conv_id, cluster_id),
    n_iterations). cluster_id is the component's minimum conv_id.

    Isolated nodes (no edges) are the caller's concern — union the full
    node set with identity assignments afterwards (see
    ``assign_clusters``).
    """
    cur = (
        edges.select(F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    ).localCheckpoint()
    prev_fp = None
    it = 0
    for it in range(1, max_iter + 1):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        fp = _edge_fingerprint(cur)
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


def assign_clusters(
    series: DataFrame, match_edges: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """All conversations -> cluster ids; singletons are their own cluster."""
    cc, iters = connected_components(match_edges, max_iter)
    out = (
        series.select("conv_id")
        .join(cc, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
        )
    )
    return out, iters
