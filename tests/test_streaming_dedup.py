"""Incremental document dedup: cross-batch exact + verified near-dup
edges from the persisted hash/band/shingle indexes, per-batch cost
bounded by the batch and its touched neighborhood."""

import os

import pytest

from cutwed_spark.streaming.dedup import _paths, run_incremental_dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill every single afternoon"
)
NEAR = BASE.replace("warm", "cold")
OTHER = (
    "completely different content about spark shuffle partitions and "
    "arrow record batches flowing through vectorized kernels"
)
UNRELATED = "short unrelated note " + " ".join(f"tok{i}" for i in range(20))


def _write_drop(spark, path, rows):
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("append").parquet(path)


@pytest.fixture(scope="module")
def dedup_out(spark, tmp_path_factory):
    drops = str(tmp_path_factory.mktemp("drops"))
    work = str(tmp_path_factory.mktemp("dedup_work"))
    # batch 1: exact pair (0,1), near pair (2,3)
    _write_drop(
        spark,
        drops,
        [(0, BASE), (1, BASE), (2, OTHER), (3, OTHER + " extra"), (4, UNRELATED)],
    )
    run_incremental_dedup(spark, drops, work, min_jaccard=0.5)
    # batch 2: 10 is an exact copy of 0/1 (cross-batch), 11 is a near
    # dup of BASE (cross-batch), 12 unrelated
    _write_drop(
        spark,
        drops,
        [(10, BASE), (11, NEAR), (12, "nothing like anything else at all")],
    )
    run_incremental_dedup(spark, drops, work, min_jaccard=0.5)
    p = _paths(work)
    edges = {
        (r["doc_id_a"], r["doc_id_b"], r["kind"]): r["jaccard"]
        for r in spark.read.parquet(p["edges"]).collect()
    }
    return p, edges


def test_within_batch_edges(dedup_out):
    _, edges = dedup_out
    assert edges[(0, 1, "exact")] == 1.0
    assert (2, 3, "near") in edges and edges[(2, 3, "near")] >= 0.5


def test_cross_batch_exact(dedup_out):
    """Batch-2 doc 10 must link to BOTH batch-1 exact copies via the
    persisted hash index."""
    _, edges = dedup_out
    assert (0, 10, "exact") in edges
    assert (1, 10, "exact") in edges


def test_cross_batch_near_dup_verified(dedup_out):
    """Batch-2 doc 11 (one word changed) must be found via the band
    index AND carry its exact verified Jaccard, computed against
    shingles fetched from the bucketed store."""
    _, edges = dedup_out
    near_11 = {k: v for k, v in edges.items() if 11 in (k[0], k[1]) and k[2] == "near"}
    assert near_11, "cross-batch near-dup not found"
    for _, j in near_11.items():
        assert 0.5 <= j < 1.0


def test_no_false_edges(dedup_out):
    _, edges = dedup_out
    for a, b, kind in edges:
        assert {a, b} & {4, 12} == set(), f"unrelated doc in edge {(a, b, kind)}"


def test_compact_dedup_state(dedup_out, spark, tmp_path):
    """Compaction rewrites every dedup state table to few files without
    changing the reader-visible edges, and the shingle store KEEPS its
    doc_id-bucket partitioning (the verification fetch prunes on it)."""
    import shutil

    from cutwed_spark.streaming.ingest import compact_stream_state

    p, edges_before = dedup_out
    work2 = str(tmp_path / "work2")
    shutil.copytree(os.path.dirname(p["edges"]), work2)
    stats = compact_stream_state(spark, work2, target_files=2)
    assert set(stats) == {"hashes", "bands", "shingles", "edges"}
    for name in ("hashes", "bands", "edges"):
        assert stats[name]["files_after"] <= 2, (name, stats[name])
    # shingles: one file per bucket directory, layout preserved
    sh_dir = os.path.join(work2, "shingles")
    assert any(d.startswith("bkt=") for d in os.listdir(sh_dir))
    assert stats["shingles"]["files_after"] <= stats["shingles"][
        "files_before"
    ]
    edges_after = {
        (r["doc_id_a"], r["doc_id_b"], r["kind"]): r["jaccard"]
        for r in spark.read.parquet(os.path.join(work2, "dup_edges"))
        .dropDuplicates(["doc_id_a", "doc_id_b", "kind"])
        .collect()
    }
    assert edges_after == edges_before
    # and a post-compaction batch still verifies against the compacted
    # store: a new near-dup of BASE must land with a real jaccard
    from cutwed_spark.streaming.dedup import _dedup_batch
    from cutwed_spark.streaming.dedup import _paths as dpaths

    nb = spark.createDataFrame(
        [(99, BASE.replace("lazy", "sleepy"))], "doc_id bigint, text string"
    )
    _dedup_batch(spark, nb, dpaths(work2))
    post = {
        k: v
        for k, v in {
            (r["doc_id_a"], r["doc_id_b"], r["kind"]): r["jaccard"]
            for r in spark.read.parquet(os.path.join(work2, "dup_edges"))
            .dropDuplicates(["doc_id_a", "doc_id_b", "kind"])
            .collect()
        }.items()
        if 99 in (k[0], k[1])
    }
    assert post and all(0.5 <= j < 1.0 for j in post.values())


def test_exact_group_above_band_cap_is_not_capped(spark, tmp_path):
    """A normalized-text duplicate group larger than ``max_band`` still
    yields every pair as 'exact': the band cap bounds near-dup
    candidates, never the exact-hash join."""
    from itertools import combinations

    drops, work = str(tmp_path / "drops"), str(tmp_path / "work")
    # case and whitespace differ; the normalized text is one
    texts = [BASE, BASE.upper(), "  " + BASE, BASE + " ", BASE, BASE.title()]
    _write_drop(spark, drops, list(enumerate(texts)) + [(6, OTHER)])
    run_incremental_dedup(spark, drops, work, max_band=4)
    edges = spark.read.parquet(_paths(work)["edges"]).collect()
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["kind"] for r in edges}
    assert pairs == {pair: "exact" for pair in combinations(range(6), 2)}
    assert len(edges) == 15


def test_state_tables_shapes(dedup_out, spark):
    p, _ = dedup_out
    # shingle store is bucketed by doc_id hash (partition-pruned fetch)
    assert any(
        d.startswith("bkt=") for d in os.listdir(p["shingles"])
    ), "shingle store must be partitioned by bucket"
    hashes = spark.read.parquet(p["hashes"])
    assert hashes.count() == 8  # one row per ingested doc
    # replays are impossible here (fresh checkpoints), so the band
    # index holds exactly the per-doc band keys
    bands = spark.read.parquet(p["bands"])
    assert bands.select("doc_id").distinct().count() == 8


_DOCS = "/root/testdata/sf0.01/documents.parquet"


@pytest.mark.skipif(not os.path.exists(_DOCS), reason="testdata not present")
def test_stream_matches_batch_verified_pairs(spark, tmp_path):
    """Batch/stream parity: two drops streamed through the incremental
    indexes yield exactly the batch verified near-dup edges, with the
    same Jaccards. Caps are set high enough that neither binds."""
    from pyspark.sql import functions as F

    from cutwed_spark.operators.dedup import minhash_lsh_verified_pairs

    docs = spark.read.parquet(_DOCS).select("doc_id", "text")
    drops, work = str(tmp_path / "drops"), str(tmp_path / "work")
    for parity in (0, 1):
        docs.where(F.col("doc_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(drops)
        run_incremental_dedup(
            spark, drops, work, min_jaccard=0.35, max_band=10**9
        )
    stream = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in spark.read.parquet(_paths(work)["edges"])
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .collect()
    }
    batch = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in minhash_lsh_verified_pairs(
            docs, min_jaccard=0.35, max_df=10**9
        ).collect()
    }
    assert batch, "fixture produced no near-duplicates"
    assert stream == batch
