"""Incremental (Structured Streaming) ER must converge to the batch
pipeline's answer: same match edges, same clusters, when conversations
arrive across multiple microbatches."""

import os

import numpy as np
import pandas as pd
import pytest

from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
from cutwed_spark.sources.synth import synth_corpus
from cutwed_spark.streaming.ingest import finalize, run_incremental

THRESHOLD = 0.5  # fixed: streaming has no labeled calibration
LENGTH_RATIO = 1.2


@pytest.fixture(scope="module")
def split_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    tr, lab = synth_corpus(150)
    tr = tr.assign(ts=tr["ts"].astype("datetime64[us]"))
    # split whole conversations across two file drops
    convs = sorted(tr.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    in_dir = root / "incoming"
    os.makedirs(in_dir)
    tr[tr.conv_id.isin(half)].to_parquet(in_dir / "drop1.parquet", index=False)
    tr[~tr.conv_id.isin(half)].to_parquet(in_dir / "drop2.parquet", index=False)
    return str(in_dir), str(root / "work"), tr, lab


def test_incremental_matches_batch(spark, split_corpus):
    in_dir, work_dir, tr, lab = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD)
    run_incremental(spark, in_dir, work_dir, cfg, max_files_per_trigger=1)
    s_edges, s_clusters = finalize(spark, work_dir, cfg)

    b = run_pipeline(spark, spark.createDataFrame(tr), cfg)
    batch_edges = {
        (r["conv_id_a"], r["conv_id_b"]) for r in b.edges.collect()
    }
    stream_edges = {
        (r["conv_id_a"], r["conv_id_b"]) for r in s_edges.collect()
    }
    assert stream_edges == batch_edges

    bc = {r["conv_id"]: r["cluster_id"] for r in b.clusters.collect()}
    sc = {r["conv_id"]: r["cluster_id"] for r in s_clusters.collect()}
    assert sc == bc


def test_state_version_guard(spark, split_corpus, tmp_path):
    """A state dir written by another signature family / schema version
    must be refused, not silently unioned (old-family signatures never
    band-collide with new ones -> silently missed duplicates)."""
    import json

    from cutwed_spark.streaming.ingest import check_state_version

    in_dir, work_dir, _, _ = split_corpus
    state = os.path.join(work_dir, "state")
    marker = os.path.join(state, "_state_version.json")
    assert os.path.isfile(marker)  # ingest wrote it
    check_state_version(state)  # current version: fine
    orig = open(marker).read()
    try:
        with open(marker, "w") as fh:
            json.dump({"signature_family_version": 1, "state_format": 1}, fh)
        with pytest.raises(ValueError, match="band-collide|version"):
            check_state_version(state)
    finally:
        with open(marker, "w") as fh:
            fh.write(orig)
    # unmarked dir with parquet = pre-versioning state -> refuse
    legacy = tmp_path / "legacy_state"
    os.makedirs(legacy)
    (legacy / "part-0.parquet").write_bytes(b"x")
    with pytest.raises(ValueError, match="predates"):
        check_state_version(str(legacy))


def test_incremental_scores_match_batch(spark, split_corpus):
    """Scores, not just edge sets: a pair scored in the stream must have
    the same twed as the batch path (same kernel, same state)."""
    in_dir, work_dir, tr, lab = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD)
    scored = spark.read.parquet(os.path.join(work_dir, "scored"))
    b = run_pipeline(spark, spark.createDataFrame(tr), cfg)
    j = (
        b.scored.select("conv_id_a", "conv_id_b", "twed")
        .join(
            scored.select(
                "conv_id_a", "conv_id_b", scored["twed"].alias("twed_s")
            ),
            ["conv_id_a", "conv_id_b"],
        )
        .collect()
    )
    assert len(j) > 0
    for r in j:
        assert np.isclose(r["twed"], r["twed_s"], rtol=1e-9), r


def test_incremental_candidates_scan_only_index(spark, split_corpus):
    """The per-batch candidate plan must scan only the new batch and the
    narrow block-key index — never the state table, and never re-derive
    old block keys (the O(total state) rescan the round-2 verdict
    flagged as the one genuine scale-killer)."""
    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.streaming.ingest import _paths, incremental_candidates

    in_dir, work_dir, _, _ = split_corpus
    p = _paths(work_dir)
    assert os.path.isdir(p["keys"])  # ingest maintained the index
    cfg = PipelineConfig(threshold=THRESHOLD)
    tr_new, _ = synth_corpus(6, seed=7)
    tr_new = tr_new.assign(
        conv_id="newbatch_" + tr_new["conv_id"],
        ts=tr_new["ts"].astype("datetime64[us]"),
    )
    new_state = assemble_with_signatures(
        spark.createDataFrame(tr_new), cfg.n_buckets, cfg.max_turns,
        bucket_scale=cfg.bucket_scale, role_scale=cfg.role_scale,
        num_hashes=cfg.num_hashes, shingle_k=cfg.shingle_k,
    )
    cand, new_keys = incremental_candidates(spark, new_state, p, cfg)
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert p["keys"] in plan, "index scan missing from candidate plan"
    assert p["state"] + "]" not in plan and p["state"] + "/" not in plan and (
        p["state"] not in plan
    ), "candidate plan rescans the state table"
    # and the candidates still work end-to-end for this batch
    assert cand.count() >= 0


def test_stream_honours_length_ratio_max(spark, split_corpus, tmp_path):
    """length_ratio_max prunes the stream's candidates as it prunes the
    batch pipeline's: one config scores one pair universe."""
    from pyspark.sql import functions as F

    in_dir, _, tr, _ = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD, length_ratio_max=LENGTH_RATIO)
    work = str(tmp_path / "work_len")
    run_incremental(spark, in_dir, work, cfg, max_files_per_trigger=1)
    s_edges, _ = finalize(spark, work, cfg)

    b = run_pipeline(spark, spark.createDataFrame(tr), cfg)
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in s_edges.collect()} == {
        (r["conv_id_a"], r["conv_id_b"]) for r in b.edges.collect()
    }
    scored = spark.read.parquet(os.path.join(work, "scored"))
    assert scored.count() > 0
    too_long = scored.where(
        F.greatest("n_a", "n_b") > F.least("n_a", "n_b") * LENGTH_RATIO
    )
    assert too_long.count() == 0


def test_finalize_label_free_threshold_follows_score_col(spark, split_corpus):
    """Without a threshold, finalize cuts twed_norm at its own 5th
    percentile (run_pipeline's rule), not at twed_ratio's fixed 0.35."""
    in_dir, work_dir, _, _ = split_corpus
    edges, _ = finalize(spark, work_dir, PipelineConfig(score_col="twed_norm"))
    scored = (
        spark.read.parquet(os.path.join(work_dir, "scored"))
        .dropDuplicates(["conv_id_a", "conv_id_b"])
        .toPandas()
    )
    e = edges.toPandas()
    assert len(e) > 0
    cut = e["twed_norm"].max()
    # a cut on twed_norm, at its 5th percentile
    below = scored[scored["twed_norm"] <= cut]
    assert set(zip(e["conv_id_a"], e["conv_id_b"])) == set(
        zip(below["conv_id_a"], below["conv_id_b"])
    )
    norm = scored["twed_norm"]
    assert (norm < cut).mean() < 0.05 <= (norm <= cut).mean()


def test_compact_stream_state(spark, split_corpus, tmp_path):
    """Compaction shrinks the per-batch file accumulation without
    changing finalize's answer, and the version marker survives."""
    import shutil

    from cutwed_spark.streaming.ingest import (
        _state_version_marker,
        compact_stream_state,
    )

    in_dir, work_dir, _, _ = split_corpus
    # work on a COPY so the other module tests keep their fixture state
    work2 = str(tmp_path / "work2")
    shutil.copytree(work_dir, work2)
    cfg = PipelineConfig(threshold=THRESHOLD)
    e_before, c_before = finalize(spark, work2, cfg)
    edges_before = {(r["conv_id_a"], r["conv_id_b"]) for r in e_before.collect()}
    n_clusters_before = c_before.count()  # materialize pre-swap plans now
    stats = compact_stream_state(spark, work2, target_files=2)
    assert set(stats) == {"keys", "scored", "state"}
    for s in stats.values():
        assert s["files_after"] <= max(s["files_before"], 2)
        assert s["files_after"] <= 2
    assert os.path.isfile(_state_version_marker(os.path.join(work2, "state")))
    e_after, c_after = finalize(spark, work2, cfg)
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in e_after.collect()} == edges_before
    assert c_after.count() == n_clusters_before
