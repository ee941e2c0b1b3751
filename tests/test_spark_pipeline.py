"""Spark-level integration tests (SURVEY.md §5 'Our test plan' item 3):
pipeline F1, blocking recall, stable-ordering invariant, full-path
numerical parity, checkpoint/resume idempotence.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cutwed_spark.operators.assemble import assemble_with_signatures
from cutwed_spark.operators.blocking import build_candidate_pairs_from_state
from cutwed_spark.operators.scoring import score_candidates
from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
from cutwed_spark.sources.synth import synth_corpus
from cutwed_spark.twed.core import twed_reference


@pytest.fixture(scope="module")
def corpus(spark):
    tr, lab = synth_corpus(120)
    return spark.createDataFrame(tr), spark.createDataFrame(lab), tr, lab


@pytest.fixture(scope="module")
def result(spark, corpus):
    trdf, labdf, _, _ = corpus
    return run_pipeline(spark, trdf, PipelineConfig(), labeled=labdf)


def test_pipeline_f1(result):
    """The headline gate: pairwise F1 >= 0.99 on labeled pairs."""
    assert result.evaluation["f1"] >= 0.99, result.evaluation


def test_warm_run_reuses_generated_code(spark, corpus, result):
    """A second run_pipeline in the same session must hit the codegen
    cache: one run generates ~180 classes, so a cache smaller than one
    run evicts them all and every warm run recompiles everything."""
    trdf, labdf, _, _ = corpus
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    before = compilations.getCount()
    res = run_pipeline(spark, trdf, PipelineConfig(), labeled=labdf)
    compiled = compilations.getCount() - before
    assert compiled <= 10, compiled
    assert res.metrics["codegen_compiles"] == compiled
    assert res.metrics["n_clusters"] == result.metrics["n_clusters"]


def test_blocking_recall(spark, corpus):
    """Every (or nearly every) labeled positive must surface as a
    candidate pair — blocking recall bounds pipeline recall."""
    trdf, labdf, _, lab = corpus
    cfg = PipelineConfig()
    series = assemble_with_signatures(
        trdf, cfg.n_buckets, cfg.max_turns, num_hashes=cfg.num_hashes
    )
    pairs, _ = build_candidate_pairs_from_state(series)
    pos = labdf.where("is_match")
    covered = pos.join(pairs, ["conv_id_a", "conv_id_b"]).count()
    total = pos.count()
    assert covered / total >= 0.99, (covered, total)


def test_degenerate_single_conversation(spark):
    """One conversation: no pairs, no edges, one singleton cluster —
    every stage must handle the empty-downstream case without crashing."""
    import pandas as pd

    tr = pd.DataFrame(
        {
            "conv_id": ["only"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user", "assistant", "user"],
            "text": ["hello there", "hi how can i help", "thanks bye"],
            "tool": ["", "", ""],
            "ts": pd.to_datetime(
                ["2025-01-01 00:00:00", "2025-01-01 00:00:30",
                 "2025-01-01 00:01:00"]
            ),
        }
    )
    res = run_pipeline(spark, spark.createDataFrame(tr), PipelineConfig(threshold=0.5))
    assert res.edges.count() == 0
    clusters = res.clusters.collect()
    assert len(clusters) == 1
    assert clusters[0]["cluster_id"] == "only"


def test_stable_turn_ordering_invariant(spark, corpus):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the per-row invariant from BASELINE.json input_hint. Assembled
    text_hashes must equal the pandas-side ordering regardless of
    shuffle; exercised against a deliberately shuffled input."""
    trdf, _, tr, _ = corpus
    shuffled = trdf.orderBy(F.rand(seed=1))  # scramble row order
    series = assemble_with_signatures(shuffled, 8, None)
    got = {r["conv_id"]: list(r["text_hashes"]) for r in series.collect()}
    # expected: xxhash64 of text in turn_idx order, computed via Spark
    # on the UNshuffled input
    exp_df = trdf.select("conv_id", "turn_idx", F.xxhash64("text").alias("h"))
    exp = {}
    for r in exp_df.collect():
        exp.setdefault(r["conv_id"], []).append((r["turn_idx"], r["h"]))
    for cid, pairs_ in exp.items():
        want = [h for _, h in sorted(pairs_)]
        assert got[cid] == want, cid


def test_full_path_numerical_parity(spark, result):
    """Twenty pairs scored through mapInArrow must each match the O(n^2)
    Marteau oracle recomputed on the driver (float64, ~bit-exact): the
    Arrow packing and gather are checked pair by pair."""
    cfg = PipelineConfig()
    rows = result.scored.orderBy("conv_id_a", "conv_id_b").limit(20).collect()
    assert len(rows) == 20
    ids = {r["conv_id_a"] for r in rows} | {r["conv_id_b"] for r in rows}
    sa = {
        x["conv_id"]: x
        for x in result.series.where(F.col("conv_id").isin(list(ids))).collect()
    }
    for row in rows:
        A = np.array(sa[row["conv_id_a"]]["values_flat"]).reshape(-1, cfg.dim)
        TA = np.array(sa[row["conv_id_a"]]["times"]) * cfg.time_scale
        B = np.array(sa[row["conv_id_b"]]["values_flat"]).reshape(-1, cfg.dim)
        TB = np.array(sa[row["conv_id_b"]]["times"]) * cfg.time_scale
        want = twed_reference(A, TA, B, TB, cfg.nu, cfg.lamb, cfg.degree)
        assert abs(row["twed"] - want) <= 1e-9 * max(1.0, want)


def test_checkpoint_resume_idempotent(spark, corpus, tmp_path):
    trdf, labdf, _, _ = corpus
    ck = str(tmp_path / "ckpt")
    r1 = run_pipeline(spark, trdf, PipelineConfig(), labeled=labdf, checkpoint_dir=ck)
    r2 = run_pipeline(spark, trdf, PipelineConfig(), labeled=labdf, checkpoint_dir=ck)
    assert r1.metrics["n_scored_pairs"] == r2.metrics["n_scored_pairs"]
    assert r1.metrics["n_clusters"] == r2.metrics["n_clusters"]
    # the resumed run scores nothing new but still reports every candidate
    assert r2.candidate_pairs.count() == r2.metrics["n_candidate_pairs"] > 0
    assert r2.evaluation["f1"] >= 0.99


def test_cluster_recovery(result, corpus):
    """Planted duplicate groups cluster together; distinct base
    conversations never merge."""
    _, _, _, lab = corpus
    cl = {r["conv_id"]: r["cluster_id"] for r in result.clusters.collect()}
    pos = lab[lab.is_match]
    neg = lab[~lab.is_match]
    pos_ok = sum(cl[a] == cl[b] for a, b in zip(pos.conv_id_a, pos.conv_id_b))
    neg_bad = sum(cl[a] == cl[b] for a, b in zip(neg.conv_id_a, neg.conv_id_b))
    assert pos_ok / len(pos) >= 0.99
    assert neg_bad == 0


def test_cluster_paths_agree(spark, corpus, result, monkeypatch):
    """The default run labels its small match graph on the driver; with
    the edge budget below its edge count run_pipeline takes the
    distributed loop and reports the same clusters and CC rounds."""
    from cutwed_spark.operators import clustering

    cl = result.metrics["cluster"]
    assert cl["path"] == "driver"
    assert cl["edges_in"] == result.metrics["n_match_edges"] > 1
    assert len(cl["edges_per_round"]) == result.metrics["cc_iterations"]
    trdf, labdf, _, _ = corpus
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 1)
    res = run_pipeline(spark, trdf, PipelineConfig(), labeled=labdf)
    assert res.metrics["cluster"] == {**cl, "path": "distributed"}
    assert res.metrics["cc_iterations"] == result.metrics["cc_iterations"]
    assert {tuple(r) for r in res.clusters.collect()} == {
        tuple(r) for r in result.clusters.collect()
    }
    res.unpersist()


def test_salted_scoring_is_correctness_neutral(spark, corpus):
    """SURVEY.md §4 manual item (a): salted repartitioning defuses hot
    keys WITHOUT changing any score — same pairs, same TWED values as
    the unsalted path."""
    trdf, _, _, _ = corpus
    cfg = PipelineConfig()
    series = assemble_with_signatures(
        trdf, cfg.n_buckets, cfg.max_turns, num_hashes=cfg.num_hashes
    )
    pairs, _ = build_candidate_pairs_from_state(series)
    plain = {
        (r["conv_id_a"], r["conv_id_b"]): r["twed"]
        for r in score_candidates(
            pairs, series, dim=cfg.dim, nu=cfg.nu, lamb=cfg.lamb
        ).collect()
    }
    salted = {
        (r["conv_id_a"], r["conv_id_b"]): r["twed"]
        for r in score_candidates(
            pairs, series, dim=cfg.dim, nu=cfg.nu, lamb=cfg.lamb, salt=7
        ).collect()
    }
    assert set(plain) == set(salted)
    for k, v in plain.items():
        assert abs(v - salted[k]) <= 1e-12 * max(1.0, abs(v)), k


@pytest.mark.parametrize("num_partitions", [3, 8, 29])
def test_partition_count_invariance(spark, corpus, result, num_partitions):
    """Metamorphic: the input partition count changes no output — the
    same scored pairs (twed to 1e-12 relative), edges and clusters as
    the default-partitioned run."""
    trdf, labdf, _, _ = corpus
    res = run_pipeline(
        spark, trdf, PipelineConfig(num_partitions=num_partitions), labeled=labdf
    )

    def pairs(df):
        return {(r["conv_id_a"], r["conv_id_b"]): r["twed"] for r in df.collect()}

    base, got = pairs(result.scored), pairs(res.scored)
    assert set(got) == set(base)
    for k, v in base.items():
        assert abs(got[k] - v) <= 1e-12 * max(1.0, abs(v)), k
    assert set(pairs(res.edges)) == set(pairs(result.edges))
    assert {tuple(r) for r in res.clusters.collect()} == {
        tuple(r) for r in result.clusters.collect()
    }
    res.unpersist()


def test_calibrated_cut_is_finite():
    """The best-F1 cut is taken only at a finite score: an infinite cut
    would turn every scored pair into an edge. Needs no Spark session."""
    from cutwed_spark.plans.pipeline import _f1_curve

    inf = np.inf
    scores = np.array([0.2, 0.4, inf, inf, inf])
    labels = np.array([True, False, True, True, True])
    thr, _ = _f1_curve(scores, labels)
    assert thr == pytest.approx(0.3)
    # the best finite cut is the last finite score: no midpoint to inf
    thr, _ = _f1_curve(np.array([0.2, inf]), np.array([True, True]))
    assert thr == 0.2
    # a cut takes every pair of a tied score: never one inside the tie
    thr, f1 = _f1_curve(np.array([0.1, 0.2, 0.2, 0.3]), np.array([True, True, False, False]))
    assert (thr, f1) == pytest.approx((0.25, 0.8))
    thr, f1 = _f1_curve(np.array([0.2, 0.2]), np.array([True, False]))
    assert (thr, f1) == pytest.approx((0.2, 2 / 3))
    with pytest.raises(ValueError):
        _f1_curve(np.array([inf, np.nan]), np.array([True, False]))
