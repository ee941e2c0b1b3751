"""End-to-end entity-resolution pipeline:

transcripts -> assemble -> featurize -> block (MinHash/LSH + tool-sig)
-> candidate pairs -> batched TWED scoring (mapInArrow)
-> threshold -> match edges -> large-star/small-star clustering
-> clusters + per-stage metrics, resumable from a score checkpoint.

This is the Spark lifecycle equivalent of SURVEY.md §3.4. Each stage is
an independent operator module; this file maps a ``PipelineConfig`` onto
the shared steps (``assemble_state``, ``score_new_pairs`` /
``read_scored``, ``match_threshold``) that both ``run_pipeline`` and the
streaming ingest call, sequences and times them, and owns the scored-log
protocol (Iceberg-style append + left_anti on restart — SURVEY.md §4
manual-engineering item c; plain parquet here, the protocol is
storage-agnostic).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cutwed_spark.cache import cache_scope
from cutwed_spark.operators.assemble import assemble_with_signatures, assembly_stats
from cutwed_spark.operators.blocking import build_candidate_pairs_from_state
from cutwed_spark.operators.clustering import assign_clusters
from cutwed_spark.operators.featurize import feature_dim
from cutwed_spark.operators.scoring import score_candidates


@dataclass
class PipelineConfig:
    # featurization (dim = n_buckets + 6, kept <= 32 in the spirit of the
    # reference's DIMENSION_LIMIT, /root/reference/src/cuTWED.cu:38)
    n_buckets: int = 16
    max_turns: int = 128
    bucket_scale: float = 3.0
    role_scale: float = 1.0
    # blocking
    num_hashes: int = 32
    band_size: int = 2
    shingle_k: int = 3
    max_block: int = 64
    # OPT-IN comparison cleaning: drop candidate pairs whose turn counts
    # differ by more than this ratio (longer/shorter) before any array
    # payload moves (blocking.length_filter_pairs). None (default)
    # leaves the scored universe — and the committed goldens — intact.
    length_ratio_max: float | None = None
    # TWED params (reference defaults nu=1, lambda=1, degree=2,
    # /root/reference/cuTWED/cuTWED.py:37; nu is down-weighted and the
    # time axis scaled to minutes because transcript gaps are tens of
    # seconds and jitter is label noise, not signal; lambda=0.5 keeps
    # the planted insert/delete edits cheap relative to text mismatch)
    nu: float = 0.05
    lamb: float = 0.5
    degree: int = 2
    time_scale: float = 1.0 / 60.0
    # thresholding on twed_ratio = d(A,B) / (d(A,empty)+d(B,empty)) —
    # length- and magnitude-invariant in (0, 1]; None -> match_threshold
    # calibrates on labeled pairs, else applies its label-free rule
    threshold: float | None = None
    score_col: str = "twed_ratio"
    # execution: salt is OPT-IN hot-key defense (costs an extra shuffle
    # of the array payload; AQE's skew join handles moderate skew free)
    salt: int | None = None
    num_partitions: int | None = None
    transfer_dtype: str = "double"  # no effect: values_flat is already float

    @property
    def dim(self) -> int:
        return feature_dim(self.n_buckets)


@dataclass
class PipelineResult:
    series: DataFrame
    candidate_pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    clusters: DataFrame
    threshold: float
    metrics: dict = field(default_factory=dict)
    evaluation: dict | None = None

    def unpersist(self) -> None:
        """Release the result-backing caches (the twed_free_dev analog,
        /root/reference/src/cuTWED.h:72-76). The DataFrames stay usable;
        they recompute from source afterwards. ``series`` is a local
        checkpoint, not a cache: its blocks are released when the frame
        is garbage-collected."""
        for df in (self.candidate_pairs, self.scored, self.clusters):
            df.unpersist()


def _f1_curve(scores: np.ndarray, labels: np.ndarray) -> tuple[float, float]:
    """Best (threshold, F1): predicted-match iff score <= threshold.

    Only finite scores are candidate cuts: an infinite cut would make
    every scored pair an edge. A cut takes every pair of its score, so
    it sits only at the last position of a run of tied scores — the F1
    reported is the F1 the cut gives. Raises ValueError if no score is
    finite.
    """
    order = np.argsort(scores, kind="stable")
    s, y = scores[order], labels[order].astype(np.int64)
    finite = np.isfinite(s)
    if not finite.any():
        raise ValueError("no labeled pair has a finite score to calibrate on")
    run_end = np.append(s[1:] != s[:-1], True)
    tp = np.cumsum(y)
    fp = np.cumsum(1 - y)
    total_pos = int(y.sum())
    fn = total_pos - tp
    f1 = 2 * tp / np.maximum(2 * tp + fp + fn, 1)
    k = int(np.argmax(np.where(finite & run_end, f1, -1.0)))
    # threshold midway between the accepted score and the next one, if finite
    if k + 1 < len(s) and finite[k + 1]:
        thr = float((s[k] + s[k + 1]) / 2)
    else:
        thr = float(s[k])
    return thr, float(f1[k])


def calibrate_threshold(
    scored: DataFrame, labeled: DataFrame, score_col: str = "twed_ratio"
) -> tuple[float, float]:
    """Pick the score threshold maximizing F1 on labeled pairs.

    Labeled pairs never surfaced by blocking count as non-matches at any
    threshold (score = +inf). The labeled table is evaluation-scale;
    collecting it to the driver is intentional.
    """
    joined = (
        labeled.select("conv_id_a", "conv_id_b", "is_match")
        .join(
            scored.select("conv_id_a", "conv_id_b", score_col),
            ["conv_id_a", "conv_id_b"],
            "left",
        )
        .select("is_match", score_col)
        .toPandas()
    )
    scores = joined[score_col].to_numpy(dtype=np.float64)
    scores = np.where(np.isnan(scores), np.inf, scores)
    labels = joined["is_match"].to_numpy()
    return _f1_curve(scores, labels)


def match_threshold(
    scored: DataFrame, cfg: PipelineConfig, labeled: DataFrame | None = None
) -> tuple[float, float | None]:
    """The match cut on ``cfg.score_col`` and its calibration F1 (None
    unless calibrated) — one rule for the batch pipeline and the stream
    epilogue. A set ``cfg.threshold`` wins; else labeled pairs calibrate
    the best-F1 cut. Without labels, twed_ratio is scale-free in (0, 1],
    so a fixed conservative 0.35 works and runs no job; any other score
    column has its own scale and takes its 5th percentile (0.5 when
    nothing is scored)."""
    if cfg.threshold is not None:
        return float(cfg.threshold), None
    if labeled is not None:
        return calibrate_threshold(scored, labeled, cfg.score_col)
    if cfg.score_col == "twed_ratio":
        return 0.35, None
    q = scored.agg(F.expr(f"percentile_approx({cfg.score_col}, 0.05)")).collect()[0][0]
    return (0.5 if q is None else float(q)), None


def evaluate_pairs(edges: DataFrame, labeled: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted match edges vs labels."""
    pred = edges.select("conv_id_a", "conv_id_b").withColumn("pred", F.lit(True))
    j = (
        labeled.select("conv_id_a", "conv_id_b", "is_match")
        .join(pred, ["conv_id_a", "conv_id_b"], "left")
        .select(
            F.sum(F.when(F.col("is_match") & F.col("pred").isNotNull(), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(~F.col("is_match") & F.col("pred").isNotNull(), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(F.col("is_match") & F.col("pred").isNull(), 1).otherwise(0)).alias("fn"),
        )
        .collect()[0]
    )
    tp, fp, fn = int(j["tp"]), int(j["fp"]), int(j["fn"])
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-12)
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def assemble_state(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Series + blocking signatures, one row per conversation: the STATE
    table everything downstream derives from, in batch and per stream
    microbatch alike (one aggregation tree: a single scan and shuffle,
    no joins). localCheckpoint, not persist: every later
    DataFrame would otherwise carry the whole assemble plan, and the
    driver re-analyzes, re-canonicalizes (cache lookups) and re-prints
    (SQL listener events) it on every derived frame and action —
    measured on synth_corpus(500): 4.0 -> 1.5-2.0 s of driver JVM CPU
    per warm batch run, and 420 -> 37 MB of driver-thread allocation per
    microbatch candidate-plan build. Same rows; the blocks go when the
    frame is garbage-collected, as for the CC loop's checkpoints."""
    return assemble_with_signatures(
        transcripts,
        cfg.n_buckets,
        cfg.max_turns,
        bucket_scale=cfg.bucket_scale,
        role_scale=cfg.role_scale,
        num_hashes=cfg.num_hashes,
        shingle_k=cfg.shingle_k,
    ).localCheckpoint()


def score_pairs(pairs: DataFrame, state: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """``score_candidates`` under ``cfg`` — the one mapping, salt and
    partition count included."""
    return score_candidates(
        pairs,
        state,
        dim=cfg.dim,
        nu=cfg.nu,
        lamb=cfg.lamb,
        degree=cfg.degree,
        num_partitions=cfg.num_partitions,
        salt=cfg.salt,
        time_scale=cfg.time_scale,
        transfer_dtype=cfg.transfer_dtype,
    )


_PAIR = ["conv_id_a", "conv_id_b"]


def score_new_pairs(
    pairs: DataFrame, state: DataFrame, cfg: PipelineConfig, log_dir: str
) -> None:
    """Score the pairs not yet in the append-only scored log at
    ``log_dir`` and append them — the one resume protocol of a batch
    restart and a stream microbatch. A rerun after a crash anti-joins
    what the log already holds; rows a crash left twice are absorbed by
    ``read_scored``."""
    if os.path.isdir(log_dir):
        done = pairs.sparkSession.read.parquet(log_dir).select(*_PAIR)
        pairs = pairs.join(done, _PAIR, "left_anti")
    score_pairs(pairs, state, cfg).write.mode("append").parquet(log_dir)


def read_scored(spark: SparkSession, log_dir: str) -> DataFrame:
    """The scored log at ``log_dir``, one row per pair."""
    return spark.read.parquet(log_dir).dropDuplicates(_PAIR)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    labeled: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    metrics: dict = {"run_id": run_id, "stages": {}}
    # Janino compiles of generated classes over the run. The counter is
    # JVM-wide: runs sharing one JVM concurrently count each other's.
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    compiles0 = compilations.getCount()

    def stage(name):
        class _T:
            def __enter__(self):
                self.t0 = time.monotonic()
                return self

            def __exit__(self, *a):
                metrics["stages"][name] = round(time.monotonic() - self.t0, 3)

        return _T()

    n_part = cfg.num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # A small parquet input scans as 1-3 file partitions; repartition BY
    # conv_id so featurize/assembly parallelize across all cores AND the
    # downstream groupBy(conv_id) reuses the hash partitioning (one
    # shuffle instead of two).
    transcripts = transcripts.repartition(n_part, "conv_id")

    with stage("assemble"):
        series = assemble_state(transcripts, cfg)
        metrics["assembly"] = {
            k: (float(v) if v is not None else None)
            for k, v in assembly_stats(series).collect()[0].asDict().items()
        }

    # cache_scope releases the blocking-internal block-size cache once
    # the persisted pair table is materialized by the count below.
    with stage("blocking"), cache_scope():
        pairs, block_stats = build_candidate_pairs_from_state(
            series,
            num_hashes=cfg.num_hashes,
            band_size=cfg.band_size,
            max_block=cfg.max_block,
            length_ratio_max=cfg.length_ratio_max,
        )
        metrics["blocking"] = {
            k: (int(v) if v is not None else 0)
            for k, v in block_stats.collect()[0].asDict().items()
        }
        pairs = pairs.persist()
        metrics["n_candidate_pairs"] = pairs.count()

    with stage("score"):
        if checkpoint_dir:
            log_dir = os.path.join(checkpoint_dir, "scores")
            score_new_pairs(pairs, series, cfg, log_dir)
            scored = read_scored(spark, log_dir)
        else:
            scored = score_pairs(pairs, series, cfg)
        scored = scored.persist()
        metrics["n_scored_pairs"] = scored.count()

    with stage("threshold"):
        threshold, cal_f1 = match_threshold(scored, cfg, labeled)
        if cal_f1 is not None:
            metrics["calibration_f1"] = cal_f1
        edges = scored.where(F.col(cfg.score_col) <= F.lit(threshold))
        metrics["threshold"] = threshold
        metrics["n_match_edges"] = edges.count()

    with stage("cluster"):
        metrics["cluster"] = {"edges_in": metrics["n_match_edges"]}
        clusters, cc_iters = assign_clusters(
            series, edges, stats=metrics["cluster"]
        )
        clusters = clusters.persist()
        metrics["cc_iterations"] = cc_iters
        metrics["n_clusters"] = clusters.select("cluster_id").distinct().count()

    evaluation = None
    if labeled is not None:
        with stage("evaluate"):
            evaluation = evaluate_pairs(edges, labeled)
            metrics["evaluation"] = evaluation

    metrics["codegen_compiles"] = compilations.getCount() - compiles0

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(
            os.path.join(checkpoint_dir, f"metrics_{run_id}.json"), "w"
        ) as fh:
            json.dump(metrics, fh, indent=2, default=str)

    return PipelineResult(
        series=series,
        candidate_pairs=pairs,
        scored=scored,
        edges=edges,
        clusters=clusters,
        threshold=metrics["threshold"],
        metrics=metrics,
        evaluation=evaluation,
    )
