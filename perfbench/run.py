"""Repository benchmark: end-to-end and per-layer metrics of the ER engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch-small --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``batch-small`` - ``run_pipeline`` on a seeded ``synth_corpus``;
* ``stream``      - the same corpus shape split into conversation-complete
  parquet drops, drained by ``run_incremental(max_files_per_trigger=1)``
  and closed by ``finalize``.

``--trace 0`` times untraced runs and reports the end-to-end metrics;
``--trace 1`` adds a traced run (one Spark job group per layer, stage rows
read from the status store) and reports the per-layer metrics. Every run
checks the engine's outputs; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")
EXPECTED = os.path.join(BENCH_DIR, "expected.json")

CORES = len(os.sched_getaffinity(0))
ARROW_BATCH_ROWS = 2048  # get_spark's default Arrow batch size

WORKLOADS = ("batch-small", "stream")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "f1": "ratio",
    "cold_wall_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
}

LAYERS = ("assemble", "blocking", "scoring", "clustering", "pipeline", "ingest")


def _per_layer_units() -> dict:
    from ledger import LAYER_FIELDS

    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(
        {
            "twed.cells_per_cpu_s": "cells/cpu-s",
            "twed.pairs_per_cpu_s": "pairs/cpu-s",
            "scoring.udf_pairs_per_cpu_s": "pairs/cpu-s",
            "scoring.series_per_pair": "ratio",
            "blocking.candidate_pairs": "count",
            "blocking.pair_recall": "ratio",
            "blocking.edges_per_pair": "ratio",
            "clustering.rounds": "count",
            "clustering.edges_in": "count",
            "ingest.add_batch_s": "s",
            "ingest.planning_s": "s",
            "ingest.commit_s": "s",
            "ingest.jobs_per_batch": "count",
            "ingest.bytes_written_mb": "MB",
            "ingest.state_convs": "count",
            "trace.traced_wall_s": "s",
            "trace.untraced_wall_s": "s",
            "trace.overhead_s": "s",
            "trace.harvest_s": "s",
        }
    )
    return units


class CheckFailed(Exception):
    """An output of the engine disagrees with the recorded or recomputed
    value."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# --------------------------------------------------------------- session


def _prepare_env() -> None:
    """Keep every file the engine writes inside the checkout and make the
    engine importable by Spark's Python workers. Runs before pyspark is
    imported, so the JVM and workers inherit it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_session(traced: bool):
    from cutwed_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if traced:
        # The status store keeps 1,000 stages by default; a traced run
        # spans three pipeline runs of ~200 stage rows each.
        extra.update(
            {
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    # no shuffle_partitions: get_spark's default is N for local[N]
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process it started (Python workers) have ended. ``spark.stop()``
    leaves the JVM up for reuse; left alone, it exits only after this
    process does."""
    from pyspark import SparkContext

    from ledger import snapshot_children, wait_ended

    children = snapshot_children()
    # a stop interrupted mid-call (SIGTERM) can fail; the JVM goes anyway
    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_ended(children)


def register_inputs(spark, workload: str, paths: dict) -> dict:
    """Register the workload's inputs with the session; the schema read
    is the registration's Spark work."""
    inputs = {"labeled": spark.read.parquet(paths["labeled"])}
    if workload != "stream":
        inputs["transcripts"] = spark.read.parquet(paths["transcripts"])
    return inputs


# -------------------------------------------------------------- checks


def _components(nodes, edges) -> int:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(n) for n in nodes})


def _pair_f1(edges_pd, labeled_pd) -> float:
    pred = set(zip(edges_pd["conv_id_a"], edges_pd["conv_id_b"]))
    tp = fp = fn = 0
    for a, b, m in zip(labeled_pd["conv_id_a"], labeled_pd["conv_id_b"], labeled_pd["is_match"]):
        hit = (a, b) in pred
        tp += bool(m) and hit
        fp += (not m) and hit
        fn += bool(m) and not hit
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    return 2 * prec * rec / max(prec + rec, 1e-12)


def oracle_check(counts: dict, scored_pd, threshold: float, paths: dict) -> float:
    """Recompute the run's outputs from the collected scored pairs and the
    generated inputs, independently of Spark: edges are the scored pairs
    at or under the threshold, clusters are connected components over all
    conversations, F1 is pairwise against the labels. Returns that F1 and
    checks it against ``counts["f1"]`` when the engine reported one."""
    import numpy as np
    import pandas as pd

    ratio = scored_pd["twed_ratio"].to_numpy()
    _require(bool(np.all(np.isfinite(ratio))), "non-finite twed_ratio")
    _require(bool(np.all((ratio >= 0) & (ratio <= 1 + 1e-9))), "twed_ratio outside [0, 1]")
    _require(bool((scored_pd["conv_id_a"] < scored_pd["conv_id_b"]).all()), "pair not ordered a < b")
    _require(
        not scored_pd.duplicated(["conv_id_a", "conv_id_b"]).any(), "duplicate scored pair"
    )
    _require(len(scored_pd) == counts["scored_pairs"], "scored-pair count")
    edges = scored_pd[ratio <= threshold]
    _require(len(edges) == counts["edges"], f"edge count {counts['edges']} != {len(edges)}")
    convs = pd.read_parquet(paths["transcripts"], columns=["conv_id"])["conv_id"].unique()
    n_clusters = _components(convs, zip(edges["conv_id_a"], edges["conv_id_b"]))
    _require(n_clusters == counts["clusters"], f"cluster count {counts['clusters']} != {n_clusters}")
    f1 = _pair_f1(edges, pd.read_parquet(paths["labeled"]))
    if "f1" in counts:
        _require(abs(f1 - counts["f1"]) < 1e-9, f"f1 {counts['f1']} != {f1}")
    return f1


def recorded_check(workload: str, seed: int, counts: dict, record: bool) -> None:
    """Compare against the values recorded for this seed (or record them)."""
    table = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            table = json.load(fh)
    key = str(seed)
    mine = {k: (round(v, 6) if isinstance(v, float) else v) for k, v in counts.items()}
    if record:
        table.setdefault(workload, {})[key] = mine
        with open(EXPECTED, "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return
    want = table.get(workload, {}).get(key)
    if want is None:
        print(
            f"perfbench: no values recorded for {workload} seed {seed} "
            f"(expected.json holds seeds {recorded_range(table, workload)}); "
            "only the checks without Spark ran",
            file=sys.stderr,
        )
        return
    _require(want == mine, f"recorded values for seed {seed}: {want} != {mine}")


def recorded_range(table: dict, workload: str) -> str:
    seeds = sorted(int(k) for k in table.get(workload, {}))
    return f"{seeds[0]}-{seeds[-1]}" if seeds else "none"


# --------------------------------------------------------------- batch


def _batch_counts(res) -> dict:
    m = res.metrics
    return {
        "candidate_pairs": int(m["n_candidate_pairs"]),
        "scored_pairs": int(m["n_scored_pairs"]),
        "edges": int(m["n_match_edges"]),
        "clusters": int(m["n_clusters"]),
        "cc_rounds": int(m["cc_iterations"]),
        "f1": float(res.evaluation["f1"]),
    }


def timed_pipeline(spark, inputs: dict):
    """One untraced ``run_pipeline``: (result, wall_s, tree cpu_s)."""
    from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
    from ledger import tree_cpu_s

    cpu0 = tree_cpu_s()
    t0 = time.monotonic()
    res = run_pipeline(spark, inputs["transcripts"], PipelineConfig(), labeled=inputs["labeled"])
    wall = time.monotonic() - t0
    return res, wall, tree_cpu_s() - cpu0


def cold_batch(ctx) -> dict:
    """The first run in the fresh session, checked against the recorded
    values and the independent recomputation; returns its counts."""
    res, wall, _ = timed_pipeline(ctx.spark, ctx.inputs)
    ctx.attempted += 1
    counts = _batch_counts(res)
    scored_pd = res.scored.select("conv_id_a", "conv_id_b", "twed_ratio").toPandas()
    oracle_check(counts, scored_pd, res.threshold, ctx.paths)
    _require(counts["scored_pairs"] == counts["candidate_pairs"], "a candidate pair was not scored")
    ctx.check_recorded(counts)
    ctx.cold_wall = wall
    res.unpersist()
    return counts


def run_batch(ctx) -> dict:
    counts = cold_batch(ctx)
    walls, cpus = [], []
    t_start = time.monotonic()
    while not walls or time.monotonic() - t_start < ctx.seconds:
        res, wall, cpu = timed_pipeline(ctx.spark, ctx.inputs)
        ctx.attempted += 1
        _require(_batch_counts(res) == counts, "warm run disagrees with the cold run")
        walls.append(wall)
        cpus.append(cpu)
        res.unpersist()
    return {
        "f1": counts["f1"],
        "cold_wall_s": ctx.cold_wall,
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
    }


def traced_batch(ctx) -> dict:
    """Untraced warm run, then the same public operator calls that
    ``run_pipeline`` sequences, one job group per layer, each forced by
    the action the pipeline uses."""
    from pyspark.sql import functions as F

    from cutwed_spark.cache import cache_scope
    from cutwed_spark.operators.assemble import assemble_with_signatures, assembly_stats
    from cutwed_spark.operators.blocking import build_candidate_pairs_from_state
    from cutwed_spark.operators.clustering import assign_clusters
    from cutwed_spark.operators.scoring import score_candidates
    from cutwed_spark.plans.pipeline import PipelineConfig, calibrate_threshold, evaluate_pairs
    from ledger import StageLedger

    counts = cold_batch(ctx)
    res, untraced_wall, _ = timed_pipeline(ctx.spark, ctx.inputs)
    ctx.attempted += 1
    _require(_batch_counts(res) == counts, "warm run disagrees with the cold run")
    res.unpersist()

    spark, cfg = ctx.spark, PipelineConfig()
    labeled = ctx.inputs["labeled"]
    ledger = StageLedger(spark)
    t0 = time.monotonic()
    with ledger.layer("assemble"):
        n_part = cfg.num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        transcripts = ctx.inputs["transcripts"].repartition(n_part, "conv_id")
        series = assemble_with_signatures(
            transcripts, cfg.n_buckets, cfg.max_turns, bucket_scale=cfg.bucket_scale,
            role_scale=cfg.role_scale, num_hashes=cfg.num_hashes, shingle_k=cfg.shingle_k,
        ).persist()
        assembly_stats(series).collect()
    with ledger.layer("blocking"), cache_scope():
        pairs, block_stats = build_candidate_pairs_from_state(
            series, num_hashes=cfg.num_hashes, band_size=cfg.band_size,
            max_block=cfg.max_block, length_ratio_max=cfg.length_ratio_max,
        )
        block_stats.collect()
        pairs = pairs.persist()
        n_cand = pairs.count()
    with ledger.layer("scoring"):
        scored = score_candidates(
            pairs, series, dim=cfg.dim, nu=cfg.nu, lamb=cfg.lamb, degree=cfg.degree,
            num_partitions=cfg.num_partitions, salt=cfg.salt, time_scale=cfg.time_scale,
            transfer_dtype=cfg.transfer_dtype,
        ).persist()
        n_scored = scored.count()
    with ledger.layer("pipeline"):
        threshold, _ = calibrate_threshold(scored, labeled, cfg.score_col)
        edges = scored.where(F.col(cfg.score_col) <= F.lit(threshold))
        n_edges = edges.count()
    with ledger.layer("clustering"):
        clusters, rounds = assign_clusters(series, edges)
        clusters = clusters.persist()
        n_clusters = clusters.select("cluster_id").distinct().count()
    with ledger.layer("pipeline"):
        f1 = evaluate_pairs(edges, labeled)["f1"]
    traced_run = time.monotonic() - t0
    ctx.attempted += 1
    layers = ledger.harvest({g: g for g in ("assemble", "blocking", "scoring", "clustering", "pipeline")})
    traced = {
        "candidate_pairs": n_cand, "scored_pairs": n_scored, "edges": n_edges,
        "clusters": n_clusters, "cc_rounds": rounds, "f1": f1,
    }
    _require(traced == counts, f"traced run drifted from run_pipeline: {traced} != {counts}")

    pairs_pd = pairs.toPandas()
    labeled_pd = labeled.toPandas()
    pos = labeled_pd[labeled_pd["is_match"]]
    reached = pos.merge(pairs_pd, on=["conv_id_a", "conv_id_b"]).shape[0]
    out = kernel_ratios(pairs, series)
    for df in (series, pairs, scored, clusters):
        df.unpersist()
    traced_wall = traced_run + ledger.harvest_s
    out.update(_flatten(layers))
    out.update(
        {
            "blocking.candidate_pairs": n_cand,
            "blocking.pair_recall": reached / max(len(pos), 1),
            "blocking.edges_per_pair": n_edges / max(n_cand, 1),
            "clustering.rounds": rounds,
            "clustering.edges_in": n_edges,
            "trace.traced_wall_s": traced_wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "trace.harvest_s": ledger.harvest_s,
        }
    )
    return out


def _flatten(layers: dict) -> dict:
    return {f"{layer}.{f}": v for layer, fields in layers.items() for f, v in fields.items()}


# ------------------------------------------------------------- kernels


def kernel_ratios(pairs, series) -> dict:
    """Single-core rates of the scoring layer on the workload's own pairs:
    ``make_score_fn`` (the mapInArrow body) and ``twed_pairs`` (the TWED
    kernel alone), both over the Arrow batches the scoring join feeds."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from cutwed_spark.operators.scoring import attach_series, make_score_fn
    from cutwed_spark.plans.pipeline import PipelineConfig
    from cutwed_spark.twed.core import twed_pairs

    cfg = PipelineConfig()
    joined = attach_series(pairs, series, cfg.time_scale, cfg.transfer_dtype)
    table = joined.toArrow()
    batches = table.combine_chunks().to_batches(max_chunksize=ARROW_BATCH_ROWS)
    n_pairs = table.num_rows
    score = make_score_fn(cfg.dim, cfg.nu, cfg.lamb, cfg.degree)

    def side(batch, id_col, v_col, t_col):
        """Distinct series of one pair side -> padded (N, n_max, dim)
        values, (N, n_max) times, (N,) lengths, and each row's index."""
        codes = np.asarray(
            pc.dictionary_encode(batch.column(id_col)).indices, dtype=np.int64
        )
        _, first = np.unique(codes, return_index=True)
        take = pa.array(first)
        times = batch.column(t_col).take(take)
        lens = np.asarray(pc.list_value_length(times), dtype=np.int64)
        n, n_max = len(lens), int(lens.max())
        V = np.zeros((n, n_max, cfg.dim))
        T = np.zeros((n, n_max))
        vals = np.asarray(batch.column(v_col).take(take).flatten(), dtype=np.float64)
        tflat = np.asarray(times.flatten(), dtype=np.float64)
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(len(tflat)) - np.repeat(np.cumsum(lens) - lens, lens)
        V[rows, cols] = vals.reshape(-1, cfg.dim)
        T[rows, cols] = tflat
        return V, T, lens, codes

    stacks = [
        side(b, "conv_id_a", "va", "ta") + side(b, "conv_id_b", "vb", "tb") for b in batches
    ]
    cells = sum(int(np.sum(s[2][s[3]] * s[6][s[7]])) for s in stacks)
    series_per_pair = statistics.mean(
        (len(s[2]) + len(s[6])) / len(s[3]) for s in stacks
    )

    def cpu_rate(fn) -> float:
        reps, cpu = 0, 0.0
        while reps < 1 or cpu < 0.5:
            c0 = time.process_time()
            fn()
            cpu += time.process_time() - c0
            reps += 1
        return reps / cpu

    kernel = cpu_rate(
        lambda: [twed_pairs(*s, cfg.nu, cfg.lamb, cfg.degree) for s in stacks]
    )
    udf = cpu_rate(lambda: sum(b.num_rows for b in score(iter(batches))))
    return {
        "twed.cells_per_cpu_s": cells * kernel,
        "twed.pairs_per_cpu_s": n_pairs * kernel,
        "scoring.udf_pairs_per_cpu_s": n_pairs * udf,
        "scoring.series_per_pair": series_per_pair,
    }


# -------------------------------------------------------------- stream


def drain(ctx, ledger=None) -> dict:
    """One ``run_incremental`` drain of the drops into a fresh work dir,
    then ``finalize`` forced by counting its edges and clusters. Checks
    the outputs; returns timings, per-batch progress and counts. With a
    ``ledger`` the drain is its ``ingest`` layer and finalize its
    ``clustering`` layer."""
    from cutwed_spark.plans.pipeline import PipelineConfig
    from cutwed_spark.streaming.ingest import finalize, run_incremental
    from ledger import tree_cpu_s

    spark = ctx.spark
    span = ledger.layer if ledger else (lambda _name: contextlib.nullcontext())
    work = os.path.join(WORK, "stream", str(ctx.attempted))
    shutil.rmtree(work, ignore_errors=True)
    ctx.clock.marks.clear()
    t0 = time.monotonic()
    with span("ingest"):
        query = run_incremental(spark, ctx.paths["drops"], work, max_files_per_trigger=1)
    with span("clustering"):
        edges, clusters = finalize(spark, work, PipelineConfig())
        n_edges, n_clusters = edges.count(), clusters.select("cluster_id").distinct().count()
    t1 = time.monotonic()
    cpu2 = tree_cpu_s()
    ctx.attempted += 1

    prog = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    _require(len(prog) == ctx.n_drops, f"{len(prog)} microbatches for {ctx.n_drops} drops")
    first_end = ctx.clock.wait_for(prog[0]["batchId"])
    scored_pd = (
        spark.read.parquet(os.path.join(work, "scored"))
        .select("conv_id_a", "conv_id_b", "twed_ratio")
        .toPandas()
    )
    counts = {
        "scored_pairs": len(scored_pd),
        "edges": n_edges,
        "clusters": n_clusters,
        "state_convs": spark.read.parquet(os.path.join(work, "state")).count(),
    }
    cfg = PipelineConfig()
    # finalize reports no F1: the metric is the pairwise recount over its
    # edges (finalize's documented threshold when the config sets none)
    counts["f1"] = oracle_check(
        counts, scored_pd, 0.35 if cfg.threshold is None else cfg.threshold, ctx.paths
    )
    _require(counts["state_convs"] == ctx.n_convs,
             f"state holds {counts['state_convs']} of {ctx.n_convs} conversations")
    ctx.check_recorded(counts)
    if ctx.counts is not None:
        _require(counts == ctx.counts, "drain disagrees with the first drain")
    ctx.counts = counts
    return {
        "work": work,
        "query": query,
        "prog": prog,
        "run_s": t1 - t0,
        "warm_s": t1 - first_end[0],
        "warm_cpu_s": cpu2 - first_end[1],
        "counts": counts,
    }


def run_stream(ctx) -> dict:
    drains = []
    t_start = time.monotonic()
    while not drains or time.monotonic() - t_start < ctx.seconds:
        drains.append(drain(ctx))
    first = drains[0]
    return {
        "f1": first["counts"]["f1"],
        "cold_wall_s": first["run_s"],
        # warm part of a drain: every microbatch after the first, plus finalize
        "wall_s": statistics.median(d["warm_s"] for d in drains),
        "cpu_s": statistics.median(d["warm_cpu_s"] for d in drains),
    }


def traced_stream(ctx) -> dict:
    """One drain with the query's jobs (Spark tags them with the query's
    run id) ledgered as ``ingest`` and ``finalize`` as ``clustering``."""
    from ledger import StageLedger, dir_bytes

    spark = ctx.spark
    ledger = StageLedger(spark)
    d = drain(ctx, ledger)
    layers = ledger.harvest({"ingest": str(d["query"].runId), "clustering": "clustering"})
    n = len(d["prog"])
    warm = d["prog"][1:] or d["prog"]  # the first microbatch is cold

    def ms(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in warm) / 1e3

    written = sum(dir_bytes(os.path.join(d["work"], t)) for t in ("state", "block_keys", "scored"))
    counts = d["counts"]
    scored = spark.read.parquet(os.path.join(d["work"], "scored")).select("conv_id_a", "conv_id_b")
    series = spark.read.parquet(os.path.join(d["work"], "state"))
    labeled_pd = ctx.inputs["labeled"].toPandas()
    pos = labeled_pd[labeled_pd["is_match"]]
    reached = pos.merge(scored.toPandas(), on=["conv_id_a", "conv_id_b"]).shape[0]
    out = kernel_ratios(scored, series)
    out.update(_flatten(layers))
    out.update(
        {
            "blocking.candidate_pairs": counts["scored_pairs"],
            "blocking.pair_recall": reached / max(len(pos), 1),
            "blocking.edges_per_pair": counts["edges"] / max(counts["scored_pairs"], 1),
            "clustering.edges_in": counts["edges"],
            "ingest.add_batch_s": ms("addBatch"),
            "ingest.planning_s": ms("queryPlanning"),
            "ingest.commit_s": ms("commitOffsets"),
            "ingest.jobs_per_batch": layers["ingest"]["jobs"] / n,
            "ingest.bytes_written_mb": written / n / 2**20,
            "ingest.state_convs": counts["state_convs"],
            "trace.traced_wall_s": d["run_s"] + ledger.harvest_s,
            "trace.untraced_wall_s": d["run_s"],
            "trace.overhead_s": ledger.harvest_s,
            "trace.harvest_s": ledger.harvest_s,
        }
    )
    return out


# ---------------------------------------------------------------- main


class BatchClock:
    """Streaming listener that stamps (monotonic time, tree CPU) when
    each microbatch's progress is reported."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        from ledger import tree_cpu_s

        clock = self
        self.marks: dict[int, tuple[float, float]] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                clock.marks[event.progress.batchId] = (time.monotonic(), tree_cpu_s())

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def wait_for(self, batch_id: int, timeout_s: float = 10.0) -> tuple[float, float]:
        deadline = time.monotonic() + timeout_s
        while batch_id not in self.marks:
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress event for batch {batch_id}")
            time.sleep(0.01)
        return self.marks[batch_id]


class Context:
    def __init__(self, args, paths: dict):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.paths = paths
        self.record = args.record
        self.default_size = args.convs is None
        self.spark = None
        self.inputs: dict = {}
        self.attempted = 0
        self.counts = None
        self.cold_wall = 0.0
        # stream only
        self.clock = None
        self.n_drops = 0
        self.n_convs = 0

    def check_recorded(self, counts: dict) -> None:
        if self.default_size:
            recorded_check(self.workload, self.seed, counts, self.record)

    def open_stream(self, clock: BatchClock | None = None) -> None:
        """Fields the stream drain needs; ``clock`` reuses a listener
        already added to this session."""
        import pandas as pd

        import load

        self.clock = clock or BatchClock(self.spark)
        self.n_drops = load.STREAM_DROPS
        self.n_convs = pd.read_parquet(
            self.paths["transcripts"], columns=["conv_id"]
        )["conv_id"].nunique()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=None,
                    help="override the corpus size (tests); skips the recorded-value check")
    ap.add_argument("--record", action="store_true",
                    help="record this seed's output counts in expected.json")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cutwed_spark", "__init__.py")):
        print(f"perfbench: no cutwed_spark package under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the session is still shut down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _prepare_env()
    import load
    from ledger import process_uptime_s, tree_peak_rss_mb

    t0 = time.monotonic()
    paths = load.prepare(args.workload, args.seed, CACHE, args.convs)
    generation_s = time.monotonic() - t0
    traced = bool(args.trace)
    ctx = Context(args, paths)
    runner = {
        ("batch-small", False): run_batch,
        ("batch-small", True): traced_batch,
        ("stream", False): run_stream,
        ("stream", True): traced_stream,
    }[(args.workload, traced)]
    failed, values = 0, {}
    try:
        ctx.spark = start_session(traced)
        ctx.inputs = register_inputs(ctx.spark, args.workload, paths)
        # the set-up a CLI run pays: interpreter, imports, JVM and session
        # start and the input registration, less the corpus generation
        setup_s = process_uptime_s() - generation_s
        if args.workload == "stream":
            ctx.open_stream()
        try:
            values = runner(ctx)
            values["peak_rss_mb"] = tree_peak_rss_mb()
            values["setup_s"] = setup_s
        except Exception:  # a raise or a failed check is a failed operation
            traceback.print_exc()
            failed = 1
            ctx.attempted = max(ctx.attempted, 1)
    finally:
        # on every way out, SIGTERM and a failed set-up included
        end_session(ctx.spark)
        shutil.rmtree(os.path.join(WORK, "stream"), ignore_errors=True)
    units = _per_layer_units() if traced else END_TO_END
    if traced and not failed:
        # a layer the workload does not run under its own job group reads 0
        values = {name: values.get(name, 0) for name in units}
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in units.items()
        if name in values
    }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
