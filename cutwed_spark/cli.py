"""Command-line driver for the entity-resolution pipeline.

Cluster launch (the north_rule's deployment shape):

    zip -r cutwed_spark.zip cutwed_spark
    spark-submit --py-files cutwed_spark.zip cutwed_spark/cli.py run \\
        --input  s3://bucket/transcripts/ \\
        --output s3://bucket/er_out/ \\
        --checkpoint s3://bucket/er_ckpt/ \\
        --labeled s3://bucket/labeled_pairs/      # optional, calibrates τ

Local smoke:

    python -m cutwed_spark.cli synth --out /tmp/corpus --n 1000
    python -m cutwed_spark.cli run --input /tmp/corpus/transcripts.parquet \\
        --labeled /tmp/corpus/labeled_pairs.parquet --output /tmp/er_out

Under spark-submit the session comes from the submitted conf (master,
executors, memory); standalone it falls back to local[*]. Outputs:
``clusters/`` ``edges/`` ``scored/`` parquet + ``metrics_<run>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from cutwed_spark.session import get_spark

    return get_spark(
        app_name="cutwed-er",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_synth(args) -> int:
    from cutwed_spark.sources.synth import write_corpus

    write_corpus(args.out, args.n, turn_p=args.turn_p, max_turns=args.max_turns)
    print(json.dumps({"written": args.out, "n_conversations": args.n}))
    return 0


def cmd_run(args) -> int:
    from pyspark.sql import functions as F

    from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline

    from cutwed_spark.sources.io import read_table, write_table

    spark = _spark(args)
    transcripts = read_table(spark, args.input)
    labeled = read_table(spark, args.labeled) if args.labeled else None
    cfg = PipelineConfig(
        threshold=args.threshold,
        nu=args.nu,
        lamb=args.lamb,
        max_turns=args.max_turns,
        max_block=args.max_block,
        num_partitions=args.shuffle_partitions,
        transfer_dtype=args.transfer_dtype,
    )
    res = run_pipeline(
        spark, transcripts, cfg, labeled=labeled, checkpoint_dir=args.checkpoint
    )
    iceberg_out = args.output.startswith("iceberg:")
    if not iceberg_out:
        os.makedirs(args.output, exist_ok=True)

    def _dst(name: str) -> str:
        if iceberg_out:
            return f"{args.output}_{name}"  # iceberg:cat.db.prefix_name
        return os.path.join(args.output, name)

    write_table(res.clusters, _dst("clusters"))
    write_table(
        res.edges.select(
            "conv_id_a", "conv_id_b", "n_a", "n_b",
            F.round("twed", 6).alias("twed"),
            F.round("twed_norm", 6).alias("twed_norm"),
        ),
        _dst("edges"),
    )
    if args.write_scored:
        write_table(res.scored, _dst("scored"))
    run_id = res.metrics["run_id"]
    metrics_dir = args.output if not iceberg_out else (args.checkpoint or ".")
    os.makedirs(metrics_dir, exist_ok=True)
    with open(os.path.join(metrics_dir, f"metrics_{run_id}.json"), "w") as fh:
        json.dump(res.metrics, fh, indent=2, default=str)
    print(json.dumps(res.metrics, default=str))
    return 0


def cmd_stream_dedup(args) -> int:
    """Incremental document dedup over a directory of parquet drops:
    exact + verified near-dup edges against the persisted indexes."""
    import json

    from cutwed_spark.streaming.dedup import _paths, run_incremental_dedup

    spark = _spark(args)
    run_incremental_dedup(
        spark,
        args.input,
        args.work,
        min_jaccard=args.min_jaccard,
    )
    p = _paths(args.work)
    if os.path.isdir(p["edges"]):
        edges = spark.read.parquet(p["edges"]).dropDuplicates(
            ["doc_id_a", "doc_id_b", "kind"]
        )
        summary = {
            "n_dup_edges": edges.count(),
            "n_exact": edges.where("kind = 'exact'").count(),
            "edges": p["edges"],
        }
    else:
        # no batch produced edges (empty input dir or no duplicates):
        # succeed with zero counts rather than failing on a missing path
        summary = {"n_dup_edges": 0, "n_exact": 0, "edges": p["edges"]}
    print(json.dumps(summary))
    return 0


def cmd_compact(args) -> int:
    """Compact a streaming work dir (run with the stream STOPPED): the
    per-microbatch appends accumulate small files; this rewrites each
    state table to a bounded file count, deduping replay artifacts on
    the way. Auto-detects the layout (ER ingest vs document dedup) from
    the tables present unless ``--mode`` forces one."""
    import json

    from cutwed_spark.streaming.dedup import _paths as dedup_paths
    from cutwed_spark.streaming.dedup import compact_dedup_state
    from cutwed_spark.streaming.ingest import _paths as er_paths
    from cutwed_spark.streaming.ingest import compact_stream_state

    mode = args.mode
    if mode == "auto":
        is_er = os.path.isdir(er_paths(args.work)["keys"])
        is_dedup = os.path.isdir(dedup_paths(args.work)["bands"])
        if is_er == is_dedup:
            print(
                json.dumps(
                    {
                        "error": "cannot auto-detect work-dir layout; "
                        "pass --mode er or --mode dedup",
                        "work": args.work,
                    }
                )
            )
            return 2
        mode = "er" if is_er else "dedup"
    spark = _spark(args)
    fn = compact_stream_state if mode == "er" else compact_dedup_state
    stats = fn(spark, args.work, target_files=args.target_files)
    print(json.dumps({"mode": mode, "work": args.work, "tables": stats}))
    return 0


def cmd_curate(args) -> int:
    """Training-data curation funnel over a documents parquet:
    quality gate -> exact dedup -> verified near-dup prune."""
    from cutwed_spark.cache import cache_scope
    from cutwed_spark.operators.curation import curate_documents

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    os.makedirs(args.output, exist_ok=True)
    with cache_scope():
        survivors, funnel = curate_documents(
            docs,
            min_quality=args.min_quality,
            require_lang=args.require_lang or None,
            min_jaccard=args.min_jaccard,
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(args.output, "curated")
        )
        counts = funnel.collect()[0].asDict()
    with open(os.path.join(args.output, "funnel.json"), "w") as fh:
        json.dump(counts, fh, indent=2)
    print(json.dumps(counts))
    return 0


def cmd_stream(args) -> int:
    """Incremental ER over a directory of transcript parquet drops:
    process available files (availableNow), then threshold + cluster
    the accumulated state."""
    from cutwed_spark.plans.pipeline import PipelineConfig
    from cutwed_spark.streaming.ingest import (
        finalize,
        publish_bucketed_state,
        run_incremental,
    )

    spark = _spark(args)
    cfg = PipelineConfig(threshold=args.threshold)
    run_incremental(
        spark,
        args.input,
        args.work,
        cfg,
        max_files_per_trigger=args.max_files,
    )
    # Publish the drained state as a conv_id-bucketed catalog table by
    # default: the epilogue (and any later scoring session) then joins
    # the multi-TB state side with no Exchange. Degrades to the plain
    # parquet dir when the catalog refuses (no metastore) — the stream
    # work dir stays the durable source of truth either way.
    state_table = None
    if args.bucket_table:
        try:
            publish_bucketed_state(spark, args.work, table=args.bucket_table)
            state_table = args.bucket_table
        except Exception as exc:  # pragma: no cover - catalog-dependent
            print(f"bucketed-state publish skipped: {exc}", file=sys.stderr)
    edges, clusters = finalize(spark, args.work, cfg, state_table=state_table)
    out = args.output or os.path.join(args.work, "out")
    os.makedirs(out, exist_ok=True)
    edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
    clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
    summary = {
        "n_match_edges": edges.count(),
        "n_clusters": clusters.select("cluster_id").distinct().count(),
        "bucketed_state_table": state_table,
        "out": out,
    }
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="cutwed_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("synth", help="write a deterministic synthetic corpus")
    ps.add_argument("--out", required=True)
    ps.add_argument("--n", type=int, default=1000)
    ps.add_argument("--turn-p", dest="turn_p", type=float, default=0.12)
    ps.add_argument("--max-turns", dest="max_turns", type=int, default=64)
    ps.set_defaults(fn=cmd_synth)

    pr = sub.add_parser("run", help="run the ER pipeline")
    pr.add_argument("--input", required=True, help="transcripts parquet path")
    pr.add_argument("--labeled", default=None, help="labeled_pairs parquet path")
    pr.add_argument("--output", required=True)
    pr.add_argument("--checkpoint", default=None)
    pr.add_argument("--threshold", type=float, default=None)
    pr.add_argument("--nu", type=float, default=0.05)
    pr.add_argument("--lamb", type=float, default=0.5)
    pr.add_argument("--max-turns", dest="max_turns", type=int, default=128)
    pr.add_argument("--max-block", dest="max_block", type=int, default=64)
    pr.add_argument("--transfer-dtype", dest="transfer_dtype", default="double",
                    choices=["double", "float"])
    pr.add_argument("--master", default=None)
    pr.add_argument("--shuffle-partitions", dest="shuffle_partitions", type=int,
                    default=None)
    pr.add_argument("--write-scored", dest="write_scored", action="store_true")
    pr.set_defaults(fn=cmd_run)

    pc = sub.add_parser("curate", help="curation funnel over documents")
    pc.add_argument("--input", required=True, help="documents parquet path")
    pc.add_argument("--output", required=True)
    pc.add_argument("--min-quality", dest="min_quality", type=float, default=0.5)
    pc.add_argument("--require-lang", dest="require_lang", default="en",
                    help="'en' or '' to disable the language gate")
    pc.add_argument("--min-jaccard", dest="min_jaccard", type=float, default=0.5,
                    help="near-dup prune threshold (verified exact Jaccard)")
    pc.add_argument("--master", default=None)
    pc.add_argument("--shuffle-partitions", dest="shuffle_partitions", type=int,
                    default=None)
    pc.set_defaults(fn=cmd_curate)

    pt = sub.add_parser("stream", help="incremental ER over parquet drops")
    pt.add_argument("--input", required=True, help="directory of parquet drops")
    pt.add_argument("--work", required=True, help="state/checkpoint work dir")
    pt.add_argument("--output", default=None, help="default <work>/out")
    pt.add_argument("--threshold", type=float, default=0.35)
    pt.add_argument("--max-files", dest="max_files", type=int, default=None)
    pt.add_argument(
        "--bucket-table",
        dest="bucket_table",
        default="er_state_bucketed",
        help="catalog table for the bucketed state publication "
        "(empty string disables)",
    )
    pt.add_argument("--master", default=None)
    pt.add_argument("--shuffle-partitions", dest="shuffle_partitions", type=int,
                    default=None)
    pt.set_defaults(fn=cmd_stream)

    pd = sub.add_parser(
        "stream-dedup", help="incremental document dedup over parquet drops"
    )
    pd.add_argument("--input", required=True, help="directory of parquet drops")
    pd.add_argument("--work", required=True, help="state/checkpoint work dir")
    pd.add_argument("--min-jaccard", dest="min_jaccard", type=float, default=0.5)
    pd.add_argument("--master", default=None)
    pd.add_argument("--shuffle-partitions", dest="shuffle_partitions", type=int,
                    default=None)
    pd.set_defaults(fn=cmd_stream_dedup)

    pk = sub.add_parser(
        "compact",
        help="compact a streaming work dir's state tables (stream stopped)",
    )
    pk.add_argument("--work", required=True, help="state/checkpoint work dir")
    pk.add_argument(
        "--mode",
        choices=["auto", "er", "dedup"],
        default="auto",
        help="work-dir layout; auto detects from the tables present",
    )
    pk.add_argument(
        "--target-files", dest="target_files", type=int, default=None,
        help="files per UNPARTITIONED table after compaction (default: "
        "shuffle partitions); hive-partitioned tables (the dedup "
        "shingle store) compact to one file per partition instead",
    )
    pk.add_argument("--master", default=None)
    pk.add_argument("--shuffle-partitions", dest="shuffle_partitions", type=int,
                    default=None)
    pk.set_defaults(fn=cmd_compact)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
