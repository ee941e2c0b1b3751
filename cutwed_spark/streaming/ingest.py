"""Structured-streaming incremental entity resolution.

The reference is strictly batch (SURVEY.md §2.2: no streaming surface),
but a transcript corpus GROWS — this module ingests new conversations
with ``readStream`` and resolves them incrementally via
``foreachBatch``:

  new turn files -> assemble + sign the NEW conversations only
                 -> derive the NEW conversations' block keys and join
                    them against the persisted block-key index (old
                    transcripts are never re-read and old block keys
                    are never re-derived: signatures live with the
                    state, keys live in the append-only index)
                 -> score only pairs touching a new conversation
                 -> append scored edges + new block keys + new state

Invariant: a conversation's turns arrive within one file/microbatch
(conversation-complete ingestion). For streams whose conversations SPAN
microbatches, compose with ``cutwed_spark.streaming.state.
accumulate_conversations`` (applyInPandasWithState + event-time
timeout) upstream: it emits completed conversations, and
``conversations_to_turns`` restores the transcript layout this module
expects. Clustering stays a batch job over the
accumulated edges (``finalize``) — connected components is iterative
and belongs outside the stream.

The foreachBatch body calls the batch pipeline's stage functions
(``assemble_state``, ``score_new_pairs``; ``finalize`` adds
``read_scored`` and ``match_threshold``) and the batch blocking's
``cap_blocks``/``block_pairs``, and keeps only the block-key index
read, the version marker and the write order. It is idempotent
per batch id in the usual Spark sense: the stream checkpoint prevents
reprocessing, and ``score_new_pairs`` skips pairs the scored log holds.

The work-dir layer here serves doc dedup (streaming/dedup.py) too: one
table registry (``_TABLES``/``_paths``), one drain (``_drain``), one
stored-plus-new read (``_with_stored``) and one compaction
(``compact_stream_state``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cutwed_spark.cache import cache_scope, scoped_persist
from cutwed_spark.operators.blocking import (
    SIGNATURE_FAMILY_VERSION,
    block_keys_from_state,
    block_pairs,
    cap_blocks,
    length_filter_pairs,
)
from cutwed_spark.operators.clustering import assign_clusters
from cutwed_spark.plans.pipeline import (
    PipelineConfig,
    assemble_state,
    match_threshold,
    read_scored,
    score_new_pairs,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# Bump state_format when the persisted state table's physical schema
# changes (e.g. values_flat float64 -> float32).
STATE_FORMAT_VERSION = 2


# The one table registry of both streaming work-dir layouts (ER ingest:
# state, keys, scored; doc dedup, streaming/dedup.py: hashes, bands,
# shingles, edges): table -> (subdir, columns a replayed append
# duplicates rows on, hive partition column).
_TABLES = {
    "state": ("state", ["conv_id"], None),
    "keys": ("block_keys", ["conv_id", "block_key"], None),
    "scored": ("scored", ["conv_id_a", "conv_id_b"], None),
    "hashes": ("dup_hashes", ["dup_hash", "doc_id"], None),
    "bands": ("band_keys", ["band_key", "doc_id"], None),
    "shingles": ("shingles", ["doc_id", "shingle"], "bkt"),
    "edges": ("dup_edges", ["doc_id_a", "doc_id_b", "kind"], None),
}


def _paths(work_dir: str) -> dict:
    p = {name: os.path.join(work_dir, sub) for name, (sub, _, _) in _TABLES.items()}
    p["stream_ckpt"] = os.path.join(work_dir, "stream_ckpt")
    return p


def _has_parquet(path: str) -> bool:
    """Whether ``path`` is a dir holding (unpartitioned) parquet files."""
    return os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path))


def _with_stored(spark: SparkSession, path: str, new: DataFrame) -> DataFrame:
    """The stored table at ``path`` plus a batch's ``new`` rows (just
    ``new`` before the first append)."""
    if _has_parquet(path):
        return spark.read.parquet(path).unionByName(new)
    return new


def _drain(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    work_dir: str,
    body,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """The one stream drain: parquet files of ``schema`` from
    ``input_dir``, each microbatch handed to ``body(batch_df)``,
    checkpointed under ``work_dir``; processes the available data and
    stops (availableNow trigger). Returns the query."""
    os.makedirs(work_dir, exist_ok=True)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(lambda batch_df, _batch_id: body(batch_df))
        .option("checkpointLocation", _paths(work_dir)["stream_ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def _state_version_marker(state_dir: str) -> str:
    # underscore-prefixed files are invisible to Spark's parquet listing
    return os.path.join(state_dir, "_state_version.json")


def check_state_version(state_dir: str) -> None:
    """Refuse to mix incompatible persisted state.

    Signatures from different hash families NEVER collide in LSH bands
    — unioning old-family state rows with new-family batches would
    silently miss every old-vs-new duplicate — and mixed
    float64/float32 ``values_flat`` files make the directory unreadable
    on append. Raises ValueError on mismatch (rebuild the state dir by
    re-ingesting); writes the marker for a fresh/unmarked dir.
    """
    if not os.path.isdir(state_dir):
        return
    current = {
        "signature_family_version": SIGNATURE_FAMILY_VERSION,
        "state_format": STATE_FORMAT_VERSION,
    }
    marker = _state_version_marker(state_dir)
    if os.path.isfile(marker):
        with open(marker) as fh:
            found = json.load(fh)
        if found != current:
            raise ValueError(
                f"incremental state at {state_dir} was written by version "
                f"{found}, engine is {current}: old-family signatures never "
                f"band-collide with new ones (silently missed duplicates). "
                f"Rebuild the state dir by re-ingesting from the source "
                f"transcripts."
            )
    elif _has_parquet(state_dir):
        raise ValueError(
            f"incremental state at {state_dir} predates state versioning "
            f"(no _state_version.json); rebuild it by re-ingesting."
        )
    else:
        with open(marker, "w") as fh:
            json.dump(current, fh)


def incremental_candidates(
    spark: SparkSession, new_state: DataFrame, p: dict, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs touching a NEW conversation, from the persisted
    block-key index — the accumulated state table is never rescanned
    and its block keys are never re-derived.

    Returns ``(cand, new_keys)``; the caller appends ``new_keys`` to the
    index after the batch's writes succeed. Per-batch work is
    O(new batch) key derivation + ``_index_join_pairs`` over the
    (conv_id, block_key) index — NOT O(full state) signature
    re-derivation (the reference's device-resident-reuse principle,
    /root/reference/src/cuTWED.h:47-53: don't recompute what hasn't
    changed).
    """
    new_keys = block_keys_from_state(new_state, cfg.band_size, cfg.num_hashes)
    cand = _index_join_pairs(
        spark,
        p["keys"],
        new_keys,
        new_state.select("conv_id"),
        "block_key",
        "conv_id",
        cfg.max_block,
    )
    return cand, new_keys


# The scope releases every persist the batch takes (the new keys) when
# the body returns OR raises: a failed write must not leave them cached
# for the session.
@cache_scope()
def _incremental_batch(
    spark: SparkSession, batch_df: DataFrame, cfg: PipelineConfig, p: dict
) -> None:
    new_state = assemble_state(batch_df, cfg)
    if new_state.isEmpty():
        return
    # The guard writes the marker into a fresh dir, so it lands BEFORE
    # the first state append: a crash between the two must not leave
    # compatible state that the guard then rejects as pre-versioning.
    os.makedirs(p["state"], exist_ok=True)
    check_state_version(p["state"])
    have_state = _has_parquet(p["state"])

    cand, new_keys = incremental_candidates(spark, new_state, p, cfg)
    new_keys = scoped_persist(new_keys)
    # Scoring still reads the state table — candidate pairs need the
    # OLD side's series payload. That is a payload fetch (column-
    # pruned, join-filtered), not a recompute.
    full = _with_stored(spark, p["state"], new_state)
    if cfg.length_ratio_max is not None:
        # the same comparison cleaning run_pipeline's blocking applies
        cand = length_filter_pairs(cand, full, cfg.length_ratio_max)
    # Write order is the crash-safety contract: scored -> keys ->
    # state. The stream checkpoint commits only after this function
    # returns, so a crash replays the whole batch; the replay is
    # idempotent at every cut point (already-scored pairs are
    # anti-joined away, replayed key rows are absorbed by the
    # distinct-count pruning and pair-level dropDuplicates, and the
    # state append is guarded by a conv_id anti-join below).
    score_new_pairs(cand, full, cfg, p["scored"])
    new_keys.write.mode("append").parquet(p["keys"])
    state_rows = new_state
    if have_state:
        # replay guard: a crash after the state append but before the
        # stream-checkpoint commit replays the batch; without this
        # narrow (conv_id-only) anti-join the replay would append the
        # same conversations twice.
        state_rows = new_state.join(
            spark.read.parquet(p["state"]).select("conv_id"),
            "conv_id",
            "left_anti",
        )
    state_rows.write.mode("append").parquet(p["state"])


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """Stream transcript parquet files from ``input_dir``; process
    available data and stop (availableNow trigger). Returns the query.
    """
    cfg = cfg or PipelineConfig()
    p = _paths(work_dir)
    return _drain(
        spark,
        input_dir,
        TRANSCRIPT_SCHEMA,
        work_dir,
        lambda batch_df: _incremental_batch(spark, batch_df, cfg, p),
        max_files_per_trigger,
        await_termination,
    )


def _index_join_pairs(
    spark: SparkSession,
    index_dir: str,
    new_keys: DataFrame,
    new_ids: DataFrame,
    key: str,
    id_col: str,
    max_size: int,
) -> DataFrame:
    """The incremental index join shared by ER ingest and doc dedup:
    the persisted (``id_col``, ``key``) index at ``index_dir`` plus
    ``new_keys`` -> pairs (``{id_col}_a`` < ``{id_col}_b``) that share a
    key and have at least one side in ``new_ids``.

    Only keys a new row carries are read past the index scan; the rest
    is the batch blocking's ``cap_blocks`` + ``block_pairs`` with one
    side restricted to ``new_ids``. The cap counts distinct ids, so a
    replayed batch (a crash between the index append and the stream
    checkpoint commit) cannot inflate a key past it."""
    all_keys = _with_stored(spark, index_dir, new_keys)
    hot = new_keys.select(key).dropDuplicates([key])
    touched = all_keys.join(hot, key, "left_semi")
    kept, _ = cap_blocks(touched, key, id_col, max_size)
    return block_pairs(kept, key, id_col, new_ids)


def _compact_dir(
    spark: SparkSession,
    path: str,
    dedup_cols: list[str],
    n_files: int,
    partition_col: str | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet dir to ``n_files`` files, deduped on
    ``dedup_cols``; returns (files_before, files_after). Swap is two
    renames — run with the stream stopped (documented, not enforced).

    ``partition_col``: preserve a hive-partitioned layout (e.g. the
    dedup shingle store's doc_id buckets, whose partition pruning the
    verification fetch depends on); rows are repartitioned BY that
    column so each partition directory compacts to ONE file —
    ``n_files`` is ignored on this path (the file count is the number
    of non-empty partitions). The dedup shingle store hash-buckets
    doc_ids into a fixed bucket count, so per-bucket volume stays
    balanced; a layout with genuinely hot partitions would want a salt
    column added to the repartition to bound per-partition file size."""
    import shutil

    def _n_parquet(d: str) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    before = _n_parquet(path)
    df = spark.read.parquet(path).dropDuplicates(dedup_cols)
    tmp = path + "._compact_tmp"
    if partition_col is not None:
        df.repartition(F.col(partition_col)).write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # preserve underscore-prefixed sidecars (the version marker)
    for f in os.listdir(path):
        if f.startswith("_") and os.path.isfile(os.path.join(path, f)):
            shutil.copy2(os.path.join(path, f), os.path.join(tmp, f))
    old = path + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    # drop Spark's cached file listing for the path — readers planned
    # before the swap would otherwise chase the deleted file names
    spark.catalog.refreshByPath(path)
    return before, _n_parquet(path)


def compact_stream_state(
    spark: SparkSession, work_dir: str, target_files: int | None = None
) -> dict:
    """Maintenance pass for a long-lived streaming work dir, ER ingest or
    doc dedup alike: every microbatch appends one file-set to each
    table, so after thousands of batches the per-batch narrow scans pay
    footer/listing overhead per tiny file (the classic streaming
    small-files problem). Rewrites every registered table present in
    ``work_dir`` to ``target_files`` files (default: the session's
    shuffle partitions), deduping replay artifacts on the table's
    ``_TABLES`` columns — the row sets every reader already dedups to,
    so answers are unchanged. The dedup shingle store keeps its
    doc_id-bucket partitioning (the verification fetch's partition
    pruning depends on it).

    Run while the stream is STOPPED — the directory swap is two
    renames, and a concurrent append between them would be lost.
    Returns {table: {"files_before": n, "files_after": m}}.
    """
    p = _paths(work_dir)
    n = target_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out = {}
    for name, (_, cols, partition_col) in _TABLES.items():
        if os.path.isdir(p[name]):
            before, after = _compact_dir(spark, p[name], cols, n, partition_col)
            out[name] = {"files_before": before, "files_after": after}
    return out


def finalize(
    spark: SparkSession,
    work_dir: str,
    cfg: PipelineConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch epilogue over the accumulated stream state: threshold the
    scored log and run connected components over the state dir's
    conv_ids. Streaming has no labeled calibration, so the cut is
    ``match_threshold`` without labels — the same rule ``run_pipeline``
    applies. Returns (edges, clusters)."""
    cfg = cfg or PipelineConfig()
    p = _paths(work_dir)
    scored = read_scored(spark, p["scored"])
    thr, _ = match_threshold(scored, cfg)
    edges = scored.where(F.col(cfg.score_col) <= F.lit(thr))
    state = spark.read.parquet(p["state"])
    clusters, _ = assign_clusters(
        state.select("conv_id").dropDuplicates(["conv_id"]), edges
    )
    return edges, clusters
