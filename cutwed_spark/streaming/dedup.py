"""Structured-streaming incremental document deduplication.

Batch dedup re-shingles the whole corpus per run; a training-data
corpus GROWS, so this module dedups new document drops incrementally
with ``readStream`` + ``foreachBatch`` (the same indexed-state design
as ``streaming.ingest`` for ER — the reference's device-resident-reuse
principle, /root/reference/src/cuTWED.h:47-53: never recompute what
hasn't changed):

  new doc files -> shingle + digest-split MinHash band keys for the
                   NEW docs only
                -> exact dup edges: md5(normalized text) self-joined
                   with the persisted (dup_hash, doc_id) index by
                   ``block_pairs``, uncapped
                -> near-dup candidates: new band keys joined against
                   the persisted (band_key, doc_id) index, band sizes
                   capped
                -> candidates VERIFIED by exact Jaccard before they are
                   emitted (a band collision must never delete a
                   distinct document — operators/dedup.py contract);
                   old docs' shingles come from the persisted shingle
                   store, which is PARTITIONED BY doc_id bucket so the
                   fetch prunes to the touched buckets instead of
                   scanning the store
                -> append edges + new hashes + new band keys + new
                   shingles

Batch and stream agree on band collisions and Jaccards because both
call the same code: band keys and verification are the batch
operators' ``_band_keys`` and ``_verified_pairs`` (operators/dedup.py),
and the band-index join is ER ingest's ``_index_join_pairs``
(streaming/ingest.py), whose pair self-join is the batch operators'
``block_pairs`` (operators/blocking.py) with the one hot-band cap,
``cap_blocks``; ``tests/test_streaming_dedup.py`` pins the parity.
The work-dir layer is ER ingest's too: its table registry
(``_paths``), drain (``_drain``), stored-plus-new read
(``_with_stored``) and compaction (``compact_stream_state``).

Per-batch cost ~ O(batch + touched neighborhood + touched buckets),
never O(corpus). The stream checkpoint provides exactly-once batch
processing in the usual foreachBatch sense; every state table is
append-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cutwed_spark.cache import cache_scope, scoped_persist
from cutwed_spark.operators.blocking import block_pairs
from cutwed_spark.operators.dedup import (
    _band_keys,
    _verified_pairs,
    doc_shingles,
    normalized_text,
)
from cutwed_spark.streaming.ingest import (
    _drain,
    _index_join_pairs,
    _paths,
    _with_stored,
)

DOC_SCHEMA = "doc_id bigint, text string"

# number of doc_id-hash partitions of the shingle store; the
# verification fetch reads only the buckets of the docs it needs
N_SHINGLE_BUCKETS = 64


def _bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(N_SHINGLE_BUCKETS)).cast("int")


# The scope releases every persist the batch takes when the body
# returns OR raises: a failed write must not leave them cached for the
# session.
@cache_scope()
def _dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    p: dict,
    k: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_band: int = 64,
    min_jaccard: float = 0.5,
) -> None:
    docs = scoped_persist(
        batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
    )

    # --- exact dedup via the persisted hash index ------------------
    h_new = scoped_persist(
        docs.select(F.md5(normalized_text()).alias("dup_hash"), "doc_id")
    )
    all_h = _with_stored(spark, p["hashes"], h_new)
    # no size cap: an exact-duplicate group emits all its pairs however
    # large it is (the band cap bounds near-dup candidates only)
    exact = scoped_persist(
        block_pairs(all_h, "dup_hash", "doc_id", docs.select("doc_id")).select(
            "doc_id_a",
            "doc_id_b",
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # --- near-dup candidates via the persisted band index ----------
    sh_new = scoped_persist(doc_shingles(docs, k))
    keys_new = scoped_persist(_band_keys(sh_new, num_hashes, band_size))
    # exact pairs verify trivially at jaccard 1.0 through the band path
    # (identical docs share every band key), so anti-join them away:
    # each exact pair is emitted exactly once with kind='exact', and no
    # shingle-intersection work is spent on pairs already known
    # identical. This batch's `exact` set is complete for the purpose:
    # every candidate has >=1 new side, and any exact dup touching a
    # new doc is caught above via the hash index.
    cand = _index_join_pairs(
        spark,
        p["bands"],
        keys_new,
        docs.select("doc_id"),
        "band_key",
        "doc_id",
        max_band,
    ).join(
        exact.select("doc_id_a", "doc_id_b"),
        ["doc_id_a", "doc_id_b"],
        "left_anti",
    )

    # --- verification: exact Jaccard over the shingle sets ---------
    # old docs' shingles come from the bucketed store with partition
    # pruning: only the buckets of the docs the candidates touch are
    # read, never the whole store.
    need = scoped_persist(
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc_id")))
        .dropDuplicates(["doc_id"])
        .join(docs.select("doc_id"), "doc_id", "left_anti")  # old docs only
    )
    if os.path.isdir(p["shingles"]):
        bkts = [r["b"] for r in need.select(_bucket("doc_id").alias("b")).distinct().collect()]
        old_sh = (
            spark.read.parquet(p["shingles"])
            .where(F.col("bkt").isin(bkts) if bkts else F.lit(False))
            .join(need, "doc_id", "left_semi")
            .select("doc_id", "shingle")
        )
        sh_all = sh_new.unionByName(old_sh)
    else:
        sh_all = sh_new
    # Replay safety: a foreachBatch crash-replay (at-least-once) or a
    # doc_id re-delivered across drops re-appends that doc's shingle
    # rows to the store; row-counted sizes/intersections would then
    # inflate asymmetrically and can flip the min_jaccard decision.
    # Dedup on (doc_id, shingle) first so both aggregates count SETS,
    # matching the band cap's count_distinct convention.
    verified = _verified_pairs(
        cand, sh_all.dropDuplicates(["doc_id", "shingle"]), min_jaccard
    ).select("doc_id_a", "doc_id_b", F.lit("near").alias("kind"), "jaccard")

    # --- append outputs and state -----------------------------------
    # edges first (replays overwrite-by-append and are deduped by
    # readers on (doc_id_a, doc_id_b, kind)); state appends last so a
    # crash mid-batch replays the batch against the old state.
    exact.unionByName(verified).write.mode("append").parquet(p["edges"])
    h_new.write.mode("append").parquet(p["hashes"])
    keys_new.write.mode("append").parquet(p["bands"])
    (
        sh_new.withColumn("bkt", _bucket("doc_id"))
        .write.mode("append")
        .partitionBy("bkt")
        .parquet(p["shingles"])
    )


def run_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    k: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_band: int = 64,
    min_jaccard: float = 0.5,
):
    """Stream document parquet files from ``input_dir``; process
    available data and stop (availableNow trigger). Returns the query.

    Outputs under ``work_dir``: ``dup_edges`` (doc_id_a, doc_id_b,
    kind in {'exact','near'}, jaccard), plus the append-only state
    tables (``dup_hashes``, ``band_keys``, bucketed ``shingles``).
    """
    p = _paths(work_dir)
    return _drain(
        spark,
        input_dir,
        DOC_SCHEMA,
        work_dir,
        lambda batch_df: _dedup_batch(
            spark,
            batch_df,
            p,
            k=k,
            num_hashes=num_hashes,
            band_size=band_size,
            max_band=max_band,
            min_jaccard=min_jaccard,
        ),
    )
