"""Crash-replay idempotence for both streaming modules.

foreachBatch commits the stream checkpoint only AFTER the batch
function returns, so any crash replays the WHOLE batch against state
that may already contain that batch's appends (at-least-once). The
write-order contracts (ingest.py scored->keys->state;
streaming/dedup.py edges->hashes->bands->shingles) argue each cut
point is idempotent; these tests EXECUTE the worst cut point — the
full batch re-run after all appends landed — and assert the
reader-visible answer is identical to a clean (no-crash) run.
"""

import os

import numpy as np
import pytest

from cutwed_spark.plans.pipeline import PipelineConfig
from cutwed_spark.sources.synth import synth_corpus
from cutwed_spark.streaming.dedup import _dedup_batch
from cutwed_spark.streaming.dedup import _paths as dedup_paths
from cutwed_spark.streaming.ingest import _incremental_batch, finalize
from cutwed_spark.streaming.ingest import _paths as ingest_paths

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill every single afternoon"
)
NEAR = BASE.replace("warm", "cold")


def _edge_map(spark, p):
    """Reader-visible dedup edges: deduped on (a, b, kind) -> jaccard."""
    rows = spark.read.parquet(p["edges"]).dropDuplicates(
        ["doc_id_a", "doc_id_b", "kind"]
    )
    return {
        (r["doc_id_a"], r["doc_id_b"], r["kind"]): r["jaccard"]
        for r in rows.collect()
    }


def _run_dedup(spark, work, batches, replay_first=False):
    p = dedup_paths(work)
    os.makedirs(work, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        _dedup_batch(spark, df, p)
        if replay_first and i == 0:
            _dedup_batch(spark, df, p)  # crash-replay of the same batch
    return p


def test_dedup_batch_replay_idempotent(spark, tmp_path):
    """Replaying batch 1 (so every state table holds its rows twice)
    must not change any edge and — the ADVICE-flagged failure — must
    not corrupt the verified Jaccard of a LATER batch's near-dup,
    whose sizes/intersections read the (now duplicated) shingle store.
    """
    batches = [
        [(0, BASE), (1, BASE)],  # exact pair within batch 1
        [(2, NEAR)],             # near dup of 0/1, verified vs the store
    ]
    p_clean = _run_dedup(spark, str(tmp_path / "clean"), batches)
    p_replay = _run_dedup(
        spark, str(tmp_path / "replay"), batches, replay_first=True
    )
    clean, replay = _edge_map(spark, p_clean), _edge_map(spark, p_replay)
    assert clean == replay
    # the near-dup jaccard is a real fraction, not inflated past 1.0 or
    # doubled by duplicated shingle rows
    near = {k: v for k, v in clean.items() if k[2] == "near"}
    assert near and all(0.5 <= j < 1.0 for j in near.values())


def test_dedup_exact_pairs_not_reemitted_as_near(spark, tmp_path):
    """Identical docs share every band key and would verify at
    jaccard 1.0 through the near path; the exact set must be
    anti-joined away so each exact pair carries kind='exact' only."""
    p = _run_dedup(spark, str(tmp_path / "w"), [[(0, BASE), (1, BASE)]])
    edges = _edge_map(spark, p)
    assert (0, 1, "exact") in edges
    assert (0, 1, "near") not in edges


@pytest.fixture(scope="module")
def er_batches():
    tr, _ = synth_corpus(40)
    tr = tr.assign(ts=tr["ts"].astype("datetime64[us]"))
    convs = sorted(tr.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    return tr[tr.conv_id.isin(half)], tr[~tr.conv_id.isin(half)]


def _run_ingest(spark, work, batches, cfg, replay_first=False):
    p = ingest_paths(work)
    os.makedirs(work, exist_ok=True)
    for i, pdf in enumerate(batches):
        df = spark.createDataFrame(pdf)
        _incremental_batch(spark, df, cfg, p)
        if replay_first and i == 0:
            _incremental_batch(spark, df, cfg, p)
    return p


@pytest.mark.parametrize("module", ["ingest", "dedup"])
def test_failed_microbatch_releases_its_persists(
    spark, tmp_path, er_batches, monkeypatch, module
):
    """A write that raises inside a microbatch must not leave the frames
    the batch persisted cached for the session: both batch bodies run in
    a cache_scope, which releases on a raise as on a return."""
    from pyspark.storagelevel import StorageLevel

    df_type, writer_type = type(spark.range(1)), type(spark.range(1).write)
    persisted = []
    real_persist = df_type.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def failing_write(self, *args, **kwargs):
        raise OSError("write failed")

    monkeypatch.setattr(df_type, "persist", recording_persist)
    monkeypatch.setattr(writer_type, "parquet", failing_write)
    work = str(tmp_path / "w")
    os.makedirs(work)
    with pytest.raises(OSError, match="write failed"):
        if module == "ingest":
            batch = spark.createDataFrame(er_batches[0])
            _incremental_batch(spark, batch, PipelineConfig(), ingest_paths(work))
        else:
            batch = spark.createDataFrame(
                [(0, BASE), (1, BASE), (2, NEAR)], "doc_id bigint, text string"
            )
            _dedup_batch(spark, batch, dedup_paths(work))
    assert persisted
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_ingest_batch_replay_idempotent(spark, tmp_path, er_batches):
    """Re-running _incremental_batch on an already-committed batch must
    leave the state table row-identical (conv anti-join guard), add no
    duplicate scored pairs, and keep finalize()'s edges/clusters and
    twed scores identical to a clean run."""
    cfg = PipelineConfig(threshold=0.5)
    b1, b2 = er_batches
    _run_ingest(spark, str(tmp_path / "clean"), [b1, b2], cfg)
    p = _run_ingest(
        spark, str(tmp_path / "replay"), [b1, b2], cfg, replay_first=True
    )

    def snap(work):
        e, c = finalize(spark, work, cfg)
        edges = {
            (r["conv_id_a"], r["conv_id_b"]): r["twed"] for r in e.collect()
        }
        clusters = {r["conv_id"]: r["cluster_id"] for r in c.collect()}
        return edges, clusters

    e_clean, c_clean = snap(str(tmp_path / "clean"))
    e_replay, c_replay = snap(str(tmp_path / "replay"))
    assert set(e_clean) == set(e_replay)
    for k in e_clean:
        assert np.isclose(e_clean[k], e_replay[k], rtol=1e-12)
    assert c_clean == c_replay
    # state append guard: each conversation exactly once despite replay
    state = spark.read.parquet(p["state"])
    assert state.count() == state.select("conv_id").distinct().count()
    # scored pairs not duplicated by the replay (anti-join vs prior)
    scored = spark.read.parquet(p["scored"])
    assert (
        scored.count()
        == scored.select("conv_id_a", "conv_id_b").distinct().count()
    )
