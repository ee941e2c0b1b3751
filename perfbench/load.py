"""Seeded load generator for the benchmark workloads.

Every corpus comes from ``cutwed_spark.sources.synth.synth_corpus`` with
the benchmark's ``--seed`` and is written once per ``(workload, size, seed)``
under the benchmark's cache directory; later runs with the same seed read
the cached parquet. Generation happens before the engine is timed and is
never part of an engine metric.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from cutwed_spark.sources.synth import synth_corpus

# Workload name -> synth_corpus keyword arguments (besides the seed).
CORPORA = {
    "batch-small": {"n_conversations": 500},
    "stream": {"n_conversations": 500},
}
STREAM_DROPS = 2


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark cannot read TIMESTAMP(NANOS) parquet
    if "ts" in df.columns:
        df = df.assign(ts=df["ts"].astype("datetime64[us]"))
    df.to_parquet(path, index=False)


def _drop_of(conv_ids: pd.Series, n_drops: int) -> pd.Series:
    """Conversation-complete drop index per conv_id.

    Base conversations ``cNNNNNN`` spread round-robin over the drops; a
    base that has duplicate variants (``cNNNNNNd<k>``) lands in one of
    the first ``n_drops - 1`` drops and its variants land in the drop
    right after it, so every planted duplicate pair spans two
    consecutive microbatches.
    """
    base = conv_ids.str.slice(0, 7)
    num = base.str.slice(1).astype(int)
    is_variant = conv_ids.str.len() > 7
    has_variant = base.isin(set(base[is_variant]))
    drop = (num % n_drops).where(~has_variant, num % (n_drops - 1))
    return drop + is_variant.astype(int)


def prepare(
    workload: str, seed: int, cache_root: str, n_conversations: int | None = None
) -> dict:
    """Write (or reuse) the workload's inputs; return their paths.

    ``n_conversations`` overrides the workload's corpus size (tests).

    Returns ``{"dir", "transcripts", "labeled"}`` and, for ``stream``,
    ``"drops"`` (a directory of flat ``drop_NNN.parquet`` files).
    """
    if workload not in CORPORA:
        raise ValueError(f"unknown workload {workload!r}; one of {sorted(CORPORA)}")
    kw = dict(CORPORA[workload])
    if n_conversations is not None:
        kw["n_conversations"] = n_conversations
    tag = f"n{kw['n_conversations']}" + (f"-d{STREAM_DROPS}" if workload == "stream" else "")
    out = os.path.join(cache_root, f"{workload}-{tag}-seed{seed}")
    paths = {
        "dir": out,
        "transcripts": os.path.join(out, "transcripts.parquet"),
        "labeled": os.path.join(out, "labeled_pairs.parquet"),
    }
    if workload == "stream":
        paths["drops"] = os.path.join(out, "drops")
    done = os.path.join(out, "_DONE")
    if os.path.isfile(done):
        return paths
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    transcripts, labeled = synth_corpus(seed=seed, **kw)
    _write_parquet(transcripts, os.path.join(tmp, "transcripts.parquet"))
    _write_parquet(labeled, os.path.join(tmp, "labeled_pairs.parquet"))
    if workload == "stream":
        os.makedirs(os.path.join(tmp, "drops"))
        drop = _drop_of(transcripts["conv_id"], STREAM_DROPS)
        for i in range(STREAM_DROPS):
            _write_parquet(
                transcripts[drop == i],
                os.path.join(tmp, "drops", f"drop_{i:03d}.parquet"),
            )
    os.rename(tmp, out)
    open(done, "w").close()
    return paths
