"""Deterministic synthetic transcript corpus with planted duplicates.

The engine's ground-truth generator (seed 42, matching the reference's
``RandomState(42)`` convention — /root/reference/reference_implementation/
generate_ref_input.py:9-19 and tests/test_basic.py:16). Produces the
``transcripts`` table of BASELINE.json's ``input_hint`` shape
(conv_id, turn_idx, role, text, tool, ts) plus a ``labeled_pairs``
evaluation table (FIXTURES.md §1-2): for a seeded fraction of
conversations we emit 1-2 variants with (a) word-level paraphrases,
(b) inserted/deleted turns (TWED's delete ops), and (c) jittered
timestamps — the transcript analog of the reference batch test's
"half-of-B-is-zeros" known-answer construction
(/root/reference/tests/test_batch.py:44-54).

Conversations are grouped into shared *topics* so that non-matching
conversations still collide in MinHash/LSH blocks — giving the labeled
negatives a "shared blocking key" as the north rule requires.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from numpy.random import RandomState

ROLES = ["user", "assistant"]
TOOLS = ["search", "browser", "python", "bash", "editor"]

_BASE_WORDS = (
    "the a to of and in for on with from into over under query table join "
    "filter scan sort group window batch stream shard replica index cache "
    "commit merge split hash range key value row column plan stage task "
    "node driver executor memory disk network file block page buffer log "
    "error retry timeout limit offset count sum mean total delta ratio "
    "model train eval score label match cluster pair edge graph path walk "
    "read write open close send receive parse format encode decode pack "
    "small large fast slow hot cold new old next prev first last best worst"
).split()


def _vocab(rng: RandomState, extra: int = 320) -> list[str]:
    syll = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne", "po", "ra", "su", "ti", "vo", "ze"]
    words = list(_BASE_WORDS)
    for _ in range(extra):
        k = rng.randint(2, 5)
        words.append("".join(syll[rng.randint(0, len(syll))] for _ in range(k)))
    return words


def _make_turn_text(rng: RandomState, topic_words: list[str], n_words: int) -> str:
    idx = rng.randint(0, len(topic_words), size=n_words)
    return " ".join(topic_words[i] for i in idx)


def _gen_base_conversation(
    rng: RandomState, topic_words: list[str], max_turns: int, turn_p: float = 0.12
):
    """One conversation: list of (role, text, tool, gap_seconds)."""
    n_turns = int(min(max_turns, 4 + rng.geometric(turn_p)))
    turns = []
    for t in range(n_turns):
        role = ROLES[t % 2]
        use_tool = role == "assistant" and rng.rand() < 0.3
        tool = TOOLS[rng.randint(0, len(TOOLS))] if use_tool else ""
        if use_tool:
            role = "tool"
        n_words = 4 + int(rng.geometric(0.25))
        text = _make_turn_text(rng, topic_words, n_words)
        gap = float(np.round(5.0 + rng.exponential(25.0), 3))
        turns.append((role, text, tool, gap))
    return turns


def _variant_of(rng: RandomState, turns, topic_words: list[str]):
    """Duplicate variant: paraphrase some turns, insert/delete turns,
    jitter timestamps. Edits are small so TWED stays below threshold."""
    out = []
    for role, text, tool, gap in turns:
        if rng.rand() < 0.15:  # delete turn (TWED delete op)
            continue
        words = text.split()
        if rng.rand() < 0.35 and len(words) > 2:  # paraphrase 1-2 words
            for _ in range(rng.randint(1, 3)):
                words[rng.randint(0, len(words))] = topic_words[rng.randint(0, len(topic_words))]
            text = " ".join(words)
        gap = max(1.0, gap + float(np.round(rng.randn() * 2.0, 3)))
        out.append((role, text, tool, gap))
        if rng.rand() < 0.06:  # insert a short turn
            out.append(
                ("user", _make_turn_text(rng, topic_words, 4), "", float(np.round(5.0 + rng.exponential(10.0), 3)))
            )
    if not out:  # never emit an empty conversation
        out.append(turns[0])
    return out


def synth_corpus(
    n_conversations: int = 200,
    dup_fraction: float = 0.35,
    convs_per_topic: int = 5,
    max_turns: int = 48,
    turn_p: float = 0.12,
    seed: int = 42,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (transcripts, labeled_pairs) pandas frames.

    transcripts: conv_id, turn_idx(int32), role, text, tool, ts(datetime)
    labeled_pairs: conv_id_a < conv_id_b, is_match(bool), block_key
    (positives = planted variants; negatives = same-topic distinct
    conversations, which share LSH blocks by construction).
    """
    rng = RandomState(seed)
    vocab = _vocab(rng)
    n_topics = max(1, n_conversations // convs_per_topic)
    topics = [
        [vocab[i] for i in rng.choice(len(vocab), size=28, replace=False)]
        for _ in range(n_topics)
    ]

    rows = []
    pairs = []
    t0 = datetime(2025, 1, 1)
    by_topic: dict[int, list[str]] = {}

    def emit(conv_id: str, turns, start: datetime):
        ts = start
        for i, (role, text, tool, gap) in enumerate(turns):
            ts = ts + timedelta(seconds=gap)
            rows.append((conv_id, np.int32(i), role, text, tool, ts))

    for c in range(n_conversations):
        tid = int(rng.randint(0, n_topics))
        conv_id = f"c{c:06d}"
        turns = _gen_base_conversation(rng, topics[tid], max_turns, turn_p)
        start = t0 + timedelta(minutes=7 * c)
        emit(conv_id, turns, start)
        by_topic.setdefault(tid, []).append(conv_id)

        if rng.rand() < dup_fraction:
            n_var = 1 + int(rng.rand() < 0.25)
            group = [conv_id]
            for v in range(n_var):
                vid = f"c{c:06d}d{v}"
                emit(vid, _variant_of(rng, turns, topics[tid]), start + timedelta(hours=1 + v))
                group.append(vid)
            # every pair within the duplicate group is a positive
            # (variant-variant pairs are true duplicates too)
            for i in range(len(group)):
                for jj in range(i + 1, len(group)):
                    a, b = sorted((group[i], group[jj]))
                    pairs.append((a, b, True, f"topic-{tid:05d}"))

    # Labeled negatives: ALL same-topic distinct base conversations —
    # these share LSH blocks by construction, so they are the hard
    # negatives the north_rule's "shared blocking key" clause demands.
    for tid, ids in by_topic.items():
        for i in range(len(ids)):
            for jj in range(i + 1, len(ids)):
                a, b = sorted((ids[i], ids[jj]))
                pairs.append((a, b, False, f"topic-{tid:05d}"))

    transcripts = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    labeled = pd.DataFrame(
        pairs, columns=["conv_id_a", "conv_id_b", "is_match", "block_key"]
    ).drop_duplicates(["conv_id_a", "conv_id_b"])
    return transcripts, labeled


def write_corpus(out_dir: str, n_conversations: int, seed: int = 42, **kw) -> None:
    """Materialize the corpus as parquet (transcripts.parquet,
    labeled_pairs.parquet) for reuse by tests and bench."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    transcripts, labeled = synth_corpus(n_conversations, seed=seed, **kw)
    # microsecond timestamps: Spark cannot read TIMESTAMP(NANOS) parquet
    transcripts = transcripts.assign(ts=transcripts["ts"].astype("datetime64[us]"))
    transcripts.to_parquet(os.path.join(out_dir, "transcripts.parquet"), index=False)
    labeled.to_parquet(os.path.join(out_dir, "labeled_pairs.parquet"), index=False)

