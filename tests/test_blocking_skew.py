"""Skew-bomb coverage: oversized (non-discriminative) blocks are capped,
the drop is surfaced in metrics, and candidate generation never goes
quadratic on boilerplate keys (SURVEY.md §7 hard part 4)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cutwed_spark.operators.assemble import assemble_with_signatures
from cutwed_spark.operators.blocking import (
    build_candidate_pairs_from_state,
    cap_blocks,
)


@pytest.fixture(scope="module")
def boilerplate_corpus(spark):
    """300 conversations that ALL open with the same greeting turn (one
    giant turn-text block) and otherwise have unrelated text."""
    rows = []
    for c in range(300):
        rows.append(
            {
                "conv_id": f"c{c:04d}",
                "turn_idx": 0,
                "role": "assistant",
                "text": "hello how can i help you today",
                "tool": "",
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=c),
            }
        )
        for t in range(1, 4):
            rows.append(
                {
                    "conv_id": f"c{c:04d}",
                    "turn_idx": t,
                    "role": "user" if t % 2 else "assistant",
                    # unique content: no legitimate cross-conv block
                    "text": f"unique topic {c} detail {t} token{c * 7 + t}",
                    "tool": "",
                    "ts": pd.Timestamp("2026-01-01")
                    + pd.Timedelta(seconds=c, milliseconds=t),
                }
            )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_oversized_block_dropped_and_reported(spark, boilerplate_corpus):
    tr = boilerplate_corpus
    series = assemble_with_signatures(tr, 8, 64)
    pairs, stats = build_candidate_pairs_from_state(series, max_block=64)
    st = stats.collect()[0].asDict()
    # the greeting block (300 members) must be among the dropped ones
    assert st["n_dropped_blocks"] >= 1
    assert st["max_block_size"] >= 300
    # without the cap the greeting turn alone yields 300*299/2 = 44850
    # pairs; capped candidate generation must stay far below that
    n_pairs = pairs.count()
    assert n_pairs < 10_000, n_pairs


def test_cap_keeps_small_blocks_intact(spark):
    """The cap counts DISTINCT ids: block 3 holds exactly max_size ids,
    one of them on two rows (a replayed index append), so it is kept
    and reported at size max_size, not dropped as 11 rows."""
    blocks = spark.createDataFrame(
        [(f"c{i}", 1) for i in range(5)]
        + [(f"d{i}", 2) for i in range(100)]
        + [(f"e{i}", 3) for i in range(10)]
        + [("e0", 3)],
        "conv_id string, block_key bigint",
    )
    kept, stats = cap_blocks(blocks, "block_key", "conv_id", max_size=10)
    st = stats.collect()[0].asDict()
    assert st["n_blocks"] == 3
    assert st["n_dropped_blocks"] == 1
    assert st["max_block_size"] == 100
    # 5*4/2 from the small block + 10*9/2 from the one at the cap
    assert st["est_candidate_pairs"] == 10 + 45
    keys = sorted(r["block_key"] for r in kept.select("block_key").distinct().collect())
    assert keys == [1, 3]


def test_length_filter_pairs(spark):
    from cutwed_spark.operators.blocking import length_filter_pairs

    state = spark.createDataFrame(
        [("a", 10), ("b", 12), ("c", 25), ("d", 5)],
        "conv_id string, n_turns int",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("c", "d"), ("a", "d")],
        "conv_id_a string, conv_id_b string",
    )
    kept = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in length_filter_pairs(pairs, state, 2.0).collect()
    }
    # 10:12 kept; 10:25 (>2x) and 25:5 (5x) pruned; 10:5 exactly 2x kept
    assert kept == {("a", "b"), ("a", "d")}
    import pytest

    with pytest.raises(ValueError):
        length_filter_pairs(pairs, state, 0.5)


def test_length_filter_preserves_f1(spark):
    """Opt-in comparison cleaning must not hurt match quality on the
    planted-duplicate corpus (dups differ by small turn edits, so a
    2x length ratio never separates a true pair)."""
    from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
    from cutwed_spark.sources.synth import synth_corpus

    tr, lab = synth_corpus(120)
    cfg = PipelineConfig(length_ratio_max=2.0)
    res = run_pipeline(
        spark, spark.createDataFrame(tr), cfg, labeled=spark.createDataFrame(lab)
    )
    base = run_pipeline(
        spark,
        spark.createDataFrame(tr),
        PipelineConfig(),
        labeled=spark.createDataFrame(lab),
    )
    assert res.evaluation["f1"] >= 0.99
    assert res.metrics["n_scored_pairs"] <= base.metrics["n_scored_pairs"]
