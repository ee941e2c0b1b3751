"""Bit-for-bit pin of the conversation state table and its block keys.

The ER goldens round scores to 4 decimal places and never read ``sig``,
``wsig`` or ``text_hashes``; these digests cover every column of
``assemble_with_signatures``, of ``block_keys_from_state`` applied to
it, and of the time-scaled ``attach_series`` payload, so a rewrite of
the expression builders that changes any bit of any row fails here.
``with_turn_features`` is pinned on its own too: ``values_flat`` stores
the features as float32, which would hide a change in the low bits of
the double features.

Each digest is (row count, bit_xor of a per-row xxhash64, sum of the
hash's low 16 bits): the xor is order-free, the low-bit sum keeps a
duplicated row from cancelling out. The per-row hash also covers a
null mask, because xxhash64 skips null inputs.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

# (conv_id, turn_idx, role, text, tool): null, empty and whitespace-only
# text, turns shorter than shingle_k words, null and empty tool, an
# all-null-text conversation, mixed case, punctuation, non-ASCII, and
# roles outside the known four.
_EDGE_TURNS = [
    ("e_null", 0, "user", None, None),
    ("e_null", 1, "assistant", "Hello world, again there!", ""),
    ("e_null", 2, "tool", "", "search"),
    ("e_ws", 0, "user", "   \t  ", None),
    ("e_ws", 1, "assistant", "two words", ""),
    ("e_ws", 2, "tool", "one", "bash"),
    ("e_ws", 3, "system", "Café ÜBER  über; café? ok.", None),
    ("e_allnull", 0, "user", None, None),
    ("e_allnull", 1, "tool", None, "python"),
    ("e_allnull", 2, None, None, ""),
    ("e_short", 0, "user", "hi there", ""),
    ("e_empty", 0, "user", "", ""),
    ("e_empty", 1, "operator", "  ", "editor"),
]


def _corpus(spark):
    from cutwed_spark.sources.synth import synth_corpus

    tr, _ = synth_corpus(60)
    t0 = pd.Timestamp("2025-03-01")
    edge = pd.DataFrame(
        [
            (c, i, r, x, tool, t0 + pd.Timedelta(seconds=37 * i + len(c)))
            for c, i, r, x, tool in _EDGE_TURNS
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    pdf = pd.concat([tr, edge], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf = pdf.astype({"role": object, "text": object, "tool": object})
    pdf = pdf.where(pd.notna(pdf), None)
    return spark.createDataFrame(pdf, _SCHEMA)


def digest(df):
    cols = [F.col(c) for c in df.columns]
    mask = F.concat_ws("", *[c.isNull().cast("int").cast("string") for c in cols])
    h = F.xxhash64(*cols, mask)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFF))).alias("s"),
    ).first()
    return (row["n"], row["x"], row["s"])


# (assemble kwargs, block_keys_from_state kwargs)
CONFIGS = {
    "default": ({}, {}),
    "sliced_k1": (
        dict(
            n_buckets=16,
            max_turns=4,
            bucket_scale=0.5,
            role_scale=2.0,
            num_hashes=16,
            shingle_k=1,
            word_num_hashes=4,
            short_conv_turns=3,
        ),
        dict(band_size=4, num_hashes=16, word_num_hashes=4),
    ),
}

EXPECTED = {
    "default": {
        "feat": (911, -8442213372034727042, 29851630),
        "state": (89, 5432006249280532273, 2829787),
        "keys": (2652, 2246202173484382431, 86699019),
        "attach": (88, 7621609472299211778, 2862008),
    },
    "sliced_k1": {
        "feat": (911, -7245161189788183192, 29800120),
        "state": (89, 4578884070239140759, 2663005),
        "keys": (744, 2408204973961350862, 24544624),
        "attach": (88, 5691782916012576230, 2810458),
    },
}


def compute(spark, name):
    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.operators.blocking import block_keys_from_state
    from cutwed_spark.operators.featurize import with_turn_features
    from cutwed_spark.operators.scoring import attach_series

    akw, bkw = CONFIGS[name]
    corpus = _corpus(spark)
    fkw = {k: akw[k] for k in ("n_buckets", "bucket_scale", "role_scale") if k in akw}
    feat = digest(with_turn_features(corpus, **fkw))
    state = assemble_with_signatures(corpus, **akw).persist()
    try:
        ids = sorted(r["conv_id"] for r in state.select("conv_id").collect())
        pairs = spark.createDataFrame(
            list(zip(ids[:-1], ids[1:])), "conv_id_a string, conv_id_b string"
        )
        return {
            "feat": feat,
            "state": digest(state),
            "keys": digest(block_keys_from_state(state, **bkw)),
            "attach": digest(attach_series(pairs, state, time_scale=1.0 / 60.0)),
        }
    finally:
        state.unpersist()


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_state_and_block_key_digests(spark, name):
    assert compute(spark, name) == EXPECTED[name]
