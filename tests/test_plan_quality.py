"""Physical-plan regression tests: the plan properties ARCHITECTURE.md
claims (pushdown, pruning, broadcast, no Python before scoring) are
asserted here so a refactor can't silently regress them."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df, mode="formatted"):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jmode.fromString(mode))


@pytest.fixture(scope="module")
def small_corpus(spark):
    from cutwed_spark.sources.synth import synth_corpus

    tr, _ = synth_corpus(60)
    return spark.createDataFrame(tr)


def test_featurize_is_jvm_only(small_corpus):
    """No Python evaluation node anywhere before the scoring boundary."""
    from cutwed_spark.operators.featurize import with_turn_features

    plan = _plan(with_turn_features(small_corpus, 8))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_one_pass_assembly_single_exchange(spark, small_corpus):
    """repartition(conv_id) doubles as the groupBy pre-shuffle: the
    merged assembly+signature tree holds exactly one Exchange and no
    join — the whole point of folding the signature aggregation into
    the assembly groupBy."""
    from cutwed_spark.operators.assemble import assemble_with_signatures

    tr = small_corpus.repartition(8, "conv_id")
    plan = _plan(assemble_with_signatures(tr, 8, 64), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_scoring_uses_shuffled_hash_join(spark, small_corpus):
    """The series-attachment joins skip SortMergeJoin's payload sort."""
    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.operators.blocking import build_candidate_pairs_from_state
    from cutwed_spark.operators.scoring import attach_series

    tr = small_corpus.repartition(8, "conv_id")
    series = assemble_with_signatures(tr, 8, 64)
    pairs, _ = build_candidate_pairs_from_state(series)
    plan = _plan(attach_series(pairs, series))
    # the two top-level attachment joins must be hash joins (shuffled
    # or broadcast if AQE upgrades), never sort-merge over the arrays
    head = plan.split("InMemoryTableScan")[0]
    assert "ShuffledHashJoin" in head or "BroadcastHashJoin" in head
    assert "SortMergeJoin" not in head.split("=== Physical Plan ===")[-1].split(
        "Exchange"
    )[0] or "ShuffledHashJoin" in head


def test_plan_build_round_trip_budget(spark, small_corpus, monkeypatch):
    """Building the assemble and block-key plans (no action) stays within
    1,500 py4j round trips. Every ``F.*`` call costs about 6 round trips
    and every Python-lambda fold about 60, so a builder that goes back
    from SQL text to Column trees and lambdas (about 9-10k here) fails."""
    import gc

    from py4j.java_gateway import GatewayClient

    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.operators.blocking import block_keys_from_state

    def build():
        block_keys_from_state(assemble_with_signatures(small_corpus))

    build()  # first build: one-time JVM class and function lookups
    gc.collect()
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    build()
    gc.collect()  # the freed Java handles cost a round trip each
    monkeypatch.undo()
    assert calls[0] <= 1500, calls[0]


def test_parquet_pushdown_and_pruning(spark, tmp_path):
    """Filters reach the parquet scan; the scan reads only used columns."""
    p = str(tmp_path / "t")
    spark.range(100).select(
        "id",
        (F.col("id") * 2.0).alias("a"),
        F.lit("x").alias("b"),
        F.lit("y").alias("c"),
    ).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("id") > 10).select("id", "a")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,10)]" in plan
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "id:" in schema_line and "a:" in schema_line
    assert "b:" not in schema_line and "c:" not in schema_line


def test_no_forced_broadcast_on_unbounded_sides(spark, small_corpus):
    """The rare-shingle list (dedup) and the kept-block-key list
    (blocking) grow with the corpus — no broadcast HINT may be forced on
    them (AQE may still choose broadcast at runtime when sizes fit)."""
    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.operators.blocking import (
        DEFAULT_MAX_BLOCK,
        block_keys_from_state,
        cap_blocks,
    )
    from cutwed_spark.operators.dedup import ngram_jaccard_pairs

    docs = small_corpus.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    )
    analyzed = str(
        ngram_jaccard_pairs(docs)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in analyzed, "forced broadcast hint in dedup"
    kept, _ = cap_blocks(
        block_keys_from_state(assemble_with_signatures(small_corpus)),
        "block_key",
        "conv_id",
        DEFAULT_MAX_BLOCK,
    )
    analyzed = str(kept._jdf.queryExecution().analyzed().toString())
    assert "ResolvedHint" not in analyzed, "forced broadcast hint in blocking"


def test_ivf_centroid_selection_is_take_ordered(spark):
    """IVF centroid pick must compile to a distributed TakeOrdered (top
    n_cells by md5), never a global Sort+Exchange of the corpus; the
    assignment join must broadcast the O(n_cells) centroid table."""
    from cutwed_spark.operators.similarity import ivf_assignments

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)],
        "vec_id bigint, embedding array<double>",
    )
    plan = _plan(ivf_assignments(df, n_cells=4, n_probe=2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_events_dim_join_broadcasts(spark, tmp_path):
    """A small dimension side becomes a BroadcastHashJoin."""
    big = spark.range(10_000).select("id", (F.col("id") % 50).alias("k"))
    dim = spark.createDataFrame(
        pd.DataFrame({"k": range(50), "name": [f"n{i}" for i in range(50)]})
    )
    plan = _plan(big.join(dim, "k"))
    assert "BroadcastHashJoin" in plan
