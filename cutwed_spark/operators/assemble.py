"""Series assembly: transcripts (one row per turn) -> one row per
conversation with sorted value/time arrays.

The Spark analog of the reference's "dense C-ordered (n, dim) array with
time the slow axis" (/root/reference/README.rst:40-42): per conversation
we build ``values: array<array<double>>`` (n_turns x dim) and
``times: array<double>`` (relative float64 seconds).

Stable ordering invariant: ``collect_list`` order is NOT deterministic
under shuffle, so turns are collected as structs keyed by ``turn_idx``
and ``array_sort``-ed — the per-row invariant the driver checks
(SURVEY.md §7 hard part 6). Never rely on collect_list order.

The projections are SQL text (``selectExpr``, ``F.expr`` inside the
aggregation): built from ``F.*`` calls and Python lambdas they cost
the assemble stage of a warm ``run_pipeline`` 8.1-8.8k py4j round
trips, against 0.5-0.6k as text (ARCHITECTURE.md §1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cutwed_spark.operators.blocking import (
    DEFAULT_WORD_NUM_HASHES,
    per_turn_member_mins,
    shingle_hashes_from_word_hashes,
    signature_from_mins,
    word_hash_sql,
)
from cutwed_spark.operators.featurize import DEFAULT_BUCKETS, with_turn_features


def _stage_turns(collected: DataFrame, max_turns: int | None, keep=()) -> DataFrame:
    """Materialize the (possibly slice-capped) sorted turn array and
    its first timestamp as their OWN aliased projections before the
    series columns reference them. Without this, the ``slice`` tree is
    inlined into every consumer — six references including one INSIDE
    the per-element ``times`` lambda (``t0``), where HOF lambdas get no
    common-subexpression elimination: that re-sliced (copied) the turn
    array once per turn per conversation. Multiply-referenced non-cheap
    aliases also block CollapseProject from undoing the split."""
    turns = "turns" if max_turns is None else f"slice(turns, 1, {max_turns})"
    s1 = collected.selectExpr("conv_id", "n_turns_raw", *keep, f"{turns} AS _turns")
    return s1.selectExpr(
        "conv_id", "n_turns_raw", *keep, "_turns", "_turns[0].t AS _t0"
    )


def _series_columns() -> list[str]:
    """SQL projection from the staged (_turns, _t0, n_turns_raw) columns
    to the series columns (stage with ``_stage_turns`` first). No lambda
    variable may be named like a column its body reads (``_t0``)."""
    return [
        "CAST(size(_turns) AS INT) AS n_turns",
        "CAST(n_turns_raw - size(_turns) AS INT) AS n_truncated",
        # FLAT (n_turns * dim) value buffer — the reference's dense
        # C-ordered layout (README.rst:40-42). One list level fewer
        # halves Arrow offset overhead on the scoring hot path; reshape
        # is free NumPy inside the UDF. Stored as float32: every feature
        # is a small count/ratio (24-bit mantissa exact for the counts,
        # ~1e-7 relative on the ratios), which halves state size and
        # scoring shuffle/transfer bytes; the scoring UDF upcasts to
        # float64 before the DP, so scores stay oracle-exact for these
        # stored values. Times stay float64 (sub-second precision over
        # long conversations).
        "CAST(flatten(transform(_turns, s -> s.feat)) AS ARRAY<FLOAT>) AS values_flat",
        "transform(_turns, s -> s.t - _t0) AS times",
        "transform(_turns, s -> s.text_hash) AS text_hashes",
        "concat_ws('|', filter(transform(_turns, s -> s.tool), x -> x != ''))"
        " AS tool_sig",
    ]


def assemble_with_signatures(
    transcripts: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    max_turns: int | None = 512,
    bucket_scale: float = 1.0,
    role_scale: float = 3.0,
    num_hashes: int = 32,
    shingle_k: int = 3,
    word_num_hashes: int = DEFAULT_WORD_NUM_HASHES,
    short_conv_turns: int = 8,
) -> DataFrame:
    """-> the conversation STATE table (conv_id, n_turns, n_truncated,
    values_flat, times, text_hashes, tool_sig) plus the blocking
    signatures ``sig`` (k-gram minhash) and ``wsig`` (word minhash) in
    ONE aggregation tree: single transcripts scan, single shuffle, zero
    joins.

    * ``times`` are made conversation-relative (t - t_first) so absolute
      epoch offsets never enter the DP (float64 precision at 2025 epochs
      would eat ~6 significant digits otherwise).
    * ``max_turns`` caps DP cost (O(nA*nB) per pair); truncation is
      SURFACED in ``n_truncated`` — no silent truncation
      (SURVEY.md §7 hard part 3).
    * ``tool_sig`` is the exact tool-sequence signature used as a
      blocking axis (north_star: "tool-sequence signatures").
    * ``wsig`` is kept only for short conversations (< short_conv_turns):
      word vocabularies collide heavily across same-domain
      conversations, so the word axis is a recall aid for conversations
      whose k-gram shingle sets are too small to survive banding.

    Signature family: SIGNATURE_FAMILY_VERSION (blocking.py); each word
    is hashed once per turn and feeds both minhash axes.

    Measured negative results: (1) the two-tree formulation (series
    assembly, plus a separate signature aggregation joined onto it)
    scanned the transcripts three times and paid two state-sized joins
    — ~2x slower on the assemble stage at the 100k-conversation bench
    corpus; its code is deleted. (2) Deriving featurize's word-bucket
    ids from the materialized ``wh`` array (pmod(wh, n)) measures
    IDENTICAL (28.8 vs 28.9 s best-of-3 interleaved, 100k subtree,
    bit-identical output): per-element member-min arithmetic and the
    collect+sort aggregation dominate, not the duplicate word hashing,
    so featurize keeps its own independent tree.
    """
    feat = with_turn_features(
        transcripts, n_buckets, bucket_scale=bucket_scale, role_scale=role_scale
    )
    # The wh/shb arrays MUST be materialized as aliased columns in
    # separate projections before the member-min folds reference them:
    # Spark disables common-subexpression elimination inside
    # higher-order-function lambdas, so inlining the expressions into
    # the num_hashes+word_num_hashes folds of ONE projection would
    # re-run the whole word-split+hash+mix tree once per member
    # (measured ~5x on the assemble stage). A producer alias referenced
    # many times by non-cheap consumers also blocks CollapseProject
    # from undoing the split.
    hashed = feat.selectExpr(
        "conv_id",
        "struct(turn_idx, feat, t, text_hash, tool) AS turn",
        f"{word_hash_sql()} AS wh",
    ).selectExpr(
        "conv_id",
        "turn",
        "wh",
        f"{shingle_hashes_from_word_hashes('wh', shingle_k)} AS shb",
    )
    per_turn = hashed.selectExpr(
        "conv_id",
        "turn",
        *per_turn_member_mins("shb", num_hashes, "m"),
        *per_turn_member_mins("wh", word_num_hashes, "w"),
    )
    aggs = [
        "array_sort(collect_list(turn)) AS turns",
        "count(1) AS n_turns_raw",
        *[f"min(m{i}) AS hm{i}" for i in range(num_hashes)],
        *[f"min(w{i}) AS hw{i}" for i in range(word_num_hashes)],
    ]
    collected = per_turn.groupBy("conv_id").agg(*[F.expr(e) for e in aggs])
    sig_cols = [f"hm{i}" for i in range(num_hashes)] + [
        f"hw{i}" for i in range(word_num_hashes)
    ]
    staged = _stage_turns(collected, max_turns, keep=sig_cols)
    return staged.selectExpr(
        "conv_id",
        *_series_columns(),
        f"{signature_from_mins('hm', num_hashes)} AS sig",
        f"CASE WHEN n_turns_raw < {short_conv_turns}"
        f" THEN {signature_from_mins('hw', word_num_hashes)} END AS wsig",
    )


def turn_gap_rms(transcripts: DataFrame) -> DataFrame:
    """Per-conversation RMS of inter-turn time gaps via a GROUPED-AGG
    pandas UDF — the Spark UDAF family (one Arrow-batched pandas Series
    per group, no per-row Python; completes the engine's UDF-surface
    matrix next to pandas_udf / mapInArrow / applyInPandas /
    applyInArrow / mapInPandas / applyInPandasWithState).

    The statistic is deliberately SQL-expressible (sqrt(avg(gap^2)) —
    the driver's DuckDB oracle) so the family demonstration is
    oracle-checked end-to-end; the same shape carries group statistics
    builtins cannot express (robust M-estimators, per-group model
    fits). Output: (conv_id, gap_rms_s, n_gaps), rounded to 4dp.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = transcripts.select(
        "conv_id", ((us - F.lag(us).over(w)) / 1e6).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())

    @pandas_udf("double")
    def rms(g: pd.Series) -> float:
        a = g.to_numpy(dtype=np.float64)
        return float(np.sqrt(np.mean(a * a)))

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the gap
    # count is a second pandas aggregate in the same (single-shuffle)
    # agg rather than F.count.
    @pandas_udf("long")
    def n_vals(g: pd.Series) -> int:
        return int(len(g))

    return gaps.groupBy("conv_id").agg(
        F.round(rms("gap_s"), 4).alias("gap_rms_s"),
        n_vals("gap_s").alias("n_gaps"),
    )


def assembly_stats(series: DataFrame) -> DataFrame:
    """Per-corpus assembly metrics (lineage/metrics table input)."""
    return series.agg(
        F.count(F.lit(1)).alias("n_conversations"),
        F.sum("n_turns").alias("n_turns_total"),
        F.max("n_turns").alias("max_turns"),
        F.sum("n_truncated").alias("n_turns_truncated"),
        F.avg("n_turns").alias("avg_turns"),
    )
