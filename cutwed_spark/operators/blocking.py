"""Blocking: MinHash/LSH over turn-text shingles + exact tool-sequence
signatures -> deduped candidate pairs.

The reference computes ALL pairs (the nAA x nBB loop in
/root/reference/src/cuTWED_core.h:583-620) because batches are small;
at 10^12-turn scale all-pairs is impossible, so blocking bounds the
candidate set. The reference's triangular dedup (TRIL enum,
/root/reference/src/cuTWED.h:24-26) becomes the
``conv_id_a < conv_id_b`` predicate pushed into the self-join — no
triangle is ever materialized.

Everything here is Catalyst built-ins (xxhash64, higher-order functions,
joins, aggregates): map-side partial aggregation computes the k minhash
mins per conversation, and oversized LSH buckets (non-discriminative
"stopword" blocks — the skew hazard, SURVEY.md §7 hard part 4) are
dropped by ``cap_blocks``, and batch ER reports the drop as a metric.

The signature and block-key builders return SQL expression text that
the callers apply with ``selectExpr``: building the same expressions
from ``F.*`` calls and Python lambdas costs about 6 py4j round trips
per call and 60 per lambda on every plan build, and assemble alone
builds 40 member-min folds (ARCHITECTURE.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cutwed_spark.cache import scoped_persist
from cutwed_spark.operators.featurize import words_sql

DEFAULT_NUM_HASHES = 32
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE_K = 3
DEFAULT_MAX_BLOCK = 64
# word-minhash width: the wsig length assemble writes and the number of
# single-row word bands blocking reads back
DEFAULT_WORD_NUM_HASHES = 8

# Bump when the signature hash family changes (shingle base hash or
# member derivation): signatures from different families NEVER collide
# in LSH bands, so persisted state from another version must be rebuilt,
# not silently unioned (streaming/state.py enforces this).
# v2 = word-hash-mix shingle base (was v1: string shingles).
SIGNATURE_FAMILY_VERSION = 2


def word_hash_sql() -> str:
    """SQL for array<bigint>: xxhash64 of each lower-cased whitespace
    token of ``text`` — every word is hashed exactly ONCE; all
    shingle/minhash machinery downstream works on these fixed-width
    bigints. NULL text coerces to the empty array (NOT a null array): a
    null would propagate through the member-min folds and defeat the
    empty-conversation sentinel."""
    words = words_sql("coalesce(text, '')")
    return f"transform({words}, w -> xxhash64(w))"


def shingle_hashes_from_word_hashes(wh: str, k: int = DEFAULT_SHINGLE_K) -> str:
    """SQL: array<bigint> word hashes column ``wh`` -> array<bigint>
    k-gram shingle hashes.

    A shingle's base hash is xxhash64 of its k word hashes — shingle
    STRINGS are never built (concat_ws + re-hashing the string was a
    large share of signature cost; hashing k bigints is several times
    cheaper). Turns shorter than k words contribute one whole-turn
    hash (a shift-xor fold of their word hashes) so no turn is
    invisible to blocking; empty turns contribute nothing (empty
    array), preserving the all-empty-conversation null-signature
    sentinel downstream.
    """
    if k == 1:
        return wh
    whole = f"xxhash64(aggregate({wh}, 0L, (a, b) -> shiftleft(a, 1) ^ b))"
    gram = ", ".join(f"element_at({wh}, i + {j + 1})" for j in range(k))
    return (
        f"CASE WHEN size({wh}) >= {k}"
        f" THEN transform(sequence(0, size({wh}) - {k}), i -> xxhash64({gram}))"
        f" WHEN size({wh}) > 0 THEN array({whole})"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


_LONG_MAX_SQL = f"{(1 << 63) - 1}L"


def per_turn_member_mins(shb: str, num_hashes: int, prefix: str = "m") -> list[str]:
    """num_hashes per-turn partial-min SQL columns over an array<bigint>
    column ``shb`` of shingle base hashes. Family member i of base hash b
    is xxhash64(b, i) (bigint re-hash — an independent family, cheap on
    fixed width). An empty array folds to the _LONG_MAX_SQL sentinel.

    Measured negative result (round 3): deriving members by double
    hashing (h1 + i*h2 from a materialized array<struct<h1,h2>>, one
    xxhash64 per element instead of num_hashes) is ~1.7x SLOWER than
    these folds at num_hashes=40 — fixed-width xxhash64 is cheap in
    codegen and the struct-array materialization + per-element field
    extraction dominates. The fold cost is traversal, not hashing;
    don't "optimize" the hash count.

    Second negative result (round 4): merging the num_hashes folds into
    ONE traversal with a num_hashes-wide struct accumulator (least +
    xxhash64 per field per element, fields extracted from a staged
    column) measures IDENTICAL to these separate folds (30.6 vs 31.0 s
    best-of-3 interleaved on the 100k assemble subtree) with
    bit-identical mins — per-element arithmetic dominates, not
    per-array traversal count. Keep the simpler separate folds."""
    return [
        f"aggregate({shb}, {_LONG_MAX_SQL}, (acc, b) -> least(acc, xxhash64(b, {i})))"
        f" AS {prefix}{i}"
        for i in range(num_hashes)
    ]


def signature_from_mins(prefix: str, num_hashes: int) -> str:
    """SQL: min-of-per-turn-mins columns {prefix}{i} -> nullable sig
    array. A conversation whose every turn is empty has no shingles at
    all; its sentinel-only signature would LSH-collide with every other
    empty conversation — exactly the non-discriminative block the size
    cap would drop anyway, so null it out here. A NULL min (possible
    only if every per-turn fold was NULL) is treated like the sentinel:
    a bare = comparison would evaluate to NULL and fall through to the
    ELSE, emitting an array of NULLs that all degenerate conversations
    share as a block key."""
    sig = ", ".join(f"{prefix}{i}" for i in range(num_hashes))
    return (
        f"CASE WHEN {prefix}0 IS NULL OR {prefix}0 = {_LONG_MAX_SQL} THEN NULL"
        f" ELSE array({sig}) END"
    )


def lsh_block_keys(
    signatures: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """-> (conv_id, block_key: bigint): one row per LSH band.

    band key = xxhash64(band_id, sig values in the band); band_id is
    mixed in so identical mins in different bands cannot collide.
    """
    n_bands = num_hashes // band_size
    bands = ", ".join(
        "xxhash64({}, {})".format(
            b, ", ".join(f"sig[{b * band_size + r}]" for r in range(band_size))
        )
        for b in range(n_bands)
    )
    return signatures.selectExpr("conv_id", f"explode(array({bands})) AS block_key")


def cap_blocks(
    keys: DataFrame, key: str, id_col: str, max_size: int
) -> tuple[DataFrame, DataFrame]:
    """The one hot-block cap: ``keys`` (``id_col``, ``key``) ->
    (kept, stats).

    A block's size is its number of DISTINCT ids, so a replayed stream
    batch (index rows appended twice) cannot push a key past the cap.
    Only blocks with 2 <= size <= ``max_size`` are kept: a block of size
    s generates s*(s-1)/2 pairs, blocks above the cap are almost always
    non-discriminative boilerplate (the skew bombs at scale), and
    singletons — most keys on the bench corpus — produce no pair but
    would ride through the self-join. ``stats`` is one row (n_blocks,
    n_dropped_blocks, max_block_size, est_candidate_pairs); only batch
    ER reads it (``run_pipeline``'s ``metrics["blocking"]``). The stream
    index join (ER and doc dedup) and the embedding LSH joins discard
    it, so their drops are counted nowhere.

    The size table (one row per key) is not persisted: where ``stats``
    is discarded the kept-keys join is its one consumer, and batch ER
    aggregates a block table it has already persisted and partitioned
    by key. No broadcast hint: the kept-key set is unbounded at corpus
    scale, and AQE picks the join strategy from runtime sizes."""
    sized = keys.groupBy(key).agg(F.count_distinct(id_col).alias("block_size"))
    size = F.col("block_size")
    stats = sized.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(size > max_size, 1).otherwise(0)).alias("n_dropped_blocks"),
        F.max(size).alias("max_block_size"),
        F.sum(F.when(size <= max_size, size * (size - 1) / 2).otherwise(0))
        .cast("long")
        .alias("est_candidate_pairs"),
    )
    kept = keys.join(sized.where((size >= 2) & (size <= max_size)).select(key), key)
    return kept, stats


def block_pairs(
    kept: DataFrame, key: str, id_col: str, new_ids: DataFrame | None = None
) -> DataFrame:
    """Self-join a block table on ``key`` -> deduped ordered pairs
    (``{id_col}_a`` < ``{id_col}_b``).

    With ``new_ids`` one side is restricted to those ids (a stream
    microbatch: old-x-old pairs are structurally impossible, so the cost
    is ~ new x neighborhood), and ``least``/``greatest`` order the ids.
    Without it the ``l < r`` predicate is the reference's TRIL
    optimization (cuTWED_core.h:598-600 in the reference) pushed into
    the join, halving its output. Multi-band hits are collapsed by
    dropDuplicates (SURVEY.md §2.2 "Distinct")."""
    right = kept if new_ids is None else kept.join(new_ids, id_col, "left_semi")
    left_id, right_id = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    order = left_id < right_id if new_ids is None else left_id != right_id
    a, b = f"{id_col}_a", f"{id_col}_b"
    return (
        kept.alias("l")
        .join(right.alias("r"), key)
        .where(order)
        .select(
            F.least(left_id, right_id).alias(a), F.greatest(left_id, right_id).alias(b)
        )
        .dropDuplicates([a, b])
    )


def block_keys_from_state(
    state: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    word_num_hashes: int = DEFAULT_WORD_NUM_HASHES,
) -> DataFrame:
    """All four blocking axes derived purely from the state table
    (conv_id, sig, wsig, tool_sig, text_hashes):

    1. k-gram minhash LSH bands (sig),
    2. word minhash single-row bands (wsig; short conversations),
    3. exact tool-sequence signature,
    4. exact per-turn text fingerprint (text_hashes).
    """
    lsh = lsh_block_keys(state.where("sig IS NOT NULL"), band_size, num_hashes)
    wbands = ", ".join(
        f"xxhash64('wordmh', {b}, wsig[{b}])" for b in range(word_num_hashes)
    )
    wlsh = state.where("wsig IS NOT NULL").selectExpr(
        "conv_id", f"explode(array({wbands})) AS block_key"
    )
    tool = state.where("tool_sig != ''").selectExpr(
        "conv_id", "xxhash64('toolsig', tool_sig) AS block_key"
    )
    ttext = (
        state.selectExpr("conv_id", "explode_outer(text_hashes) AS th")
        .selectExpr("conv_id", "xxhash64('turntext', th) AS block_key")
        .where("block_key IS NOT NULL")
        .dropDuplicates(["conv_id", "block_key"])
    )
    return lsh.unionByName(wlsh).unionByName(tool).unionByName(ttext)


def length_filter_pairs(
    pairs: DataFrame, state: DataFrame, length_ratio_max: float
) -> DataFrame:
    """Comparison-cleaning filter (meta-blocking style): drop candidate
    pairs whose turn counts differ by more than ``length_ratio_max``
    (longer/shorter). TWED's delete chain makes a pair with wildly
    different lengths score far from any match threshold, so these
    pairs are guaranteed non-matches for any calibrated threshold well
    below the delete-everything cost — pruning them BEFORE scoring
    avoids shipping their array payloads through the attach join and
    the Arrow boundary entirely (the expensive bytes at 100 TB).

    The filter joins only compact columns (conv_id, n_turns) against
    the slim pair list — two cheap shuffles replacing the pruned
    pairs' full series transfer. Opt-in via
    ``PipelineConfig.length_ratio_max``; OFF by default so the scored
    universe (and the committed goldens) are unchanged unless asked.
    """
    if length_ratio_max < 1.0:
        raise ValueError(
            f"length_ratio_max must be >= 1 (longer/shorter), "
            f"got {length_ratio_max}"
        )
    n = state.select("conv_id", "n_turns")
    a = n.select(F.col("conv_id").alias("conv_id_a"), F.col("n_turns").alias("_na"))
    b = n.select(F.col("conv_id").alias("conv_id_b"), F.col("n_turns").alias("_nb"))
    return (
        pairs.join(a, "conv_id_a")
        .join(b, "conv_id_b")
        .where(
            F.greatest("_na", "_nb")
            <= F.least("_na", "_nb") * F.lit(float(length_ratio_max))
        )
        .select(pairs.columns)
    )


def build_candidate_pairs_from_state(
    state: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_block: int = DEFAULT_MAX_BLOCK,
    length_ratio_max: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Blocking from the signature-carrying state table
    -> (pairs, block_stats)."""
    # Repartition by block_key BEFORE the persist: the size groupBy,
    # the kept-keys join, and the pair self-join all hash on block_key,
    # so the cached table's outputPartitioning satisfies every one of
    # them — three Exchanges of the block table collapse into this one
    # (Catalyst keeps the cached plan's partitioning). Scoped: the
    # caller's cache_scope releases it once the pair table is
    # materialized — a raw persist here outlives the stage and
    # accumulates across pipeline runs on a long-lived driver.
    blocks = scoped_persist(
        block_keys_from_state(state, band_size, num_hashes)
        .repartition("block_key")
    )
    kept, stats = cap_blocks(blocks, "block_key", "conv_id", max_block)
    pairs = block_pairs(kept, "block_key", "conv_id")
    if length_ratio_max is not None:
        pairs = length_filter_pairs(pairs, state, length_ratio_max)
    return pairs, stats


