"""Per-turn featurization: text/role/tool -> R^dim double vector.

The reference scores series of points in R^dim (dim <= 32,
/root/reference/src/cuTWED.cu:38); our points are per-turn feature
vectors built ENTIRELY from Catalyst built-ins (higher-order functions +
xxhash64) — no Python in this stage, so it whole-stage-codegens and the
``text`` column can be pruned immediately after
(SURVEY.md §4 "column pruning").

Layout of the vector (default n_buckets=8 -> dim=14):
  [0..n_buckets)   hashed bag-of-words bucket counts (pmod(xxhash64(w), n))
  [n_buckets + 0]  role code * 3  (user=0, assistant=1, tool=2, system=3)
  [n_buckets + 1]  tool bucket (pmod(xxhash64(tool), 7) + 1; 0 if no tool)
  [n_buckets + 2]  log1p(char length)
  [n_buckets + 3]  word count
  [n_buckets + 4]  mean word length
  [n_buckets + 5]  punctuation count

Deterministic, locale-free, and cheap; duplicates with small word edits
land at small L2 distance per turn, so TWED separates them from
same-topic non-duplicates.

Every expression here is SQL text applied with ``selectExpr``, not a
tree of ``F.*`` calls and Python lambdas: on PySpark 4.1 each ``F.*``
call costs about 6 py4j round trips and each lambda about 60, and this
stage has n_buckets + 2 lambdas (ARCHITECTURE.md §1). Doubles are written
with :func:`sql_double` because a bare SQL ``3.0`` is a DECIMAL.

The word-bucket array is materialized as an aliased column in its OWN
projection before the n_buckets count filters consume it: Spark skips
common-subexpression elimination inside higher-order-function lambdas,
so inlining the split+lower+xxhash64 tree into every filter recomputes
it n_buckets times (measured ~3.8x on this stage at n_buckets=16; same
trap as assemble.assemble_with_signatures). The non-cheap multiply-
referenced alias also stops CollapseProject from undoing the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_BUCKETS = 8


def feature_dim(n_buckets: int = DEFAULT_BUCKETS) -> int:
    return n_buckets + 6


def sql_double(x: float) -> str:
    """A DOUBLE literal in SQL text (``3.0D``; a bare ``3.0`` is DECIMAL)."""
    return f"{float(x)!r}D"


def words_sql(text: str) -> str:
    """SQL for the lower-cased whitespace tokens of the string expression
    ``text``, empties removed (split's regex ``\\s+`` written as a SQL
    string literal)."""
    return f"filter(split(lower({text}), '\\\\s+'), w -> w != '')"


def _feature_array(
    wb: str,
    n_buckets: int,
    bucket_scale: float,
    role_scale: float,
) -> str:
    """SQL for the array<double> feature vector from a MATERIALIZED
    word-bucket-id array column ``wb`` plus the raw text/role/tool
    columns. ``size(wb)`` doubles as the word count (one bucket id per
    word)."""
    buckets = [
        f"size(filter({wb}, h -> h = {k})) * {sql_double(bucket_scale)}"
        for k in range(n_buckets)
    ]
    role_code = (
        "CASE WHEN role = 'user' THEN 0.0D WHEN role = 'assistant' THEN 1.0D"
        " WHEN role = 'tool' THEN 2.0D ELSE 3.0D END"
    )
    tool_code = (
        "CASE WHEN tool IS NOT NULL AND tool != ''"
        " THEN CAST(pmod(xxhash64(tool), 7) + 1 AS DOUBLE) ELSE 0.0D END"
    )
    n_chars = "CAST(length(coalesce(text, '')) AS DOUBLE)"
    n_words = f"CAST(size({wb}) AS DOUBLE)"
    surface = [
        f"{role_code} * {sql_double(role_scale)}",
        tool_code,
        f"log1p({n_chars})",
        n_words,
        f"CASE WHEN {n_words} > 0 THEN {n_chars} / {n_words} ELSE 0.0D END",
        "CAST(length(regexp_replace(coalesce(text, ''), '[^.!?,;:]', '')) AS DOUBLE)",
    ]
    return f"array({', '.join(buckets + surface)})"


def with_turn_features(
    df: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    out: str = "feat",
    bucket_scale: float = 1.0,
    role_scale: float = 3.0,
) -> DataFrame:
    """transcripts + ``feat: array<double>`` + ``text_hash: bigint``
    (per-turn text-equality invariant carrier) + ``t: double`` (epoch
    seconds, float64 — the TWED time axis, matching the reference's
    plain-float time stamps, /root/reference/cuTWED/cuTWED.py:38-44)."""
    wb = f"transform({words_sql('text')}, w -> pmod(xxhash64(w), {n_buckets}))"
    staged = df.selectExpr("*", f"{wb} AS _wb")
    return staged.selectExpr(
        *[f"`{c}`" for c in df.columns],
        f"{_feature_array('_wb', n_buckets, bucket_scale, role_scale)} AS `{out}`",
        "xxhash64(text) AS text_hash",
        # cast covers TIMESTAMP_NTZ parquet columns (session TZ is UTC)
        "unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0D AS t",
    )
