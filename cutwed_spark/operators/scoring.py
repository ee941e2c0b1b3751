"""Batched TWED scoring of candidate pairs — the throughput path.

``mapInArrow`` over candidate-pair record batches: the JVM->Python Arrow
transfer is the engine's analog of the reference's host->device memcpy
(/root/reference/src/cuTWED_core.h:394-404), and the Arrow batch is the
analog of its (nAA, nA, dim) device batch
(/root/reference/cuTWED/cuTWED.py:157-178). Inside the UDF everything is
vectorized NumPy — packing from Arrow list buffers to padded
(P, n_max, dim) ndarrays is pure offset arithmetic, NOT per-row Python
(the input_hint's "no per-row Python" requirement).

Scale/throughput design (measured on the 20k-conversation bench):
* series travel as ONE flat array per conversation (the reference's
  dense C-ordered buffer, README.rst:40-42) — one Arrow offset level
  fewer than an array of arrays = ~1.4x faster transfer;
* NO unconditional repartition: the join output feeds mapInArrow
  directly and AQE handles partition sizing/skew. An optional ``salt``
  forces a salted redistribution for pathologically hot conversations
  (SURVEY.md §4 manual item a) — it costs a full extra shuffle of the
  array payload, so it is opt-in, not default;
* series values travel as float32, because the state stores
  ``values_flat`` as ``ARRAY<FLOAT>`` (``transfer_dtype`` changes
  nothing); the UDF upcasts them to float64 before the DP, so scores
  are oracle-exact for the stored values.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cutwed_spark.operators.featurize import sql_double
from cutwed_spark.twed.core import _batch_local_costs, twed_pairs

SCORE_SCHEMA = (
    "conv_id_a string, conv_id_b string, n_a int, n_b int, "
    "twed double, twed_norm double, twed_ratio double"
)


def _self_delete_cost(V, T, L, nu, lamb, degree):
    """d(X, empty) per padded series: the delete-everything TWED path =
    sum of local delete costs + lambda*n + nu*t_last (htrans telescopes,
    twed.c:179-181). Normalizing d(A,B) by d(A,0)+d(0,B) gives a
    length- and magnitude-invariant score in (0, 1].

    Local costs are the kernel's own (core._batch_local_costs), so
    degree<0 is the Marteau no-root repro mode (twed.c:114-119) here
    too and ``twed_ratio`` stays consistent with the kernel."""
    P, n_max, _ = V.shape
    lc = _batch_local_costs(V, degree, abs(int(degree)))
    mask = np.arange(1, n_max)[None, :] < L[:, None]
    local = lc[:, 1] + np.sum(lc[:, 2:] * mask, axis=1)
    local[L == 0] = 0.0
    idx = np.maximum(L - 1, 0)
    t_last = T[np.arange(P), idx]
    t_last = np.where(L > 0, t_last, 0.0)
    return local + lamb * L + nu * t_last


def _pad_from_arrow(values_flat: pa.Array, times: pa.Array, dim: int):
    """Flat list<double> (len n*dim) + list<double> (len n) Arrow columns
    -> padded NumPy (V (P, n_max, dim), T (P, n_max), L (P,)).

    Lengths come from the times column; the flat value buffer reshapes
    to (total_turns, dim) and scatters with vectorized indices.
    """
    lens = pc.list_value_length(times).to_numpy().astype(np.int64)
    P = len(lens)
    total = int(lens.sum())
    n_max = int(lens.max()) if P else 0
    flat_turns = np.asarray(values_flat.flatten(), dtype=np.float64).reshape(
        total, dim
    )
    flat_t = np.asarray(times.flatten(), dtype=np.float64)
    V = np.zeros((P, n_max, dim), dtype=np.float64)
    T = np.zeros((P, n_max), dtype=np.float64)
    starts = np.zeros(P, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    rows = np.repeat(np.arange(P, dtype=np.int64), lens)
    cols = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    V[rows, cols] = flat_turns
    T[rows, cols] = flat_t
    return V, T, lens


def _dedup_side(ids: pa.Array, values: pa.Array, times: pa.Array, dim: int):
    """Dictionary-encode one pair side so each distinct conversation in
    the batch is padded and self-cost-scored ONCE (a series appears in
    several candidate pairs; the join output materializes it per pair).
    Returns (V_unique, T_unique, L_unique, codes) where ``codes[k]`` is
    the unique-stack row of pair ``k`` — the gather contract of
    :func:`cutwed_spark.twed.core.twed_pairs` (its ``idxA``/``idxB``).
    The reference's batch API has the same shape: unique series stacks
    + an implicit all-pairs index (/root/reference/src/cuTWED.h:97-105)."""
    enc = pc.dictionary_encode(ids)
    codes = np.asarray(enc.indices, dtype=np.int64)
    # dictionary codes are dense 0..K-1 in first-appearance order
    _, first = np.unique(codes, return_index=True)
    take = pa.array(first)
    V, T, L = _pad_from_arrow(values.take(take), times.take(take), dim)
    return V, T, L, codes


def make_score_fn(dim: int, nu: float, lamb: float, degree: int):
    """Arrow batch iterator for mapInArrow (picklable closure)."""

    def score(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            cols = {name: batch.column(name) for name in batch.schema.names}
            Va, Ta, La, ia = _dedup_side(
                cols["conv_id_a"], cols["va"], cols["ta"], dim
            )
            Vb, Tb, Lb, ib = _dedup_side(
                cols["conv_id_b"], cols["vb"], cols["tb"], dim
            )
            d = twed_pairs(Va, Ta, La, ia, Vb, Tb, Lb, ib, nu, lamb, degree)
            na = La[ia]
            nb = Lb[ib]
            denom = np.maximum(na + nb, 1).astype(np.float64)
            self_cost = (
                _self_delete_cost(Va, Ta, La, nu, lamb, degree)[ia]
                + _self_delete_cost(Vb, Tb, Lb, nu, lamb, degree)[ib]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    cols["conv_id_a"],
                    cols["conv_id_b"],
                    pa.array(na.astype(np.int32)),
                    pa.array(nb.astype(np.int32)),
                    pa.array(d),
                    pa.array(d / denom),
                    pa.array(d / np.maximum(self_cost, 1e-12)),
                ],
                names=[
                    "conv_id_a", "conv_id_b", "n_a", "n_b",
                    "twed", "twed_norm", "twed_ratio",
                ],
            )

    return score


def attach_series(
    pairs: DataFrame,
    series: DataFrame,
    time_scale: float = 1.0,
    transfer_dtype: str = "double",
) -> DataFrame:
    """pairs (conv_id_a, conv_id_b) x series -> pair rows carrying both
    flat series buffers. Two shuffle joins on conv_id; Catalyst prunes
    the series table to (conv_id, values_flat, times) before the
    shuffle."""
    v = "values_flat"
    if transfer_dtype == "float":
        v = "CAST(values_flat AS ARRAY<FLOAT>)"
    t = "times"
    if time_scale != 1.0:
        t = f"transform(times, x -> x * {sql_double(time_scale)})"
    slim = series.selectExpr("conv_id", f"{v} AS v", f"{t} AS t")
    a = slim.selectExpr("conv_id AS conv_id_a", "v AS va", "t AS ta")
    b = slim.selectExpr("conv_id AS conv_id_b", "v AS vb", "t AS tb")
    # SHUFFLE_HASH on the series side: skips SortMergeJoin's sort of the
    # array-payload rows (~15-20% off the stage). Safe at scale — the
    # per-partition build side is series_bytes / n_shuffle_partitions,
    # which the partition count already bounds; AQE may still upgrade to
    # broadcast when the series table is small enough.
    return pairs.join(a.hint("shuffle_hash"), "conv_id_a").join(
        b.hint("shuffle_hash"), "conv_id_b"
    )


def score_candidates(
    pairs: DataFrame,
    series: DataFrame,
    dim: int,
    nu: float = 1.0,
    lamb: float = 1.0,
    degree: int = 2,
    num_partitions: int | None = None,
    salt: int | None = None,
    time_scale: float = 1.0,
    transfer_dtype: str = "double",
) -> DataFrame:
    """Candidate pairs -> scored edges (conv_id_a, conv_id_b, n_a, n_b,
    twed, twed_norm, twed_ratio) via per-pair join + mapInArrow. The
    UDF dictionary-encodes each pair side per batch (:func:`_dedup_side`),
    so a series shared by several pairs is padded and self-costed once.

    ``twed_norm = twed / (n_a + n_b)`` is the length-normalized score the
    thresholding stage uses (raw TWED grows with series length).
    ``salt`` (opt-in) forces a salted repartition for hot-key skew that
    AQE cannot split; it costs an extra shuffle of the array payload.
    """
    joined = attach_series(pairs, series, time_scale, transfer_dtype)
    if salt:
        n_part = num_partitions or int(
            joined.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        joined = joined.repartition(
            n_part, F.pmod(F.xxhash64("conv_id_a", "conv_id_b"), F.lit(salt))
        )
    # Length-homogeneous Arrow batches: an in-partition sort (no shuffle)
    # by DP extent means each batch pads to ~its own mean instead of the
    # partition max — less zero-fill memory traffic in the UDF and
    # tighter kernel chunks (the reference's equal-length-batch
    # requirement, cuTWED/cuTWED.py:167-175, recovered as an optimization).
    joined = joined.sortWithinPartitions(F.greatest(F.size("ta"), F.size("tb")))
    return joined.mapInArrow(make_score_fn(dim, nu, lamb, degree), SCORE_SCHEMA)

