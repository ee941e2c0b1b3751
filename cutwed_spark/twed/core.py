"""Pure-NumPy Time Warp Edit Distance (TWED) kernels.

Semantics derive from the public reference (garrettwrong/cuTWED):

* Marteau's O(n^2) DP oracle — ``reference_implementation/twed.c:74-210``:
  local delete-costs ``Di1``/``Dj1`` (``twed.c:103-137``), pairwise match
  costs (``twed.c:139-159``), borders ``D[0][0]=0`` / first row+col = inf
  (``twed.c:162-167``), and the three-way min sweep (``twed.c:170-199``).
* The linear-memory anti-diagonal engine — ``src/cuTWED_core.h:89-363``:
  three rotating diagonal buffers instead of the O(n^2) matrix
  (``cuTWED_core.h:210-227``), wavefront-parallel cells within a diagonal
  (``cuTWED_core.h:89-200``), and the batched 2-D (diagonal x batch) grid
  (``grid_evalZ``, ``cuTWED_core.h:317-363``).

This module is Spark-free on purpose: it is the kernel the Arrow UDFs in
``cutwed_spark.operators.scoring`` wrap, and it is unit-tested against the
reference's golden constants (``tests/test_basic.py:32``,
``tests/test_large.py:32``, ``tests/test_reference.py:33``,
``tests/test_batch.py:35-36``) before any Spark layer is trusted.

Conventions (the "cuTWED/modern" canon — what every golden value asserts):

* ``degree > 0``: local distances are Lp norms with the p-th root applied;
  ``degree == 2`` uses ``sqrt`` (matching ``twed.c:117,153`` exactly).
* ``degree < 0``: Marteau "no nth-root" reproduction mode
  (``twed.c:114-119``) — raw powered sums, ``deg = abs(degree)``.
* Match-branch lag-2 term is **zero** when ``i == 1 or j == 1``
  (``twed.c:145-147``) — NOT the wiki zero-padding convention.
* Delete-branch time deltas are **not** absolute values
  (``twed.c:180,191``); the match-branch ones are (``twed.c:172-174``).
* Empty series: ``d(empty, empty) = 0``, ``d(empty, nonempty) = inf``
  (borders only, ``twed.c:162-167``).

All math is float64 unless the caller passes float32 arrays (dtype is
honored like the reference's twed/twedf dispatch, ``cuTWED/cuTWED.py:68-81``).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "twed",
    "twed_batch",
    "twed_pairs",
    "twed_reference",
    "pytwed_oracle",
    "local_costs",
]

_INF = np.inf

# ------------------------------------------------------------------
# shaping helpers (mirrors the validation in cuTWED/cuTWED.py:47-66)
# ------------------------------------------------------------------


def _as2d(x: np.ndarray) -> np.ndarray:
    """1-D series -> (n, 1); validate 2-D; reject higher ranks."""
    x = np.asarray(x)
    if x.ndim == 1:
        return x.reshape(-1, 1)
    if x.ndim == 2:
        return x
    raise ValueError(f"series must be 1-D or 2-D (n, dim); got ndim={x.ndim}")


def _root(powered: np.ndarray, degree: int, deg: int) -> np.ndarray:
    """Apply the reference's root convention (twed.c:114-119,116-119)."""
    if degree < 0:  # no-root repro mode
        return powered
    if deg == 2:  # sqrt special case, twed.c:117,153
        return np.sqrt(powered)
    return np.power(powered, 1.0 / deg)


def _pnorm(diff: np.ndarray, degree: int, deg: int) -> np.ndarray:
    """Lp 'norm' with reference root conventions; reduces the last axis."""
    powered = np.sum(np.abs(diff) ** deg, axis=-1)
    return _root(powered, degree, deg)


def local_costs(values: np.ndarray, degree: int = 2) -> np.ndarray:
    """Per-point delete costs ``D[i]`` for one series, 1-indexed semantics.

    ``out[0] = 0`` (unused border), ``out[1] = ||x_0||``,
    ``out[i] = ||x_{i-1} - x_{i-2}||`` for i >= 2 — exactly
    ``local_distance_kernel`` (``src/cuTWED_core.h:57-86``) and the
    ``Di1``/``Dj1`` loops in ``twed.c:103-137``.
    """
    v = _as2d(values)
    deg = abs(int(degree))
    n = v.shape[0]
    out = np.zeros(n + 1, dtype=np.float64)
    if n >= 1:
        out[1] = _pnorm(v[0], degree, deg)
    if n >= 2:
        out[2:] = _pnorm(v[1:] - v[:-1], degree, deg)
    return out


# ------------------------------------------------------------------
# O(n^2) oracle — faithful to reference_implementation/twed.c
# ------------------------------------------------------------------


def twed_reference(A, TA, B, TB, nu: float, lamb: float, degree: int = 2) -> float:
    """Marteau-faithful full-matrix DP. Test oracle only (O(n^2) memory).

    Mirrors ``CTWED`` (``reference_implementation/twed.c:74-210``)
    including the degree<0 no-root mode and the deg==2 sqrt branch.
    """
    A, B = _as2d(A), _as2d(B)
    TA = np.asarray(TA, dtype=np.float64).ravel()
    TB = np.asarray(TB, dtype=np.float64).ravel()
    r, c = A.shape[0], B.shape[0]
    if TA.shape[0] != r or TB.shape[0] != c:
        raise ValueError("timestamp length must match series length")
    deg = abs(int(degree))
    if deg == 0:
        raise ValueError("degree must be nonzero")

    A64 = A.astype(np.float64, copy=False)
    B64 = B.astype(np.float64, copy=False)

    Di1 = local_costs(A64, degree)  # (r+1,)
    Dj1 = local_costs(B64, degree)  # (c+1,)

    # Match costs M[i, j] for i in 1..r, j in 1..c (twed.c:139-159).
    p1 = np.sum(np.abs(A64[:, None, :] - B64[None, :, :]) ** deg, axis=-1)
    M = np.zeros((r + 1, c + 1), dtype=np.float64)
    if degree < 0:
        M[1:, 1:] = p1
        M[2:, 2:] += p1[:-1, :-1]
    else:
        M[1:, 1:] = _root(p1, degree, deg)
        M[2:, 2:] += _root(p1[:-1, :-1], degree, deg)

    # Time penalties.
    ht_match = np.zeros((r + 1, c + 1), dtype=np.float64)
    ht_match[1:, 1:] = np.abs(TA[:, None] - TB[None, :])
    ht_match[2:, 2:] += np.abs(TA[:-1, None] - TB[None, :-1])

    ht_a = np.zeros(r + 1, dtype=np.float64)  # delete-in-A htrans (twed.c:179-181)
    if r >= 1:
        ht_a[1] = TA[0]
        ht_a[2:] = TA[1:] - TA[:-1]
    ht_b = np.zeros(c + 1, dtype=np.float64)
    if c >= 1:
        ht_b[1] = TB[0]
        ht_b[2:] = TB[1:] - TB[:-1]

    D = np.full((r + 1, c + 1), _INF, dtype=np.float64)
    D[0, 0] = 0.0
    for i in range(1, r + 1):
        row_prev = D[i - 1]
        row = D[i]
        del_a_base = Di1[i] + lamb + nu * ht_a[i]
        for j in range(1, c + 1):
            keep = row_prev[j - 1] + M[i, j] + nu * ht_match[i, j]
            dela = row_prev[j] + del_a_base
            delb = row[j - 1] + Dj1[j] + lamb + nu * ht_b[j]
            row[j] = min(keep, dela, delb)
    return float(D[r, c])


def pytwed_oracle(A, TA, B, TB, nu: float, lamb: float) -> float:
    """Second independent oracle: the Wikipedia TWED formulation with
    leading zero-padding (as used in the reference's 3-way validation,
    ``tests/test_Rn.py:28-101``). p=2 norms, roots applied.

    Differs per-cell from :func:`twed_reference` in the lag-2 match term at
    the i==1/j==1 edges (pad-with-zero vs drop); agrees on final distances
    for the reference fixtures.
    """
    A, B = _as2d(A), _as2d(B)
    pad = np.zeros((1, A.shape[1]), dtype=np.float64)
    Ap = np.vstack([pad, A.astype(np.float64)])
    Bp = np.vstack([pad, B.astype(np.float64)])
    TAp = np.concatenate([[0.0], np.asarray(TA, dtype=np.float64).ravel()])
    TBp = np.concatenate([[0.0], np.asarray(TB, dtype=np.float64).ravel()])
    n, m = Ap.shape[0], Bp.shape[0]

    def d2(x, y):
        return float(np.sqrt(np.sum((x - y) ** 2)))

    DP = np.full((n, m), _INF, dtype=np.float64)
    DP[0, 0] = 0.0
    for i in range(1, n):
        for j in range(1, m):
            dela = DP[i - 1, j] + d2(Ap[i - 1], Ap[i]) + nu * (TAp[i] - TAp[i - 1]) + lamb
            delb = DP[i, j - 1] + d2(Bp[j - 1], Bp[j]) + nu * (TBp[j] - TBp[j - 1]) + lamb
            keep = (
                DP[i - 1, j - 1]
                + d2(Ap[i], Bp[j])
                + d2(Ap[i - 1], Bp[j - 1])
                + nu * (abs(TAp[i] - TBp[j]) + abs(TAp[i - 1] - TBp[j - 1]))
            )
            DP[i, j] = min(dela, delb, keep)
    return float(DP[n - 1, m - 1])


# ------------------------------------------------------------------
# Vectorized linear-memory batch engine (the product kernel)
# ------------------------------------------------------------------


def _compute_dtype(A, B) -> type:
    """Dtype dispatch (the reference's twed/twedf macro twins,
    ``src/cuTWED.cu:120-158``): float32 math iff both value inputs are
    float32 (~1.5-2x faster, ~1e-5 relative error), float64 otherwise."""
    both32 = np.asarray(A).dtype == np.float32 and np.asarray(B).dtype == np.float32
    return np.float32 if both32 else np.float64


def _batch_local_costs(X, degree, deg):
    """(N, n_max, dim) padded -> (N, n_max+1) local delete costs.

    Vectorized ``local_distance_kernel`` (``src/cuTWED_core.h:57-86``)
    across the whole batch at once — computed ONCE per series, reused by
    every DP cell (optimization #3 in SURVEY.md §4). Entries past a
    series' length are costs of its zero padding: the DP never reads
    them on the way to cell (LA, LB), and sums over points must mask them.
    """
    N, n_max, _ = X.shape
    out = np.zeros((N, n_max + 1), dtype=X.dtype)
    if n_max >= 1:
        out[:, 1] = _pnorm(X[:, 0], degree, deg)
    if n_max >= 2:
        out[:, 2:] = _pnorm(X[:, 1:] - X[:, :-1], degree, deg)
    return out


def _delete_costs(X, T, nu, lamb, degree, deg):
    """Delete-branch constants (lambda + nu*htrans + local cost), (N, n_max+1).

    htrans is the signed time step, ``t_0`` for the first point
    (``twed.c:179-181,190-192``).
    """
    D = _batch_local_costs(X, degree, deg)
    D[:, 1:] += lamb
    n = X.shape[1]
    if nu != 0.0 and n >= 1:
        D[:, 1] += nu * T[:, 0]
        if n >= 2:
            D[:, 2:] += nu * (T[:, 1:] - T[:, :-1])
    return D


def _match_costs_block(A, B, degree, deg):
    """Padded A (P, R, dim), B (P, C, dim) -> powered pairwise sums (P, R, C).

    deg==2 uses the |a|^2+|b|^2-2ab expansion (BLAS batched matmul) —
    the CPU analog of cuTWED keeping the inner product in fast memory.
    Cancellation rescue: expansion entries that land within the
    expansion's own rounding envelope (~O(dim)*eps relative to the
    operand magnitude aa+bb) have lost their significant digits to
    cancellation, so they are recomputed with direct differences —
    the reference's formulation (twed.c:139-159), which has no residue.
    Near-identical points therefore score exactly 0 (d(A,A) == 0, the
    metric identity), while the >99% of entries outside the envelope
    keep BLAS throughput. The suspect set is exactly the near-duplicate
    region, which is tiny except on true duplicate pairs, where the
    direct O(count*dim) gather is still cheap vs the O(R*C*dim) matmul.
    Other degrees loop over dim to avoid a (P, R, C, dim) intermediate.
    """
    if deg == 2:
        dim = A.shape[2]
        aa = np.einsum("prd,prd->pr", A, A)
        bb = np.einsum("pcd,pcd->pc", B, B)
        p = A @ B.transpose(0, 2, 1)  # reused in place as the output
        p *= -2.0
        p += aa[:, :, None]
        p += bb[:, None, :]
        # Conservative per-row rounding envelope: |fl(aa+bb-2ab) - |a-b|^2|
        # <= c*eps*(aa+bb) with c ~ dim+O(1); using max_j bb_j over-flags
        # (safe: flagged entries are recomputed exactly) without
        # materializing a second (P, R, C) float plane.
        eps_env = (4.0 * (dim + 8)) * np.finfo(A.dtype).eps
        thresh = eps_env * (aa + bb.max(axis=1)[:, None])  # (P, R)
        suspect = p <= thresh[:, :, None]
        if suspect.any():
            pi, ri, ci = np.nonzero(suspect)
            d = A[pi, ri, :] - B[pi, ci, :]
            p[pi, ri, ci] = np.einsum("kd,kd->k", d, d)
        np.maximum(p, 0.0, out=p)
        return p
    P, R, dim = A.shape
    C = B.shape[1]
    p = np.zeros((P, R, C), dtype=A.dtype)
    for d in range(dim):
        p += np.abs(A[:, :, None, d] - B[:, None, :, d]) ** deg
    return p


def _match_plane(A, TA, B, TB, nu, degree, deg):
    """Match costs of every cell, (P, R+1, C+1) (``twed.c:139-159`` analog).

    ``M[i, j]`` is point term (i-1, j-1) plus lag term (i-2, j-2), each
    root-norm + nu*|dt|; row 1 and column 1 carry no lag term.
    In-place ops keep this to ~3 passes over the (P, R, C) plane —
    the plane is the memory-bandwidth hot spot at high task counts.
    """
    P, R, _ = A.shape
    C = B.shape[1]
    pow1 = _match_costs_block(A, B, degree, deg)  # (P, R, C) powered sums
    if degree >= 0:
        if deg == 2:
            np.sqrt(pow1, out=pow1)
        else:
            np.power(pow1, 1.0 / deg, out=pow1)
    if nu != 0.0:
        t_pen = np.abs(TA[:, :, None] - TB[:, None, :])
        t_pen *= nu
        pow1 += t_pen
        del t_pen
    M = np.zeros((P, R + 1, C + 1), dtype=A.dtype)
    M[:, 1:, 1:] = pow1
    M[:, 2:, 2:] += pow1[:, :-1, :-1]
    return M


def _diagonal_match(A, TA, B, TB, I, J, nu, degree, deg):
    """Match costs of the cells (I, J) of one diagonal, (P, len(I)),
    in :func:`_match_plane`'s term order but from direct differences
    (``evalZ_kernel`` computing its cell costs on the fly,
    ``src/cuTWED_core.h:142-152``)."""

    def term(i, j):
        t = _pnorm(A[:, i] - B[:, j], degree, deg)
        if nu != 0.0:
            t += nu * np.abs(TA[:, i] - TB[:, j])
        return t

    m = term(I - 1, J - 1)
    lag = (I > 1) & (J > 1)
    if lag.any():
        m[:, lag] += term(I[lag] - 2, J[lag] - 2)
    return m


def _sweep_chunk(A, TA, LA, B, TB, LB, nu, lamb, degree, deg):
    """Anti-diagonal DP over one chunk of pairs.

    A: (P, R, dim) zero-padded; TA: (P, R); LA: (P,) lengths.
    Returns (P,) distances.

    Three rotating diagonal buffers of shape (P, R+1), indexed by row i
    (the cell is (i, d-i)) — the linear-memory trick of
    ``src/cuTWED_core.h:203-299`` vectorized over BOTH the diagonal axis
    and the pair axis (``grid_evalZ``'s 2-D grid, ``cuTWED_core.h:317-363``).
    Match costs come from the precomputed plane, or per diagonal
    (O(R+C) extra memory) when the plane exceeds ``_STREAM_PLANE`` cells —
    e.g. the reference's 10k x 20k ``test_large`` case.
    """
    P, R, _ = A.shape
    C = B.shape[1]
    if (R + 1) * (C + 1) > _STREAM_PLANE:

        def match(I, J):
            return _diagonal_match(A, TA, B, TB, I, J, nu, degree, deg)

    else:
        M = _match_plane(A, TA, B, TB, nu, degree, deg)

        def match(I, J):
            return M[:, I, J]

    DiA = _delete_costs(A, TA, nu, lamb, degree, deg)
    DjB = _delete_costs(B, TB, nu, lamb, degree, deg)

    # Rotating diagonal buffers + one scratch row (no per-diagonal
    # allocations: everything runs through out= into preallocated
    # slices — the linear-memory discipline of src/cuTWED_core.h:210-227).
    dt = A.dtype
    D2 = np.full((P, R + 1), _INF, dtype=dt)
    D1 = np.full((P, R + 1), _INF, dtype=dt)
    D0 = np.full((P, R + 1), _INF, dtype=dt)
    scratch = np.empty((P, R + 1), dtype=dt)

    res = np.full(P, _INF, dtype=dt)
    final_diag = LA + LB  # result cell (LA, LB) lies on this diagonal
    res[(LA == 0) & (LB == 0)] = 0.0

    D0[:, 0] = 0.0  # cell (0, 0) on diagonal d=0
    rows = np.arange(R + 1)
    for d in range(1, R + C + 1):
        D2, D1, D0 = D1, D0, D2
        D0.fill(_INF)
        lo = max(1, d - C)
        hi = min(R, d - 1)  # j = d - i >= 1
        if lo <= hi:
            I = rows[lo : hi + 1]
            J = d - I
            L = hi - lo + 1
            keep = np.add(D2[:, lo - 1 : hi], match(I, J), out=scratch[:, :L])
            tgt = D0[:, lo : hi + 1]
            np.add(D1[:, lo - 1 : hi], DiA[:, I], out=tgt)  # delete-A
            np.minimum(keep, tgt, out=tgt)
            np.add(D1[:, lo : hi + 1], DjB[:, J], out=keep)  # delete-B
            np.minimum(keep, tgt, out=tgt)
        hit = final_diag == d
        if np.any(hit):
            res[hit] = D0[hit, LA[hit]]
    return res


# Cell budget per chunk: bounds the (P, R+1, C+1) cost plane to ~2 MiB
# of float64 so the plane (plus its pow1/time-penalty siblings) stays
# cache-resident per worker. The anti-diagonal sweep re-reads the plane
# once per diagonal with stride C — out of cache that is ~8x cache-line
# traffic amplification, and measured aggregate throughput at 32 workers
# collapses ~20-30x (8 MiB-cell chunks: ~10k pairs/s; 256 KiB-cell
# chunks: ~300k pairs/s on the same host; 8->32-worker scaling
# efficiency 0.2 -> 0.83+). The Arrow batch size upstream is the outer
# knob (SURVEY.md §4 optimization #4).
_CHUNK_CELLS = 256 * 1024
# Above this DP-plane size, _sweep_chunk computes match costs per diagonal.
_STREAM_PLANE = 64 * 1024 * 1024
# The reference's compiled point-dimension cap (src/cuTWED.cu:38) —
# advisory here (see twed_pairs docstring), enforced there.
_DIMENSION_LIMIT = 32


def twed_pairs(
    A_pad: np.ndarray,
    TA_pad: np.ndarray,
    LA: np.ndarray,
    idxA: np.ndarray,
    B_pad: np.ndarray,
    TB_pad: np.ndarray,
    LB: np.ndarray,
    idxB: np.ndarray,
    nu: float,
    lamb: float,
    degree: int = 2,
) -> np.ndarray:
    """Score P candidate pairs: ``out[k] = TWED(series idxA[k], series idxB[k])``.

    ``A_pad``/``B_pad`` are zero-padded (N, n_max, dim) float64 stacks with
    length vectors ``LA``/``LB`` — variable-length series are handled by
    padding + per-pair length masks (the reference requires equal lengths
    per batch, ``cuTWED/cuTWED.py:167-175``; this generalizes it).
    Gathers per chunk so all-pairs callers never materialize P copies.

    Deliberate generalizations of the reference's contract: mixed-dtype
    inputs are upcast instead of rejected (``cuTWED/cuTWED.py:66``), and
    there is no hard ``DIMENSION_LIMIT=32`` (``src/cuTWED.cu:38``) —
    that limit is the reference's fast-memory (register) contract. The
    analog here is cache residency of the per-chunk cost planes, so a
    dim far beyond 32 degrades throughput (never correctness): warn so
    the caller knows they left the engine's efficiency envelope.
    """
    if A_pad.shape[2] > 2 * _DIMENSION_LIMIT:
        import warnings

        warnings.warn(
            f"dim={A_pad.shape[2]} is far beyond the cache-friendly design "
            f"point (reference DIMENSION_LIMIT={_DIMENSION_LIMIT}, "
            f"src/cuTWED.cu:38); throughput will degrade",
            stacklevel=2,
        )
    idxA = np.asarray(idxA, dtype=np.int64)
    idxB = np.asarray(idxB, dtype=np.int64)
    P = idxA.shape[0]
    if P == 0:
        return np.zeros(0, dtype=np.float64)
    deg = abs(int(degree))
    if deg == 0:
        raise ValueError("degree must be nonzero")

    dt = _compute_dtype(A_pad, B_pad)
    A_pad, TA_pad, B_pad, TB_pad = (
        np.asarray(x, dtype=dt) for x in (A_pad, TA_pad, B_pad, TB_pad)
    )

    # Length-sorted processing: pairs are ordered by DP extent so each
    # chunk's padded plane is trimmed to ITS longest member instead of
    # the global max — the batch-amortization idea of the reference
    # (equal-length batches, cuTWED/cuTWED.py:167-175) recovered as an
    # optimization. ~5-8x less plane memory/compute on geometric
    # length distributions.
    la = LA[idxA]
    lb = LB[idxB]
    order = np.argsort(np.maximum(la, lb), kind="stable")
    out = np.empty(P, dtype=dt)

    s = 0
    while s < P:
        # chunk sized by the cell budget at the CURRENT max extent;
        # extents only grow along the sorted order, so re-evaluate at
        # each chunk head (plus a grow-check below).
        head = order[s]
        rmax = int(max(la[head], 1))
        cmax = int(max(lb[head], 1))
        e = s
        while e < P:
            k = order[e]
            r_new = max(rmax, int(la[k]))
            c_new = max(cmax, int(lb[k]))
            new_cells = (e - s + 1) * (r_new + 1) * (c_new + 1)
            if new_cells > _CHUNK_CELLS and e > s:
                break
            rmax, cmax = r_new, c_new
            e += 1
        sel = order[s:e]
        ia, ib = idxA[sel], idxB[sel]
        out[sel] = _sweep_chunk(
            np.ascontiguousarray(A_pad[ia, :rmax]),
            np.ascontiguousarray(TA_pad[ia, :rmax]),
            LA[ia],
            np.ascontiguousarray(B_pad[ib, :cmax]),
            np.ascontiguousarray(TB_pad[ib, :cmax]),
            LB[ib],
            nu,
            lamb,
            degree,
            deg,
        )
        s = e
    return out


def twed(A, TA, B, TB, nu: float, lamb: float, degree: int = 2) -> float:
    """Single-pair TWED, reference-equivalent public API
    (``cuTWED/cuTWED.py:37-88``): 1-D inputs auto-reshaped to (n, 1),
    dims and lengths validated, negative result impossible.
    """
    dt = _compute_dtype(A, B)
    A, B = _as2d(A).astype(dt, copy=False), _as2d(B).astype(dt, copy=False)
    if A.shape[1] != B.shape[1]:
        raise ValueError(f"A and B must share dim; got {A.shape[1]} and {B.shape[1]}")
    TA = np.asarray(TA, dtype=dt).ravel()
    TB = np.asarray(TB, dtype=dt).ravel()
    if TA.shape[0] != A.shape[0] or TB.shape[0] != B.shape[0]:
        raise ValueError(
            f"timestamp length must match series length; got TA {TA.shape[0]} "
            f"for {A.shape[0]} points, TB {TB.shape[0]} for {B.shape[0]}"
        )
    LA = np.array([A.shape[0]], dtype=np.int64)
    LB = np.array([B.shape[0]], dtype=np.int64)
    z = np.zeros(1, dtype=np.int64)
    return float(
        twed_pairs(A[None], TA[None], LA, z, B[None], TB[None], LB, z, nu, lamb, degree)[0]
    )


def _norm_tri(tri) -> str:
    """Accept 'nopt'/'tril'/'triu' strings or the reference's enum ints
    (TRIU=-2, TRIL=-1, NOPT=0; ``src/cuTWED.h:24-26``,
    ``cuTWED/cuTWED.py:24-34``)."""
    if isinstance(tri, str):
        t = tri.lower()
        if t in ("nopt", "tril", "triu"):
            return t
        raise ValueError(f"tri must be one of nopt/tril/triu; got {tri!r}")
    return {0: "nopt", -1: "tril", -2: "triu"}[int(tri)]


def twed_batch(AA, TAA, BB, TBB, nu: float, lamb: float, degree: int = 2, tri="nopt"):
    """All-pairs distance matrix, reference-equivalent public API
    (``cuTWED/cuTWED.py:211-271``).

    AA: (nAA, n) or (nAA, n, dim); TAA: (nAA, n). Returns (nAA, nBB)
    float64. ``tri='tril'`` computes only the strict lower triangle
    (zeros elsewhere), ``'triu'`` the strict upper — the candidate-pair
    dedup analog is the ``conv_id_a < conv_id_b`` predicate upstream.
    """
    AA = np.asarray(AA)
    BB = np.asarray(BB)
    if AA.ndim == 2:
        AA = AA[:, :, None]
    if BB.ndim == 2:
        BB = BB[:, :, None]
    if AA.ndim != 3 or BB.ndim != 3:
        raise ValueError("batch input must be (nA, n) or (nA, n, dim)")
    TAA = np.asarray(TAA, dtype=np.float64)
    TBB = np.asarray(TBB, dtype=np.float64)
    nAA, nA, dim = AA.shape
    nBB, nB, dimB = BB.shape
    if dim != dimB:
        raise ValueError(f"AA and BB must share dim; got {dim} and {dimB}")
    if TAA.shape != (nAA, nA) or TBB.shape != (nBB, nB):
        raise ValueError(
            f"timestamps must be (n_series, n_points) like their series; got "
            f"TAA {TAA.shape} for {(nAA, nA)}, TBB {TBB.shape} for {(nBB, nB)}"
        )
    tri = _norm_tri(tri)
    if tri != "nopt" and (AA.shape != BB.shape):
        raise ValueError("tri='tril'/'triu' requires a symmetric batch (AA.shape == BB.shape)")

    dt = _compute_dtype(AA, BB)
    LA = np.full(nAA, nA, dtype=np.int64)
    LB = np.full(nBB, nB, dtype=np.int64)

    res = np.zeros((nAA, nBB), dtype=dt)
    if tri == "nopt":
        ia, ib = np.meshgrid(np.arange(nAA), np.arange(nBB), indexing="ij")
        ia, ib = ia.ravel(), ib.ravel()
    elif tri == "tril":
        ia, ib = np.tril_indices(nAA, k=-1)
    else:  # triu: compute tril of the transpose problem, then transpose back
        ib, ia = np.tril_indices(nAA, k=-1)
    d = twed_pairs(AA, TAA, LA, ia, BB, TBB, LB, ib, nu, lamb, degree)
    res[ia, ib] = d
    return res
