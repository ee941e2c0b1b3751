"""Golden-value + cross-implementation tests for the NumPy TWED core.

Ports the reference's test strategy (SURVEY.md §5): golden scalars from
deterministic RandomState(42) fixtures (/root/reference/tests/test_basic.py,
test_large.py, test_reference.py, test_batch.py), plus 3-way
cross-validation between the Marteau-faithful oracle, the wiki-convention
oracle, and the vectorized anti-diagonal batch engine
(/root/reference/tests/test_Rn.py:129-190 pattern) on a seeded R^dim
multivariate fixture (no reference data files are copied).
"""

import os

import numpy as np
import pytest
from numpy.random import RandomState

from cutwed_spark.twed.core import (
    local_costs,
    pytwed_oracle,
    twed,
    twed_batch,
    twed_pairs,
    twed_reference,
)

NU, LAMB, DEG = 1.0, 1.0, 2

GOLD_AB = 54.543169  # tests/test_basic.py:32
GOLD_LARGE = 55074.428733  # tests/test_large.py:32
GOLD_NOROOT = 58.981692  # tests/test_reference.py:33 (degree=-2)
GOLD_A0 = 44.739147  # tests/test_batch.py:36


def sine_fixture(n=10):
    """The reference's canonical fixture (tests/test_basic.py:15-25):
    one RandomState(42), noise1 then noise2 drawn sequentially."""
    rng = RandomState(42)
    noise1 = rng.randn(n)
    TA = np.arange(n, dtype=np.float64)
    A = np.sin(TA) + np.sin(TA / 10) + noise1
    m = 2 * n
    noise2 = rng.randn(m)
    TB = np.arange(m, dtype=np.float64)
    B = np.sin(TB) + np.sin(TB / 10) + noise2
    return A, TA, B, TB


def test_golden_basic():
    A, TA, B, TB = sine_fixture(10)
    assert np.allclose(twed(A, TA, B, TB, NU, LAMB, DEG), GOLD_AB)


def test_golden_basic_oracle():
    A, TA, B, TB = sine_fixture(10)
    assert np.allclose(twed_reference(A, TA, B, TB, NU, LAMB, DEG), GOLD_AB)


def test_golden_basic_pytwed():
    A, TA, B, TB = sine_fixture(10)
    assert np.allclose(pytwed_oracle(A, TA, B, TB, NU, LAMB), GOLD_AB)


def test_golden_float32_inputs():
    A, TA, B, TB = sine_fixture(10)
    d = twed(
        A.astype(np.float32), TA.astype(np.float32),
        B.astype(np.float32), TB.astype(np.float32),
        NU, LAMB, DEG,
    )
    assert np.allclose(d, GOLD_AB)


def test_golden_large():
    """nA=10_000, nB=20_000 — exercises the streaming (per-diagonal)
    cost path; tests/test_large.py:32."""
    A, TA, B, TB = sine_fixture(10_000)
    assert np.allclose(twed(A, TA, B, TB, NU, LAMB, DEG), GOLD_LARGE)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("nu", [0.0, 0.05])
@pytest.mark.parametrize("degree", [2, 1, 3, -2])
def test_per_diagonal_costs_match_plane(monkeypatch, degree, nu, dtype):
    """Match costs computed per diagonal (planes above _STREAM_PLANE)
    give the plane path's distances on variable-length batches, and the
    Marteau oracle's."""
    from cutwed_spark.twed import core

    rng = RandomState(7)
    dim = 3
    lens = np.array([0, 1, 2, 5, 9, 14])
    V = np.zeros((len(lens), lens.max(), dim))
    T = np.zeros((len(lens), lens.max()))
    for k, n in enumerate(lens):
        V[k, :n] = rng.randn(n, dim)
        T[k, :n] = np.cumsum(rng.rand(n) * 2)
    V, T = V.astype(dtype), T.astype(dtype)
    ia, ib = (g.ravel() for g in np.meshgrid(np.arange(6), np.arange(6)))
    args = (V, T, lens, ia, V, T, lens, ib, nu, 0.5, degree)
    plane = core.twed_pairs(*args)
    monkeypatch.setattr(core, "_STREAM_PLANE", 4)
    diag = core.twed_pairs(*args)
    ref = np.array([
        twed_reference(V[i, : lens[i]], T[i, : lens[i]],
                       V[j, : lens[j]], T[j, : lens[j]], nu, 0.5, degree)
        for i, j in zip(ia, ib)
    ])
    rtol = 1e-12 if dtype == np.float64 else 1e-4
    np.testing.assert_allclose(diag, plane, rtol=rtol, atol=rtol)
    np.testing.assert_allclose(diag, ref, rtol=rtol, atol=rtol)


@pytest.mark.slow
def test_streaming_plane_100k_series():
    """~100k-point series end-to-end through the per-diagonal streaming
    cost path (the scale regime of the reference's
    synthetic_index_validation/synthetic_index.py:57-195, whose full
    UCI series are 100,001 points). The value is a self-pinned
    regression constant from the deterministic seed-42 generator
    (nA=100_001 vs nB=10_000 keeps the run ~80 s; the plane,
    ~1e9 cells, is far beyond the in-memory threshold so the streaming
    sweep is structurally guaranteed)."""
    from cutwed_spark.twed.core import _STREAM_PLANE

    rng = RandomState(42)
    n = 100_001
    TA = np.arange(n, dtype=np.float64)
    A = np.sin(TA) + np.sin(TA / 10) + rng.randn(n)
    m = 10_000
    TB = np.arange(m, dtype=np.float64)
    B = np.sin(TB) + np.sin(TB / 10) + rng.randn(m)
    assert (n + 1) * (m + 1) > _STREAM_PLANE  # streaming path engaged
    assert np.allclose(twed(A, TA, B, TB, NU, LAMB, DEG), 315407.76173000195)


def test_golden_noroot_mode():
    """degree=-2 reproduces Marteau's original no-nth-root results
    (reference_implementation/twed.c:114-119; tests/test_reference.py:33)."""
    A, TA, B, TB = sine_fixture(10)
    assert np.allclose(twed(A, TA, B, TB, NU, LAMB, -2), GOLD_NOROOT)
    assert np.allclose(twed_reference(A, TA, B, TB, NU, LAMB, -2), GOLD_NOROOT)


def test_golden_vs_zeros():
    A, TA, B, TB = sine_fixture(10)
    Z = np.zeros_like(B)
    assert np.allclose(twed(A, TA, Z, TB, NU, LAMB, DEG), GOLD_A0)


def test_batch_half_zeros():
    """tests/test_batch.py:38-66: 100x100 batch, half of B zeroed."""
    A, TA, B, TB = sine_fixture(10)
    bsz = 100
    AA = np.tile(A, (bsz, 1))
    TAA = np.tile(TA, (bsz, 1))
    BB = np.tile(B, (bsz, 1))
    BB[bsz // 2 :] = 0
    TBB = np.tile(TB, (bsz, 1))
    ref = np.zeros((bsz, bsz))
    ref[:, : bsz // 2] = GOLD_AB
    ref[:, bsz // 2 :] = GOLD_A0
    res = twed_batch(AA, TAA, BB, TBB, NU, LAMB, DEG)
    assert np.allclose(ref, res)


def test_batch_tril_triu():
    """tests/test_batch.py:86-113 semantics: strict triangles, zeros elsewhere."""
    A, TA, B, TB = sine_fixture(10)
    bsz = 12
    AA = np.tile(A, (bsz, 1))
    TAA = np.tile(TA, (bsz, 1))
    BB = np.tile(B[:10], (bsz, 1))
    BB[bsz // 2 :] = 0
    TBB = np.tile(TB[:10], (bsz, 1))
    full = twed_batch(AA, TAA, BB, TBB, NU, LAMB, DEG)
    tril = twed_batch(AA, TAA, BB, TBB, NU, LAMB, DEG, tri="tril")
    assert np.allclose(np.tril(full, -1), tril)
    triu = twed_batch(BB, TBB, AA, TAA, NU, LAMB, DEG, tri="triu")
    swapped = twed_batch(BB, TBB, AA, TAA, NU, LAMB, DEG)
    assert np.allclose(np.triu(swapped, 1), triu)


def rn_fixture(n_series=4, n=28, dim=28, seed=42):
    """Seeded multivariate fixture standing in for mnist_4x4.npz
    (tests/test_Rn.py:104-118) without copying reference data: smooth
    per-dim random walks scaled to image-like magnitudes."""
    rng = RandomState(seed)
    series = np.cumsum(rng.randn(n_series * 2, n, dim), axis=1) * 25.0 + 100.0
    T = np.linspace(0.0, 1.0, n)
    return series[:n_series], series[n_series:], T


class TestThreeWayRn:
    """3-way agreement on multivariate R^dim series (test_Rn.py pattern)."""

    def setup_method(self):
        self.AA, self.BB, self.T = rn_fixture()

    def test_scalar_vs_oracle_vs_pytwed(self):
        A, B, T = self.AA[0], self.BB[0], self.T
        d_fast = twed(A, T, B, T, NU, LAMB, DEG)
        d_oracle = twed_reference(A, T, B, T, NU, LAMB, DEG)
        d_wiki = pytwed_oracle(A, T, B, T, NU, LAMB)
        assert np.allclose(d_fast, d_oracle, rtol=1e-10)
        assert np.allclose(d_fast, d_wiki)

    def test_batch_matches_scalar_loop(self):
        TT = np.tile(self.T, (len(self.AA), 1))
        D = twed_batch(self.AA, TT, self.BB, TT, NU, LAMB, DEG)
        for i, A in enumerate(self.AA):
            for j, B in enumerate(self.BB):
                want = twed_reference(A, self.T, B, self.T, NU, LAMB, DEG)
                assert np.allclose(D[i, j], want, rtol=1e-9), (i, j)

    def test_nonuniform_degree(self):
        A, B, T = self.AA[0], self.BB[0], self.T
        for degree in (1, 3, 4):
            d_fast = twed(A, T, B, T, NU, LAMB, degree)
            d_oracle = twed_reference(A, T, B, T, NU, LAMB, degree)
            assert np.allclose(d_fast, d_oracle, rtol=1e-10), degree


def test_variable_length_pairs():
    """Ragged batch: padding + masks must match per-pair oracle calls —
    the generalization beyond the reference's equal-length requirement
    (cuTWED/cuTWED.py:167-175)."""
    rng = RandomState(7)
    lens = [3, 10, 17, 1, 8, 24]
    dim = 5
    series = [rng.randn(n, dim) for n in lens]
    times = [np.cumsum(np.abs(rng.randn(n))) for n in lens]
    n_max = max(lens)
    pad = np.zeros((len(lens), n_max, dim))
    tpad = np.zeros((len(lens), n_max))
    for k, (s, t) in enumerate(zip(series, times)):
        pad[k, : len(s)] = s
        tpad[k, : len(s)] = t
    L = np.array(lens, dtype=np.int64)
    ia, ib = np.triu_indices(len(lens), k=1)
    got = twed_pairs(pad, tpad, L, ia, pad, tpad, L, ib, NU, LAMB, DEG)
    for k in range(len(ia)):
        a, b = ia[k], ib[k]
        want = twed_reference(series[a], times[a], series[b], times[b], NU, LAMB, DEG)
        assert np.allclose(got[k], want, rtol=1e-9), (a, b)


def test_empty_series_semantics():
    """Borders only: d(empty, empty)=0, d(empty, x)=inf (twed.c:162-167)."""
    pad = np.zeros((2, 3, 1))
    pad[1, :, 0] = [1.0, 2.0, 3.0]
    tpad = np.zeros((2, 3))
    tpad[1] = [0.0, 1.0, 2.0]
    L = np.array([0, 3], dtype=np.int64)
    d = twed_pairs(
        pad, tpad, L, np.array([0, 0, 1]), pad, tpad, L, np.array([0, 1, 1]),
        NU, LAMB, DEG,
    )
    assert d[0] == 0.0
    assert np.isinf(d[1])
    assert np.allclose(
        d[2], twed_reference(pad[1], tpad[1], pad[1], tpad[1], NU, LAMB, DEG)
    )
    assert d[2] == 0.0  # identical series


def test_local_costs():
    v = np.array([3.0, 4.0, 4.0])
    lc = local_costs(v, 2)
    assert np.allclose(lc, [0.0, 3.0, 1.0, 0.0])


def test_symmetry_and_identity():
    rng = RandomState(3)
    A = rng.randn(12, 4)
    B = rng.randn(9, 4)
    TA = np.arange(12, dtype=float)
    TB = np.arange(9, dtype=float)
    assert np.allclose(
        twed(A, TA, B, TB, NU, LAMB, DEG), twed(B, TB, A, TA, NU, LAMB, DEG)
    )
    # deg==2 fast path may leave ~sqrt(eps)*|x| cancellation residue
    assert twed(A, TA, A, TA, NU, LAMB, DEG) <= 1e-6


def _malformed_cases():
    """Inputs the reference's checks refuse (cuTWED/cuTWED.py:47-66): a
    zero degree, series of different dims, timestamps that do not match
    their series' points."""
    A, TA, B, TB = sine_fixture(5)
    A2, B3 = RandomState(0).randn(3, 2), RandomState(1).randn(4, 3)
    AA, TT = RandomState(2).randn(2, 3), np.tile(np.arange(3.0), (2, 1))
    AA2 = np.stack([AA, AA], axis=2)
    case = pytest.param
    return [
        case(lambda: twed(A, TA, B, TB, NU, LAMB, 0), "degree", id="degree-zero"),
        case(lambda: twed(A2, np.arange(3.0), B3, np.arange(4.0), NU, LAMB, 3), "dim",
             id="dim-mismatch"),
        case(lambda: twed(A, TA[:-1], B, TB, NU, LAMB, DEG), "timestamp", id="short-times"),
        case(lambda: twed(A, TA, B, np.append(TB, 99.0), NU, LAMB, DEG), "timestamp",
             id="long-times"),
        case(lambda: twed_batch(AA2, TT, AA, TT, NU, LAMB), "dim", id="batch-dim-mismatch"),
        case(lambda: twed_batch(AA, np.zeros((2, 4)), AA, TT, NU, LAMB), "timestamps",
             id="batch-extra-times"),
        case(lambda: twed_batch(AA, TT, AA, TT[:, :2], NU, LAMB), "timestamps",
             id="batch-short-times"),
        case(lambda: twed_batch(AA, TT[:1], AA, TT, NU, LAMB), "timestamps",
             id="batch-series-count"),
    ]


@pytest.mark.parametrize("call, message", _malformed_cases())
def test_malformed_input_rejected(call, message):
    """Malformed input raises a ValueError naming the problem instead of
    computing on silently dropped coordinates or timestamps."""
    with pytest.raises(ValueError, match=message):
        call()


# ----------------------------------------------------------------------
# 3-way validation against the reference's MNIST fixture, read IN PLACE
# from the read-only reference checkout (never copied into this repo).
# Mirrors /root/reference/tests/test_Rn.py:104-190: R^28 series of
# length 28, nu=1, lambda=1, degree=2.
# ----------------------------------------------------------------------

_MNIST_NPZ = "/root/reference/tests/data/mnist_4x4.npz"


@pytest.mark.skipif(
    not os.path.exists(_MNIST_NPZ), reason="reference fixture not present"
)
def test_mnist_fixture_three_way():
    data = np.load(_MNIST_NPZ)
    A = data["A"].astype(np.float64)
    B = data["B"].astype(np.float64)
    T = data["T"].astype(np.float64)
    single_ref = 7948.0187956562495  # reference tests/test_Rn.py:126
    assert np.allclose(twed(A, T, B, T, 1.0, 1.0, 2), single_ref)
    assert np.allclose(twed_reference(A, T, B, T, 1.0, 1.0, 2), single_ref)
    assert np.allclose(pytwed_oracle(A, T, B, T, 1.0, 1.0), single_ref)


@pytest.mark.skipif(
    not os.path.exists(_MNIST_NPZ), reason="reference fixture not present"
)
def test_mnist_fixture_batch_matrix():
    data = np.load(_MNIST_NPZ)
    AA = data["AA"].astype(np.float64)
    BB = data["BB"].astype(np.float64)
    T = data["T"].astype(np.float64)
    DIST = data["DIST"].astype(np.float64)  # upper-tri golden matrix
    TT = np.tile(T, (len(AA), 1))
    D = twed_batch(AA, TT, BB, TT, 1.0, 1.0, 2)
    assert np.allclose(np.triu(D), DIST)


_SYNTH_CONTROL = (
    "/root/reference/tests/data/synthetic_control-mld/synthetic_control.data"
)


@pytest.mark.skipif(
    not os.path.exists(_SYNTH_CONTROL), reason="reference dataset not present"
)
def test_synthetic_control_submatrix_vs_oracle():
    """All-pairs batch over a 20-series subset of the UCI Synthetic
    Control dataset (read in place from the reference checkout,
    /root/reference/tests/test_synthetic_validation.py:33-83 semantics:
    1-D series, unit time axis, nu=1, lambda=1, degree=2) agrees with
    the O(n^2) Marteau oracle cell by cell."""
    raw = np.loadtxt(_SYNTH_CONTROL)  # (600, 60)
    X = raw[::30][:20].astype(np.float64)  # every 30th row: all 6 classes
    n, m = X.shape
    T = np.arange(1.0, m + 1.0)
    TT = np.tile(T, (n, 1))
    D = twed_batch(X, TT, X, TT, 1.0, 1.0, 2)
    for i in range(0, n, 3):
        for j in range(i, n, 4):
            want = twed_reference(X[i], T, X[j], T, 1.0, 1.0, 2)
            assert abs(D[i, j] - want) <= 1e-9 * max(1.0, want), (i, j)
    assert np.allclose(np.diag(D), 0.0, atol=1e-8)
    assert np.allclose(D, D.T, atol=1e-8)


def test_float32_compute_mode():
    """The twedf twin (src/cuTWED.cu:120-158): uniform float32 inputs
    compute in float32 and agree with float64 to single precision;
    float64 stays the default for anything mixed."""
    A, TA, B, TB = sine_fixture(10)
    d64 = twed(A, TA, B, TB, NU, LAMB, DEG)
    d32 = twed(
        A.astype(np.float32), TA.astype(np.float32),
        B.astype(np.float32), TB.astype(np.float32),
        NU, LAMB, DEG,
    )
    assert np.allclose(d32, d64, rtol=1e-5)
    AA = np.tile(A, (6, 1)).astype(np.float32)
    TAA = np.tile(TA, (6, 1)).astype(np.float32)
    BB = np.tile(B, (6, 1)).astype(np.float32)
    TBB = np.tile(TB, (6, 1)).astype(np.float32)
    D32 = twed_batch(AA, TAA, BB, TBB, NU, LAMB, DEG)
    assert D32.dtype == np.float32
    assert np.allclose(D32, d64, rtol=1e-5)
    # mixed dtypes fall back to float64 compute (A's values were already
    # rounded by the float32 cast, so agreement is single-precision)
    dmix = twed(A.astype(np.float32), TA, B, TB, NU, LAMB, DEG)
    assert isinstance(dmix, float)
    assert np.allclose(dmix, d64, rtol=1e-6)
