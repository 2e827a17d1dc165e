"""Deterministic, engine-replayable eigendecomposition for the exact
PCA / ZCA-whitening oracles.

np.linalg.eigh is LAPACK — bit-exact replay in another engine is
impossible, so the two embedding keys that depend on an eigensolve were
stuck rows-only. This module replaces eigh with a FIXED-ITERATION
parallel-cyclic Jacobi (the Brent–Luk 1985 systolic ordering: each round
rotates 32 DISJOINT index pairs from a round-robin tournament schedule)
in which every rotation coefficient and every updated matrix entry is
snapped to 1e-12 fixed point with round-half-away-from-zero. Every
arithmetic step is then an IEEE-754 basic op (+,-,*,/,sqrt — all
correctly rounded by the standard) on identical inputs, so a DuckDB
recursive CTE replays the WHOLE solve bit-for-bit (the linear-probe
Gaussian-elimination recipe, applied to an eigensolve).

Accuracy is a separate concern from determinism: the snapped Jacobi
agrees with np.linalg.eigh to ~1e-9 after SWEEPS sweeps (pytest-pinned);
determinism is what flips the oracle from rows-only to hash-exact.

Schedule formula (shared with the SQL twin): d = 64; in round r
(0..61... r mod 63), index i < 63 pairs with (r - i) mod 63, the
self-paired index pairs with 63, and 63 pairs with (32·r) mod 63
(32 = 2⁻¹ mod 63). Every unordered pair meets exactly once per 63
rounds, and rounds partition all 64 indices into 32 disjoint pairs.
"""

from __future__ import annotations

import math

import numpy as np

D = 64
SWEEPS = 8
ITERS = SWEEPS * (D - 1)


from lakeside_spark.operators.kmeans_replay import _snap9i, snap_away_int


def _snap12_arr(a: np.ndarray) -> np.ndarray:
    """Round-half-away-from-zero of a*1e12, back to double — the
    engine-portable snap (DuckDB round(x*1e12)/1e12 is identical).
    Magnitudes here stay far below 2^53/1e12, so the int64 round-trip
    through the shared snap is exact."""
    return snap_away_int(a, 1e12).astype(np.float64) / 1e12


def _partner(i: int, rr: int) -> int:
    if i == D - 1:
        return (rr * 32) % (D - 1)
    j = ((rr - i) % (D - 1) + (D - 1)) % (D - 1)
    return D - 1 if j == i else j


def _schedule(rr: int) -> tuple[np.ndarray, np.ndarray]:
    """(m_of, is_p) for round rr: partner index per i, and whether i is
    the smaller of its pair (the -s side of the rotation)."""
    m = np.array([_partner(i, rr) for i in range(D)], dtype=np.int64)
    return m, np.arange(D) < m


def jacobi_eigh_snapped(
    a0: np.ndarray, sweeps: int = SWEEPS
) -> tuple[np.ndarray, np.ndarray]:
    """Eigen-decompose the snapped symmetric 64×64 matrix ``a0`` with
    fixed-iteration snapped parallel Jacobi. Returns (diag, V): the
    (snapped) near-diagonal of the final A and the accumulated rotation
    matrix, both exactly reproducible by the SQL twin. Columns of V are
    in ORIGINAL index order (unsorted, unsigned — callers sort/sign)."""
    A = a0.copy()
    V = np.eye(D)
    for it in range(sweeps * (D - 1)):
        m_of, is_p = _schedule(it % (D - 1))
        p = np.minimum(np.arange(D), m_of)
        q = np.maximum(np.arange(D), m_of)
        app, aqq, apq = A[p, p], A[q, q], A[p, q]
        c_of = np.ones(D)
        s_of = np.zeros(D)
        nz = apq != 0.0
        th = np.zeros(D)
        th[nz] = (aqq[nz] - app[nz]) / (2.0 * apq[nz])
        t = 1.0 / (np.abs(th) + np.sqrt(th * th + 1.0))
        t = np.where(th < 0.0, -t, t)
        c_raw = 1.0 / np.sqrt(t * t + 1.0)
        c_of[nz] = _snap12_arr(c_raw[nz])
        s_of[nz] = _snap12_arr((t * c_raw)[nz])
        t_of = np.where(is_p, -s_of, s_of)
        # B = JᵀA ; A' = BJ ; V' = VJ — all entries snapped, two-term
        # expressions c·x + t·y evaluated in the exact IEEE order the
        # SQL twin uses (mul, mul, add)
        B = _snap12_arr(c_of[:, None] * A + t_of[:, None] * A[m_of, :])
        A = _snap12_arr(c_of[None, :] * B + t_of[None, :] * B[:, m_of])
        V = _snap12_arr(c_of[None, :] * V + t_of[None, :] * V[:, m_of])
    return np.diagonal(A).copy(), V


def cov9_from_moments(n: int, s9: np.ndarray, g9: np.ndarray) -> np.ndarray:
    """Snapped covariance (1e-9 int64) from integer moments, evaluated
    in the pinned IEEE order the SQL twin mirrors:
    C_ij = g9/1e9/n − (s9_i/1e9/n)·(s9_j/1e9/n), then snap9."""
    nf = float(n)
    gm = g9.astype(np.float64) / 1e9 / nf
    mu = s9.astype(np.float64) / 1e9 / nf
    return _snap9i(gm - mu[:, None] * mu[None, :])


def scale_exp(c9: np.ndarray) -> float:
    """Power-of-two scale bringing max |C| to O(1) before iterating —
    multiplication by 2^k is EXACT, so it costs no determinism and buys
    fixed-point resolution when covariance entries are tiny. Twin:
    POWER(2.0, 29 - length(bin(max|c9|)))."""
    maxabs = int(np.abs(c9).max())
    return 2.0 ** (29 - max(maxabs.bit_length(), 1))


def eigh_pipeline(n: int, s9: np.ndarray, g9: np.ndarray):
    """Moments → (mu, lam, V, lam12_scaled, scale): the shared front of
    both exact oracles. ``lam`` is unscaled eigenvalue doubles aligned
    with V's (unsorted) columns; ``lam12`` the snapped scaled integers
    the twin sums for EVR."""
    c9 = cov9_from_moments(n, s9, g9)
    sc = scale_exp(c9)
    a0 = c9.astype(np.float64) / 1e9 * sc
    diag, v = jacobi_eigh_snapped(a0)
    # diag entries are snapped multiples of 1e-12: diag*1e12 lands within
    # ≪0.5 of the integer in both engines, so rint == DuckDB's
    # CAST(round(·) AS BIGINT) (no tie can occur)
    lam12 = np.rint(diag * 1e12).astype(np.int64)
    mu = s9.astype(np.float64) / 1e9 / float(n)
    lam = diag / sc
    return mu, lam, v, lam12, sc
