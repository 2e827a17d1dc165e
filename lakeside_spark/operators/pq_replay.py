"""Deterministic, engine-replayable product quantization for the exact
ann_pq oracle (the kmeans_replay discipline applied to PQ's per-subspace
L2 codebooks).

Precision: 1e-6 fixed point (not the 1e-9 the spherical replays use) so
every intermediate stays int64-exact: unit components ≤1e6, L2-distance
terms (x−c)² ≤ 4e12 and their 4-dim sums ≤ 1.6e13, ADC lookup dots
≤ 4e12/sub and 16-sub sums ≤ 6.4e13, and the final exact-rescore dot
Σ q6·n6 ≤ 6.4e13 — ALL order-free integer sums, so the DuckDB twin
(registry/_pq_sql) replays training, encoding, ADC scoring, the global
shortlist and the exact rerank bit-for-bit. 1e-9 would overflow int64 in
the squared-distance sums; PQ codebooks are coarse by construction, so
micro-precision buys nothing.

Same determinism rules as kmeans_replay: no RNG (init = evenly strided
rows of the id-ORDERED sample), FIXED iteration count, argmin ties to the
lowest code (np.argmin first-min == SQL list_position of the list min),
empty cells keep their previous centroid.
"""

from __future__ import annotations

import numpy as np

PQ_ITERS = 15


from lakeside_spark.operators.kmeans_replay import snap_away_int, unit_snapped


def _snap6i(a: np.ndarray) -> np.ndarray:
    """snap_away_int at the 1e-6 PQ precision (see kmeans_replay)."""
    return snap_away_int(a, 1e6)


def unit6(m: np.ndarray) -> np.ndarray:
    """unit_snapped at 1e-6. Twin: the u6 expression in _pq_sql."""
    return unit_snapped(m, 1e6)


def pq_train_snapped(
    u6: np.ndarray, m_subs: int, n_codes: int, iters: int = PQ_ITERS
) -> np.ndarray:
    """Fixed-iteration snapped L2 k-means per subspace over snapped unit
    vectors (int64 at 1e-6). Returns [m_subs, k, sub] snapped codebooks
    (int64, k = min(n_codes, n)). Init = rows 0, stride, 2·stride, … of
    the (already id-ordered) sample — the SAME rows for every subspace,
    so the SQL twin derives one stride."""
    n, d = u6.shape
    if d % m_subs:
        raise ValueError(f"dim {d} not divisible by m_subs {m_subs}")
    sub = d // m_subs
    k = min(n_codes, n)
    stride = max(n // k, 1)
    init_rows = [c * stride for c in range(k)]
    books = np.empty((m_subs, k, sub), dtype=np.int64)
    for j in range(m_subs):
        x = u6[:, j * sub : (j + 1) * sub]
        x2 = (x * x).sum(axis=1)
        cents = x[init_rows].copy()
        for _ in range(iters):
            # ‖x−c‖² = ‖x‖² + ‖c‖² − 2x·c, exact in int64 (every term
            # ≤1.6e13) — the same integers as the squared-difference sum,
            # without the n×k×sub temporary
            d2 = x2[:, None] + (cents * cents).sum(axis=1)[None, :] - 2 * (x @ cents.T)
            best = d2.argmin(axis=1)  # first-min: ties to lowest code
            counts = np.bincount(best, minlength=k)
            sums = np.zeros((k, sub), dtype=np.int64)
            np.add.at(sums, best, x)  # exact int64, order-free
            live = counts > 0  # empty cells keep their centroid
            cents[live] = _snap6i(
                sums[live].astype(np.float64) / 1e6 / counts[live, None].astype(np.float64)
            )
        books[j] = cents
    return books


def pq_encode6(u6: np.ndarray, books6: np.ndarray) -> np.ndarray:
    """Nearest sub-centroid codes per subspace (exact int64 L2 argmin,
    first-min ties). u6: [n, d] int64; books6: [m, k, sub] int64 →
    [n, m] int32 codes."""
    m_subs, _, sub = books6.shape
    codes = np.empty((len(u6), m_subs), dtype=np.int32)
    for j in range(m_subs):
        block = u6[:, j * sub : (j + 1) * sub]
        d2 = ((block[:, None, :] - books6[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d2.argmin(axis=1)
    return codes


def pq_luts6(q6: np.ndarray, books6: np.ndarray) -> np.ndarray:
    """ADC lookup tables as exact int64 dots: lut[q, j, c] =
    Σ_d q6[j·sub+d] · books6[j, c, d] (≤4e12 per entry)."""
    nq = len(q6)
    m_subs, k, sub = books6.shape
    qr = q6.reshape(nq, m_subs, sub)
    return np.einsum("qjs,jcs->qjc", qr, books6, dtype=np.int64)
