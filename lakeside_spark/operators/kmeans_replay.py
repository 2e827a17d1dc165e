"""Deterministic, engine-replayable spherical k-means for the exact
cluster-analytics and ANN oracles (embedding_cluster_stats, semdedup,
ann_ivf and kmeans_names all train THIS quantizer since r10; the
recall panel pins its floors).

Same determinism discipline as operators/eigh_replay: no RNG (init =
evenly strided rows of the vec_id-ORDERED sample — SQL: sid % stride),
a FIXED iteration count (no early stop), every vector 1e-9 fixed-point
snapped, every dot product / dimension sum an ORDER-FREE integer sum,
and every scalar formula a pinned IEEE sequence — so a DuckDB recursive
CTE (registry/_kmeans_sql) replays training and assignment bit-for-bit.

Assignment ties (equal snapped dot) break to the LOWEST cell index —
np.argmax's first-max == SQL list_position(l, list_max(l)).
"""

from __future__ import annotations

import math

import numpy as np

KM_ITERS = 15


def snap_away_int(a: np.ndarray, scale: float) -> np.ndarray:
    """Round-half-away-from-zero of ``a * scale`` → int64 — THE
    engine-portable fixed-point snap every replayable oracle shares
    (Spark F.round / DuckDB round both round ties away from zero;
    np.rint is half-EVEN, so exact .5 ties are adjusted explicitly —
    the comparison is on exact float values, no epsilon games). The
    scale-specific wrappers (_snap9i here, pq_replay._snap6i,
    eigh_replay._snap12_arr) all delegate here so the tie convention
    lives in ONE place."""
    v = a * scale
    f = np.floor(v)
    tie = (v - f) == 0.5
    out = np.rint(v)
    if tie.any():
        out = np.where(tie, np.where(v > 0, f + 1.0, f), out)
    return out.astype(np.int64)


def _snap9i(a: np.ndarray) -> np.ndarray:
    """snap_away_int at the 1e-9 engine precision."""
    return snap_away_int(a, 1e9)


def unit_snapped(m: np.ndarray, scale: float) -> np.ndarray:
    """Row-normalize to snapped int64 unit vectors at ``1/scale``
    precision with an order-free norm: ss = Σ_d snap(x_d²),
    norm = sqrt(ss/scale) (0-norm rows stay zero)."""
    ss = snap_away_int(m * m, scale).sum(axis=1, dtype=np.int64)
    norm = np.sqrt(ss.astype(np.float64) / scale)
    norm[norm == 0.0] = 1.0
    return snap_away_int(m / norm[:, None], scale)


def unit9(m: np.ndarray) -> np.ndarray:
    """unit_snapped at 1e-9. Twin: the u9 expression in _kmeans_sql."""
    return unit_snapped(m, 1e9)


def _dots9(u9: np.ndarray, cents9: np.ndarray) -> np.ndarray:
    """Integer dot-product matrix: dot9[i,c] = Σ_d snap9(u_d · c_d) with
    u = u9/1e9, c = cents9/1e9 — order-free by integer summation."""
    u = u9.astype(np.float64) / 1e9
    c = cents9.astype(np.float64) / 1e9
    out = np.empty((len(u), len(c)), dtype=np.int64)
    for j in range(len(c)):
        out[:, j] = _snap9i(u * c[j][None, :]).sum(axis=1, dtype=np.int64)
    return out


def spherical_kmeans_snapped(
    u9: np.ndarray, k: int, iters: int = KM_ITERS
) -> np.ndarray:
    """Fixed-iteration snapped spherical k-means over snapped unit
    vectors (int64 at 1e-9). Returns k×d snapped centroids (int64).
    Init = rows 0, stride, 2·stride, … of the (already ordered) sample;
    empty cells keep their previous centroid."""
    n, d = u9.shape
    k = min(k, n)
    stride = max(n // k, 1)
    cents9 = u9[[j * stride for j in range(k)]].copy()
    for _ in range(iters):
        best = np.argmax(_dots9(u9, cents9), axis=1)  # first-max ties
        for c in range(k):
            members = u9[best == c]
            if not len(members):
                continue
            cnt = float(len(members))
            s9 = members.sum(axis=0, dtype=np.int64)
            v = s9.astype(np.float64) / 1e9 / cnt
            ss9 = int(_snap9i(v * v).sum(dtype=np.int64))
            norm = math.sqrt(ss9 / 1e9)
            if norm == 0.0:
                norm = 1.0
            cents9[c] = _snap9i(v / norm)
    return cents9
