"""Per-pixel harmonic (seasonal) regression: fit
``y ≈ a + b·t + Σ_k [ s_k·sin(2πkt/P) + c_k·cos(2πkt/P) ]``
to every pixel's masked time series — the classic EO phenology model
(seasonality-adjusted trend, amplitude/phase-of-season maps, the
harmonic baseline CCDC-style change detection regresses against).

:mod:`trend` is the ``K=0`` special case; this module generalizes the
same Spark-first shape to an arbitrary basis: the per-pixel normal
equations ``(XᵀX)β = Xᵀy`` have DECOMPOSABLE sufficient statistics —
the ``p(p+1)/2`` upper triangle of ``XᵀX``, the ``p`` entries of
``Xᵀy``, and ``Σy²`` (for RMSE) all fold scene-by-scene — so the
default path streams scenes through per-partition running accumulators
and shuffles only O(partitions × cells) fixed-size partial blocks,
never a stack (the same bound as trend_partials / the incremental
composite). Scene count per cell never enters group memory.

The solve is a hand-rolled vectorized Gaussian elimination (no
pivoting — normal matrices are symmetric positive semi-definite, and
near-singular pixels are masked to NaN instead of pivoted around):
pure NumPy arithmetic, deterministic and LAPACK-free, so oracle
constants generated on one host replay bit-identically on another.

Output per input band (in plane order):
``intercept, slope, s_1..K, c_1..K, amp_1..K, phase_1..K, rmse,
n_obs`` — amplitude/phase follow ``A_k·cos(2πkt/P − φ_k)`` with
``A = hypot(s, c)``, ``φ = atan2(s, c)``. Pixels with fewer valid
observations than parameters (or a degenerate time design) are NaN in
every fit plane; ``n_obs`` is always real. Same ``rawf32``/−9999
output contract as :mod:`trend`.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

from vrtility_spark.composite import MAX_ACTIVE_BYTES, MAX_STACK_BYTES
from vrtility_spark.trend import (
    TREND_SCHEMA, _stack_map, _stat_merge, _stat_partials)

#: normalized pivots below this mark a pixel's design as degenerate →
#: NaN fit. The solver Jacobi-scales the normal matrix first (unit
#: diagonal), so this is a RELATIVE conditioning threshold — invariant
#: to units, scene counts and time offsets.
_PIV_EPS = 1e-7

HARMONIC_SCHEMA = TREND_SCHEMA  # same relational contract as trend


def n_params(n_harmonics: int) -> int:
    return 2 + 2 * int(n_harmonics)


def design_np(ts_years: np.ndarray, n_harmonics: int = 1,
              period_years: float = 1.0) -> np.ndarray:
    """``(T,) → (T, p)`` design matrix ``[1, t, sin_k…, cos_k…]``."""
    t = np.asarray(ts_years, dtype=np.float64)
    cols = [np.ones_like(t), t]
    for k in range(1, int(n_harmonics) + 1):
        w = 2.0 * np.pi * k / float(period_years)
        cols.append(np.sin(w * t))
        cols.append(np.cos(w * t))
    return np.stack(cols, axis=1)


def _acc_rows(p: int) -> int:
    return p * (p + 1) // 2 + p + 1  # XtX triangle + Xty + Σy²


def fold_scene(acc: np.ndarray, x: np.ndarray, data: np.ndarray) -> None:
    """Fold ONE scene into the ``(q, B, H, W)`` sufficient-statistics
    block in place (``x`` = that scene's design row). The single home
    of the accumulator index order — the batch partials and the
    streaming state must stay byte-compatible."""
    p = len(x)
    ok = ~np.isnan(data)
    okf = ok.astype(np.float64)
    y = np.where(ok, data, 0.0)
    idx = 0
    for i in range(p):
        for j in range(i, p):
            acc[idx] += (x[i] * x[j]) * okf
            idx += 1
    for i in range(p):
        acc[idx] += x[i] * y
        idx += 1
    acc[idx] += y * y


def accumulate_np(X: np.ndarray, stack: np.ndarray) -> np.ndarray:
    """``(T, p)`` design × ``(T, B, H, W)`` NaN-masked stack →
    ``(q, B, H, W)`` sufficient statistics (validity folded per pixel)."""
    T, p = X.shape
    ok = ~np.isnan(stack)
    okf = ok.astype(np.float64)
    y = np.where(ok, stack, 0.0)
    parts = []
    for i in range(p):
        xi = X[:, i].reshape(-1, 1, 1, 1)
        for j in range(i, p):
            xj = X[:, j].reshape(-1, 1, 1, 1)
            parts.append((xi * xj * okf).sum(axis=0))
    for i in range(p):
        xi = X[:, i].reshape(-1, 1, 1, 1)
        parts.append((xi * y).sum(axis=0))
    parts.append((y * y).sum(axis=0))
    return np.stack(parts)


def solve_normal_np(M: np.ndarray, v: np.ndarray,
                    eps: float = _PIV_EPS):
    """Solve ``M x = v`` for a batch of symmetric PSD systems —
    ``(N, p, p) × (N, p) → (N, p)`` plus an ``ok`` mask. Jacobi scaling
    to unit diagonal (conditioning guard becomes relative), then
    vectorized Gaussian elimination without pivoting; any pixel whose
    normalized pivot collapses is flagged, not solved."""
    M = np.asarray(M, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    N, p = v.shape
    diag = np.einsum("nii->ni", M)
    ok = (diag > 0.0).all(axis=1)
    d = np.sqrt(np.where(diag > 0.0, diag, 1.0))
    A = np.concatenate(
        [M / (d[:, :, None] * d[:, None, :]), (v / d)[..., None]], axis=2)
    for k in range(p):
        piv = A[:, k, k].copy()
        ok &= np.abs(piv) > eps
        piv[~ok] = 1.0
        A[:, k, :] /= piv[:, None]
        for i in range(k + 1, p):
            A[:, i, :] -= A[:, i, k][:, None] * A[:, k, :]
    x = np.zeros((N, p))
    for k in range(p - 1, -1, -1):
        x[:, k] = A[:, k, p] - (A[:, k, k + 1:p] * x[:, k + 1:p]).sum(-1)
    x /= d
    x[~ok] = np.nan
    return x, ok


def harmonic_finalize(acc: np.ndarray, n_harmonics: int = 1) -> np.ndarray:
    """``(q, B, H, W)`` sufficient statistics → output planes
    ``((p + 2K + 2)·B, H, W)`` (see module docstring for the order)."""
    K = int(n_harmonics)
    p = n_params(K)
    q, B, H, W = acc.shape
    if q != _acc_rows(p):
        raise ValueError(f"accumulator has {q} rows, basis wants "
                         f"{_acc_rows(p)}")
    tri = acc[:p * (p + 1) // 2].reshape(-1, B * H * W).T
    v = acc[p * (p + 1) // 2:p * (p + 1) // 2 + p] \
        .reshape(p, B * H * W).T
    syy = acc[-1].reshape(-1)
    M = np.zeros((B * H * W, p, p))
    idx = 0
    for i in range(p):
        for j in range(i, p):
            M[:, i, j] = tri[:, idx]
            M[:, j, i] = tri[:, idx]
            idx += 1
    n = M[:, 0, 0]
    beta, ok = solve_normal_np(M, v)
    ok &= n >= p
    beta[~ok] = np.nan
    with np.errstate(invalid="ignore"):
        rss = np.maximum(syy - (beta * v).sum(axis=1), 0.0)
        rmse = np.where(ok, np.sqrt(rss / n), np.nan)
    planes = [beta[:, 0], beta[:, 1]]
    for k in range(K):
        planes.append(beta[:, 2 + 2 * k])      # s_k
    for k in range(K):
        planes.append(beta[:, 3 + 2 * k])      # c_k
    for k in range(K):
        s, c = beta[:, 2 + 2 * k], beta[:, 3 + 2 * k]
        planes.append(np.hypot(s, c))          # amp_k
    for k in range(K):
        s, c = beta[:, 2 + 2 * k], beta[:, 3 + 2 * k]
        with np.errstate(invalid="ignore"):
            planes.append(np.arctan2(s, c))    # phase_k
    planes.append(rmse)
    planes.append(n)
    out = np.stack(planes)                      # (F, B*H*W)
    F_ = out.shape[0]
    return (out.reshape(F_, B, H, W).transpose(1, 0, 2, 3)
            .reshape(B * F_, H, W))


def harmonic_np(ts_years: np.ndarray, stack: np.ndarray,
                n_harmonics: int = 1,
                period_years: float = 1.0) -> np.ndarray:
    """Whole-stack closed form (the bit-parity reference path)."""
    X = design_np(ts_years, n_harmonics, period_years)
    return harmonic_finalize(accumulate_np(X, stack), n_harmonics)


def harmonic_stack(df: DataFrame, n_harmonics: int = 1,
                   period_years: float = 1.0, key: str = "cell_id",
                   scene_fn: Callable | None = None,
                   max_stack_bytes: int | None = MAX_STACK_BYTES
                   ) -> DataFrame:
    """Direct grouped-stack path (:func:`composite.cell_stack`) — the
    parity reference for the incremental path."""
    return _stack_map(
        df, key, scene_fn, max_stack_bytes,
        lambda ts, stack: harmonic_np(ts, stack, n_harmonics, period_years),
        hatch="mode='incremental' (never stacks), ")


def harmonic_partials(df: DataFrame, n_harmonics: int = 1,
                      period_years: float = 1.0, key: str = "cell_id",
                      scene_fn: Callable | None = None,
                      max_active_cells: int = 64,
                      max_active_bytes: int = MAX_ACTIVE_BYTES
                      ) -> DataFrame:
    """Stage 1: per-partition running sufficient statistics — one
    ``(q, B, H, W)`` float64 normal-equation block per active cell
    (see :func:`trend._stat_partials`)."""
    K, P = int(n_harmonics), float(period_years)

    def fold(acc, t, data):
        fold_scene(acc, design_np(np.array([t]), K, P)[0], data)

    return _stat_partials(df, key, scene_fn, _acc_rows(n_params(K)), fold,
                          max_active_cells, max_active_bytes)


def harmonic_incremental(df: DataFrame, n_harmonics: int = 1,
                         period_years: float = 1.0,
                         key: str = "cell_id",
                         scene_fn: Callable | None = None,
                         max_active_cells: int = 64,
                         max_active_bytes: int = MAX_ACTIVE_BYTES
                         ) -> DataFrame:
    """Bounded-memory harmonic fit: partial normal-equation blocks per
    partition, merged per cell (elementwise sum), finalized with the
    deterministic elimination — scenes never shuffle."""
    K = int(n_harmonics)
    part = harmonic_partials(df, n_harmonics=K,
                             period_years=period_years, key=key,
                             scene_fn=scene_fn,
                             max_active_cells=max_active_cells,
                             max_active_bytes=max_active_bytes)
    return _stat_merge(part, _acc_rows(n_params(K)),
                       lambda acc: harmonic_finalize(acc, K))


def harmonic(df: DataFrame, n_harmonics: int = 1,
             period_years: float = 1.0, key: str = "cell_id",
             scene_fn: Callable | None = None,
             mode: str = "auto", **kw) -> DataFrame:
    """Per-pixel seasonal-fit router: ``auto``/``incremental`` stream
    scene-by-scene (the 100-TB shape); ``stack`` materializes the
    grouped stack (RAM-guarded) for parity checks."""
    if int(n_harmonics) < 0:
        raise ValueError("n_harmonics must be >= 0")
    if not float(period_years) > 0:
        raise ValueError("period_years must be > 0")
    if mode in ("auto", "incremental"):
        return harmonic_incremental(df, n_harmonics=n_harmonics,
                                    period_years=period_years, key=key,
                                    scene_fn=scene_fn, **kw)
    if mode == "stack":
        return harmonic_stack(df, n_harmonics=n_harmonics,
                              period_years=period_years, key=key,
                              scene_fn=scene_fn, **kw)
    raise KeyError(f"unknown harmonic mode {mode!r}; "
                   "choose auto | incremental | stack")
