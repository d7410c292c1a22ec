"""Per-pixel structural break detection — the BFAST-family change
product (deforestation date maps, disturbance alarms): for every
(pixel, band) time series, find the single most likely breakpoint by
piecewise-OLS, and report WHEN it happened, HOW BIG the level shift
was, and how much of the variance the split explains.

Model: candidate break at scene index k splits the series into
``[0, k)`` and ``[k, T)``; each side gets its own OLS line (the same
closed form as :mod:`trend`); the chosen break minimizes the summed
SSE.  Reported per band (4 planes):

- ``break_t``  — fractional years since :data:`trend.TREND_EPOCH` of
  the first scene of the post-break segment,
- ``magnitude`` — right-segment fit minus left-segment fit evaluated
  AT the break instant (the level shift, in band units),
- ``score``   — ``1 − SSE_split / SSE_null`` against the no-break
  single-line fit (0 = explains nothing, →1 = a perfect split); NaN
  where the null fit is already exact,
- ``n_obs``   — valid observations used.

Pixels with fewer than ``min_seg`` valid observations on either side
of every candidate produce NaN break planes (n_obs still reported).
Ties break on the EARLIEST candidate (strict-improvement argmin) —
fully deterministic.

Why a grouped stack and not sufficient statistics: the trend fit folds
into 5 numbers per pixel, but the break SEARCH must evaluate every
candidate split, which needs the per-scene prefix of those statistics
— an inherently ordered pass over the series.  The kernel therefore
runs one O(T) sweep maintaining running left-segment sums (six
``(B, H, W)`` planes — memory is independent of T beyond the stack
itself), and the distributed shape is the same cell-keyed
``groupBy().applyInArrow`` the holistic composites use: scenes
shuffle ONCE on the spatial key, and each cell is read through
:func:`composite.cell_stack` (its group rules, memory budget
included).  At 100 TB the shuffle is the same volume as any composite —
no extra pass, no driver involvement.

Reference parity: the reference's time-series verbs are per-timestep
filters (src/hampel-filter-matrix.cpp, R/singleband-many-to-many.R);
break detection is the change-DETECTION twin of :mod:`trend`'s
change-RATE product, completing the stack → (rate, break) family.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

from vrtility_spark.composite import MAX_STACK_BYTES
from vrtility_spark.trend import TREND_SCHEMA, _stack_map

_DEN_EPS = 1e-12

BREAKS_SCHEMA = TREND_SCHEMA  # same relational contract as trend


def _seg_sse(n, St, Stt, Sy, Sty, Syy):
    """SSE of the per-pixel OLS line over a segment given its sums —
    vectorized over pixel planes.  Degenerate segments (n < 2 or zero
    time variance) fall back to the mean fit; n == 0 → SSE 0."""
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_sse = Syy - np.divide(Sy * Sy, n, out=np.zeros_like(Syy),
                                   where=n > 0)
        den = n * Stt - St * St
        slope = np.divide(n * Sty - St * Sy, den,
                          out=np.zeros_like(Syy), where=den > _DEN_EPS)
        line_sse = mean_sse - slope * slope * np.divide(
            den, n, out=np.zeros_like(Syy), where=n > 0)
        sse = np.where(den > _DEN_EPS, line_sse, mean_sse)
    # clamp tiny negative float noise
    return np.maximum(sse, 0.0), slope


def _seg_fit_at(t, n, St, Stt, Sy, Sty):
    """Fitted value of the segment line (or mean) at time ``t``."""
    with np.errstate(invalid="ignore", divide="ignore"):
        den = n * Stt - St * St
        slope = np.divide(n * Sty - St * Sy, den,
                          out=np.zeros_like(Sy), where=den > _DEN_EPS)
        tbar = np.divide(St, n, out=np.zeros_like(Sy), where=n > 0)
        ybar = np.divide(Sy, n, out=np.zeros_like(Sy), where=n > 0)
        return ybar + slope * (t - tbar)


def breaks_np(ts_years: np.ndarray, stack: np.ndarray,
              min_seg: int = 3) -> np.ndarray:
    """``(T, B, H, W)`` NaN-masked stack + times ``(T,)`` →
    ``(4·B, H, W)`` planes ``[break_t, magnitude, score, n_obs] × B``
    (band-major: all four planes of band 0, then band 1, …)."""
    if min_seg < 2:
        raise ValueError(f"min_seg must be >= 2 (an OLS line needs two "
                         f"points), got {min_seg}")
    t = np.asarray(ts_years, dtype=np.float64)
    if t.ndim != 1 or len(t) != stack.shape[0]:
        raise ValueError(f"times {t.shape} do not match stack "
                         f"{stack.shape}")
    T, B, H, W = stack.shape
    Y = stack.astype(np.float64)
    V = np.isfinite(Y)
    Y0 = np.where(V, Y, 0.0)
    tt = t.reshape(-1, 1, 1, 1)

    def sums(mask, y):
        n = mask.sum(axis=0, dtype=np.float64)
        return (n, (tt * mask).sum(0), (tt * tt * mask).sum(0),
                y.sum(0), (tt * y).sum(0), (y * y).sum(0))

    tot = sums(V, Y0)
    n_obs = tot[0]
    null_sse, _ = _seg_sse(*tot)

    best_sse = np.full((B, H, W), np.inf)
    best_k = np.full((B, H, W), -1, dtype=np.int64)
    # running left-segment sums — one O(T) sweep, six planes of memory
    left = [np.zeros((B, H, W)) for _ in range(6)]
    for k in range(1, T):
        i = k - 1
        vi = V[i].astype(np.float64)
        yi = Y0[i]
        ti = t[i]
        inc = (vi, ti * vi, ti * ti * vi, yi, ti * yi, yi * yi)
        for j in range(6):
            left[j] += inc[j]
        right = tuple(tot[j] - left[j] for j in range(6))
        ok = (left[0] >= min_seg) & (right[0] >= min_seg)
        if not ok.any():
            continue
        sse = (_seg_sse(*left)[0] + _seg_sse(*right)[0])
        upd = ok & (sse < best_sse)
        best_sse = np.where(upd, sse, best_sse)
        best_k = np.where(upd, k, best_k)

    found = best_k >= 0
    out = np.full((B, 4, H, W), np.nan)
    out[:, 3] = n_obs
    if found.any():
        # re-derive magnitude at each pixel's chosen k: group pixels by
        # k (at most T-1 groups) so the re-pass stays O(T) sweeps
        cum = [np.zeros((B, H, W)) for _ in range(6)]
        for k in range(1, T):
            i = k - 1
            vi = V[i].astype(np.float64)
            yi = Y0[i]
            ti = t[i]
            inc = (vi, ti * vi, ti * ti * vi, yi, ti * yi, yi * yi)
            for j in range(6):
                cum[j] += inc[j]
            sel = found & (best_k == k)
            if not sel.any():
                continue
            right = tuple(tot[j] - cum[j] for j in range(6))
            tb = t[k]  # the break instant: first post-break scene
            lf = _seg_fit_at(tb, cum[0], cum[1], cum[2], cum[3], cum[4])
            rf = _seg_fit_at(tb, right[0], right[1], right[2],
                             right[3], right[4])
            out[:, 0][sel] = tb
            out[:, 1][sel] = (rf - lf)[sel]
            with np.errstate(invalid="ignore", divide="ignore"):
                sc = np.where(null_sse > 0.0,
                              1.0 - best_sse / null_sse, np.nan)
            out[:, 2][sel] = sc[sel]
    return out.reshape(4 * B, H, W)


def breaks_stack(df: DataFrame, key: str = "cell_id",
                 min_seg: int = 3,
                 scene_fn: Callable | None = None,
                 max_stack_bytes: int | None = MAX_STACK_BYTES
                 ) -> DataFrame:
    """Distributed break detection: ONE cell-keyed grouped map (the
    composite shuffle) over :func:`composite.cell_stack`.
    Output tiles are ``rawf32``/-9999 with ``4·B`` planes."""
    if min_seg < 2:
        raise ValueError(f"min_seg must be >= 2, got {min_seg}")
    ms = int(min_seg)
    return _stack_map(df, key, scene_fn, max_stack_bytes,
                      lambda ts, stack: breaks_np(ts, stack, min_seg=ms))
