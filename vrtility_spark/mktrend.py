"""Per-pixel Mann–Kendall trend test + Theil–Sen slope: the
non-parametric twin of :mod:`trend` (OLS). MK/Sen is the standard EO
answer when the time series is short, noisy, or non-Gaussian —
monotonic-trend detection with a significance score that does not
assume residual normality, and a slope estimator robust to outliers
OLS is not (a single bad scene can flip an OLS greening map; Sen's
median-of-pairwise-slopes shrugs it off).

Reference parity: the reference's time-series surface is per-timestep
filtering (src/hampel-filter-matrix.cpp, R/singleband-many-to-many.R);
like :mod:`trend` and :mod:`harmonic` this is its reduction twin, one
statistic per (pixel, band) over the whole stack.

Statistics (per pixel/band, over the ``n`` valid observations):

- ``S  = Σ_{i<j, t_i≠t_j} sign(y_j − y_i)`` — pairs at IDENTICAL
  timestamps are excluded (their order is arbitrary, so their sign
  would depend on sort stability; de-duplicate or composite per period
  first if your collection has same-instant scenes).
- ``tau = S / (n(n−1)/2)`` — Kendall's tau-a.
- ``tau`` is taken over the USABLE pairs, so tau/sen/n agree on which
  pixels are defined.
- ``Var(S) = [n(n−1)(2n+5) − Σ_g g(g−1)(2g+5)] / 18`` over tied VALUE
  groups ``g`` (the classic tie correction), and the
  continuity-corrected normal score ``z = (S ∓ 1)/√Var`` (0 when
  ``S = 0``). The variance formula assumes one observation per
  instant, so ``z`` is nodata wherever same-instant pairs were
  excluded (and wherever Var degenerates, i.e. every valid sample
  tied).
- ``sen = median over pairs of (y_j − y_i)/(t_j − t_i)`` (units/year,
  same time axis as :data:`trend.TREND_EPOCH`).

Spark-first shape: unlike OLS/harmonic these are NOT decomposable —
S and the tie correction are rank statistics and Sen is a median over
all pairs, so no fixed-size per-scene partial exists. The operator
therefore uses the grouped-stack path (one ``applyInPandas`` per cell
reading it through :func:`composite.cell_stack`, as the holistic
composites geomedian/medoid do). That is the right 100-TB shape anyway: T (scenes
per cell) is bounded by the acquisition cadence, the O(T²) pair work
is pure in-worker NumPy, and the pair-slope array is ROW-CHUNKED so
worker memory stays bounded by ``chunk_bytes`` regardless of tile
size; spatial scale comes from cells (and ``split_cells`` composes,
since the statistic is per-pixel).

Output: a composite-shaped ``rawf32`` tile with FOUR planes per input
band — ``sen_0..B-1, tau_0..B-1, z_0..B-1, n_obs_0..B-1`` — nodata
``-9999`` (same rationale as trend.OUT_NODATA); sen/tau/z are nodata
where fewer than 2 valid observations (and z where Var degenerates,
i.e. every valid sample tied).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

from vrtility_spark.composite import MAX_STACK_BYTES
from vrtility_spark.trend import _stack_map

#: bound on the materialized pair-slope block (P × B × chunk_h × W f64)
SEN_CHUNK_BYTES = 256 * 2**20


def _tie_term(stack: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Σ_g g(g−1)(2g+5) over tied-value groups, per pixel — vectorized
    run-length walk down the value-sorted stack (one O(B·H·W) pass per
    timestep, no per-pixel Python)."""
    T = stack.shape[0]
    sv = np.sort(np.where(valid, stack, np.inf), axis=0)
    out = np.zeros(stack.shape[1:], dtype=np.float64)
    run = np.ones(stack.shape[1:], dtype=np.float64)

    def f(g):
        return g * (g - 1.0) * (2.0 * g + 5.0)

    for k in range(1, T):
        eq = np.isfinite(sv[k]) & (sv[k] == sv[k - 1])
        # runs that just ended contribute their group term
        out += np.where(~eq, f(run), 0.0)
        run = np.where(eq, run + 1.0, 1.0)
    return out + f(run)


def mk_np(ts_years: np.ndarray, stack: np.ndarray,
          chunk_bytes: int = SEN_CHUNK_BYTES) -> np.ndarray:
    """Mann–Kendall + Sen on a ``(T, B, H, W)`` NaN-masked float stack
    against times ``(T,)`` (years) → ``(4B, H, W)`` float64 planes
    ``sen, tau, z, n_obs`` (NaN = undefined). Kernel math is gated by
    the naive per-pixel double-loop oracle in tests/test_mktrend.py."""
    t = np.asarray(ts_years, dtype=np.float64)
    stack = np.asarray(stack, dtype=np.float64)
    # non-finite samples (e.g. a ratio scene_fn dividing by zero) are
    # invalid, same as NaN — otherwise they'd skew S/sen while being
    # excluded from n (and OLS trend's isnan test would disagree)
    stack = np.where(np.isfinite(stack), stack, np.nan)
    T, B, H, W = stack.shape
    valid = ~np.isnan(stack)
    n = valid.sum(axis=0).astype(np.float64)

    pairs = [(i, j) for i in range(T) for j in range(i + 1, T)
             if t[j] != t[i]]
    S = np.zeros((B, H, W), dtype=np.float64)
    npairs = np.zeros((B, H, W), dtype=np.float64)  # usable pairs
    for i, j in pairs:
        d = stack[j] - stack[i]
        ok = ~np.isnan(d)
        S += np.where(ok, np.sign(d), 0.0)
        npairs += ok

    full_pairs = n * (n - 1.0) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        # tau over the USABLE pairs (same-instant pairs excluded), so
        # tau and sen agree on which pixels are defined
        tau = np.where(npairs > 0, S / npairs, np.nan)
        var = (n * (n - 1.0) * (2.0 * n + 5.0)
               - _tie_term(stack, valid)) / 18.0
        var = np.maximum(var, 0.0)
        z = np.where(var > 0, (S - np.sign(S)) / np.sqrt(var), np.nan)
    # z's variance formula assumes one observation per instant: where
    # same-instant pairs were excluded (npairs < full_pairs) it does
    # not apply — nodata there (composite per period / dedup first)
    z = np.where((n < 2) | (npairs < full_pairs), np.nan, z)
    tau = np.where(n < 2, np.nan, tau)

    # Sen: median of pairwise slopes, row-chunked so the (P, B, ch, W)
    # block stays under chunk_bytes at any tile size
    sen = np.full((B, H, W), np.nan)
    P = len(pairs)
    if P:
        ch = max(1, int(chunk_bytes // max(1, P * B * W * 8)))
        for y0 in range(0, H, ch):
            y1 = min(H, y0 + ch)
            sl = np.empty((P, B, y1 - y0, W), dtype=np.float64)
            for p, (i, j) in enumerate(pairs):
                sl[p] = (stack[j, :, y0:y1] - stack[i, :, y0:y1]) \
                    / (t[j] - t[i])
            with np.errstate(invalid="ignore"):
                import warnings
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    sen[:, y0:y1] = np.nanmedian(sl, axis=0)
    sen = np.where(n < 2, np.nan, sen)
    return np.concatenate([sen, tau, z, n], axis=0)


def mk_trend(df: DataFrame, key: str = "cell_id",
             scene_fn: Callable | None = None,
             max_stack_bytes: int | None = MAX_STACK_BYTES,
             chunk_bytes: int = SEN_CHUNK_BYTES) -> DataFrame:
    """Distributed per-cell Mann–Kendall + Sen over a scene table:
    one grouped Arrow map per cell over :func:`composite.cell_stack`
    (holistic — see module docstring for why no decomposable path
    exists), output one ``rawf32`` tile per cell with ``4B`` planes.
    The statistic is per-pixel, so spatial splits compose exactly."""
    return _stack_map(
        df, key, scene_fn, max_stack_bytes,
        lambda ts, stack: mk_np(ts, stack, chunk_bytes=chunk_bytes))
