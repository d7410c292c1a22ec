"""Time-series operators: Hampel outlier filter + many-to-many windows.

Exact parity with the reference's C++ kernel
(/root/reference/src/hampel-filter-matrix.cpp:24-124):

- per series (pixel, band): NAs are *compacted out* first; the filter
  runs over consecutive valid values only (:33-47);
- for interior valid indices ``i`` in ``[k, n_valid-k)``: window of
  ``2k+1`` valid values, ``x0 = median(window)``,
  ``S0 = 1.4826 * median(|window - x0|)``; replace ``x[i]`` by ``x0``
  iff ``|x[i] - x0| > t0*S0`` (:61-86). Decisions always compare
  against the ORIGINAL values (the C++ writes into a separate copy);
- edges (first/last k valid points) preserved; series with fewer than
  ``2k+1`` valid points untouched (:51);
- optional LOCF imputation of remaining NAs (:96-121).

The whole filter is NumPy-vectorized across all pixels of a tile at
once via a stable NaN-compaction argsort + windows stacked along a
leading axis, whose medians come from the sort-based
:func:`composite.nanmedian0` — the (time × pixels) matrix shape of
``singleband_m2m`` (/root/reference/R/singleband-many-to-many.R:138-257).
"""

from __future__ import annotations

import warnings

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrtility_spark import codec
from vrtility_spark.composite import (
    MAX_STACK_BYTES, arrow_schema, arrow_table, cell_stack, nanmedian0,
    stack_input)


def hampel_np(X: np.ndarray, k: int, t0: float = 3.0,
              impute_na: bool = False) -> np.ndarray:
    """Hampel filter on a (T, P) matrix, columns = independent series."""
    X = np.asarray(X, dtype=np.float64)
    T, P = X.shape
    isna = np.isnan(X)
    # stable compaction: valid values to the front, original order kept
    order = np.argsort(isna, axis=0, kind="stable")  # (T,P)
    V = np.take_along_axis(X, order, axis=0)  # compacted, NaNs at tail
    n_valid = (~isna).sum(axis=0)  # (P,)
    Fv = V.copy()
    win = 2 * k + 1
    if T >= win:
        # window axis first, (win, T-2k, P), for the sort-based median
        Wn = np.stack([V[j: T - 2 * k + j] for j in range(win)])
        x0 = nanmedian0(Wn)
        S0 = 1.4826 * nanmedian0(np.abs(Wn - x0))
        centers = V[k: T - k]  # (T-2k, P)
        # center index i (in compacted coords) = row + k; interior iff
        # k <= i < n_valid - k  and n_valid >= 2k+1
        idx = np.arange(k, T - k)[:, None]
        interior = (idx < (n_valid[None, :] - k)) & (n_valid[None, :] >= win)
        with np.errstate(invalid="ignore"):
            outlier = interior & (np.abs(centers - x0) > t0 * S0)
        Fv[k: T - k] = np.where(outlier, x0, centers)
    # scatter back to original positions
    out = np.empty_like(X)
    np.put_along_axis(out, order, Fv, axis=0)
    out[isna] = np.nan
    if impute_na:
        out = locf_np(out)
    return out


def locf_np(X: np.ndarray) -> np.ndarray:
    """Last-observation-carried-forward along axis 0 (leading NaNs stay)."""
    idx = np.where(np.isnan(X), -1, np.arange(X.shape[0])[:, None])
    filled = np.maximum.accumulate(idx, axis=0)
    out = np.where(filled >= 0,
                   np.take_along_axis(X, np.maximum(filled, 0), axis=0), X)
    return out


def moving_mean_np(X: np.ndarray, half: int) -> np.ndarray:
    """Centered moving mean over valid values, window ``2*half+1``
    (truncated at edges) — the reference's documented m2m example
    (R/singleband-many-to-many.R:106-123).

    Cumsum/valid-count arithmetic: O(T·P) total with no per-timestep
    Python loop (the loop form re-reads each window, O(T·half·P))."""
    Xf = np.asarray(X, dtype=np.float64)
    T, P = Xf.shape
    isna = np.isnan(Xf)
    cs = np.zeros((T + 1, P))
    np.cumsum(np.where(isna, 0.0, Xf), axis=0, out=cs[1:])
    cn = np.zeros((T + 1, P))
    np.cumsum((~isna).astype(np.float64), axis=0, out=cn[1:])
    lo = np.maximum(np.arange(T) - half, 0)
    hi = np.minimum(np.arange(T) + half + 1, T)
    s = cs[hi] - cs[lo]
    n = cn[hi] - cn[lo]
    with np.errstate(invalid="ignore", divide="ignore"):
        out = s / n
    out[n == 0] = np.nan
    out[isna] = np.nan
    return out


def savgol_coeffs(window: int, polyorder: int) -> np.ndarray:
    """Savitzky–Golay smoothing coefficients for the window CENTER:
    fit a degree-``polyorder`` polynomial to the ``window`` samples by
    least squares and evaluate it at the center — closed form, the
    pseudo-inverse row selecting the constant term.  Deterministic
    (pure LAPACK on a tiny Vandermonde)."""
    window, polyorder = int(window), int(polyorder)
    if window % 2 == 0 or window < 3:
        raise ValueError(f"window must be odd and >= 3, got {window}")
    if polyorder < 0 or polyorder >= window:
        raise ValueError(
            f"polyorder must be in [0, window), got {polyorder}")
    half = window // 2
    offsets = np.arange(-half, half + 1, dtype=np.float64)
    A = np.vander(offsets, polyorder + 1, increasing=True)  # (win, p+1)
    return np.linalg.pinv(A)[0]  # constant-term row = value at center


def savgol_np(X: np.ndarray, window: int = 5,
              polyorder: int = 2) -> np.ndarray:
    """Savitzky–Golay smoothing along axis 0 of the ``(T, P)`` series
    matrix — the classic EO time-series smoother (NDVI profiles), the
    least-squares twin of the reference's Hampel window
    (src/hampel-filter-matrix.cpp).

    Conservative semantics matching the Hampel edge rule: rows whose
    centered window leaves the series, and windows containing ANY NaN,
    keep their ORIGINAL value — smoothing never invents data at edges
    or across gaps.  Vectorized: one sliding-window product, O(T·P·w).
    """
    c = savgol_coeffs(window, polyorder)
    Xf = np.asarray(X, dtype=np.float64)
    T, P = Xf.shape
    out = Xf.copy()
    if T < window:
        return out
    from numpy.lib.stride_tricks import sliding_window_view
    W = sliding_window_view(Xf, window, axis=0)  # (T-w+1, P, w)
    sm = np.einsum("tpw,w->tp", W, c)
    ok = np.isfinite(W).all(axis=-1)
    half = window // 2
    mid = out[half:T - half]
    out[half:T - half] = np.where(ok, sm, mid)
    return out


def savgol(df: DataFrame, window: int = 5, polyorder: int = 2,
           key: str = "cell_id") -> DataFrame:
    """Per-pixel Savitzky–Golay smoothing of an image time series via
    :func:`singleband_m2m` (one cell-keyed shuffle, per-timestep
    output rows)."""
    return singleband_m2m(
        df, lambda X: savgol_np(X, window, polyorder), key=key)


def _dd_bands(T: int, d: int) -> np.ndarray:
    """Banded representation of ``D_dᵀ D_d`` (the ``d``-th-difference
    penalty of the Whittaker smoother): ``bands[k, i] = (DᵀD)[i+k, i]``
    for ``k = 0..d``.  ``D`` has integer entries (binomial signs), so
    every band value is an exact small integer — host-portable no
    matter which BLAS computes the product."""
    D = np.diff(np.eye(T), n=d, axis=0)          # (T-d, T), integers
    dtd = D.T @ D                                # exact (integer sums)
    return np.stack([np.concatenate([np.diagonal(dtd, -k),
                                     np.zeros(k)]) for k in range(d + 1)])


def _banded_chol_solve(diag: np.ndarray, bands: np.ndarray,
                       rhs: np.ndarray, d: int) -> np.ndarray:
    """Solve ``A z = rhs`` for each column, where per-column
    ``A = diag(diag[:, p]) + banded(bands)`` is SPD with lower
    bandwidth ``d``.  Pure-NumPy banded Cholesky + two substitutions,
    vectorized across columns: O(T·d²) per column, fixed operation
    order (bit-deterministic on any host, unlike LAPACK ``gesv``)."""
    T, P = diag.shape
    ell = np.zeros((d + 1, T, P))
    for i in range(T):
        s = diag[i] + bands[0, i]
        for k in range(1, min(d, i) + 1):
            s = s - ell[k, i - k] ** 2
        l0 = np.sqrt(s)
        ell[0, i] = l0
        for k in range(1, min(d, T - 1 - i) + 1):
            s = np.full(P, bands[k, i])
            for m in range(1, min(d - k, i) + 1):
                s = s - ell[k + m, i - m] * ell[m, i - m]
            ell[k, i] = s / l0
    y = np.zeros((T, P))
    for i in range(T):
        s = rhs[i]
        for k in range(1, min(d, i) + 1):
            s = s - ell[k, i - k] * y[i - k]
        y[i] = s / ell[0, i]
    z = np.zeros((T, P))
    for i in range(T - 1, -1, -1):
        s = y[i]
        for k in range(1, min(d, T - 1 - i) + 1):
            s = s - ell[k, i] * z[i + k]
        z[i] = s / ell[0, i]
    return z


def whittaker_np(X: np.ndarray, lam: float = 5.0, d: int = 2) -> np.ndarray:
    """Weighted Whittaker–Eilers smoother along axis 0 of the (T, P)
    series matrix — the standard EO time-series smoother/gap-filler
    (Eilers 2003, "A perfect smoother"): per column solve
    ``(W + λ DᵀD) z = W y`` with ``W = diag(1 if finite else 0)``, so
    NaN gaps are smoothly interpolated (never voted on) and the whole
    profile is denoised with an explicit roughness penalty λ.

    Columns with fewer than ``d`` finite samples keep their original
    values (the penalized system loses positive-definiteness there);
    everything else returns the smooth profile at EVERY timestep,
    including formerly-NaN gaps.
    """
    if lam <= 0:
        raise ValueError(f"lam must be > 0, got {lam}")
    d = int(d)
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    Xf = np.asarray(X, dtype=np.float64)
    T, P = Xf.shape
    if T <= d:
        return Xf.copy()
    finite = np.isfinite(Xf)
    bad = finite.sum(axis=0) < d
    w = finite.astype(np.float64)
    w[:, bad] = 1.0                      # dummy PD system, overwritten
    rhs = np.where(finite, Xf, 0.0)
    rhs[:, bad] = 0.0
    bands = float(lam) * _dd_bands(T, d)
    diag = w + bands[0][:, None]
    off = bands.copy()
    off[0] = 0.0
    out = _banded_chol_solve(diag, off, rhs, d)
    out[:, bad] = Xf[:, bad]
    return out


def whittaker(df: DataFrame, lam: float = 5.0, d: int = 2,
              key: str = "cell_id") -> DataFrame:
    """Per-pixel Whittaker smoothing (and NaN gap interpolation) of an
    image time series via :func:`singleband_m2m` — one cell-keyed
    shuffle, per-timestep output rows, tile payloads decoded only
    inside the grouped Arrow map."""
    return singleband_m2m(
        df, lambda X: whittaker_np(X, lam, d), key=key)


M2M_SCHEMA = (
    "image_id string, cell_id long, datetime timestamp, bytes binary, "
    "w int, h int, fmt string, nodata double, caption string, "
    "band_nodata array<double>"
)


def singleband_m2m(df: DataFrame,
                   m2m_fun: Callable[[np.ndarray], np.ndarray],
                   key: str = "cell_id",
                   max_stack_bytes: int | None = MAX_STACK_BYTES,
                   out_fmt: str | None = None,
                   out_nodata: float = -9999.0) -> DataFrame:
    """Grouped many-to-many map: per cell, stack the time series
    (:func:`composite.cell_stack`), apply ``m2m_fun`` to each band's
    (time × pixels) matrix, emit one row per stacked timestep — the
    ``singleband_m2m`` routine (R/singleband-many-to-many.R:138-257) as a
    single ``groupBy().applyInArrow`` with exploded output. The
    per-timestep sink becomes ``write.partitionBy("datetime")``.

    ``out_fmt`` re-types the per-timestep payloads (e.g. ``"rawf32"``
    with the ``out_nodata`` sentinel, ``band_nodata`` null) for kernels
    whose outputs leave the input's integer range — signed
    decomposition components would be destroyed by a uint16 re-encode;
    default keeps the input codec and per-band sentinels (the
    smoother/filter contract).
    """
    out_schema = arrow_schema(M2M_SCHEMA)

    def run(tbl: pa.Table) -> pa.Table:
        tbl, stack, nd = cell_stack(tbl, key,
                                    max_stack_bytes=max_stack_bytes)
        if stack is None:
            return out_schema.empty_table()
        Tn, B, H, W = stack.shape
        filtered = np.stack([
            m2m_fun(stack[:, b].reshape(Tn, H * W)).reshape(Tn, H, W)
            for b in range(B)
        ], axis=1)
        if out_fmt:
            o_fmt, o_nd, o_scalar = out_fmt, out_nodata, out_nodata
        else:
            o_fmt, o_nd, o_scalar = (
                tbl.column("fmt")[0].as_py(), nd,
                codec.nodata_scalar(tbl.column("nodata")[0].as_py()))
        o_bn = None if np.isscalar(o_nd) else list(o_nd)
        o_dtype = codec.dtype_for(o_fmt)
        return arrow_table(
            out_schema, image_id=tbl.column("image_id"),
            cell_id=tbl.column(key), datetime=tbl.column("datetime"),
            bytes=[codec.encode(codec.from_float(f, o_nd, o_dtype), o_fmt)
                   for f in filtered],
            w=[W] * Tn, h=[H] * Tn, fmt=[o_fmt] * Tn,
            nodata=[o_scalar] * Tn, caption=tbl.column("caption"),
            band_nodata=[o_bn] * Tn)

    return (stack_input(df, key, "datetime", "image_id", "caption")
            .groupBy(key).applyInArrow(run, schema=M2M_SCHEMA))


def hampel(df: DataFrame, k: int, t0: float = 3.0, impute_na: bool = False,
           key: str = "cell_id") -> DataFrame:
    return singleband_m2m(
        df, lambda X: hampel_np(X, k, t0, impute_na), key=key)


# ------------------------------------------- periodic gap-filling ----

def gapfill_periods(df: DataFrame, key: str = "cell_id",
                    order: str = "period", backfill: bool = False,
                    max_stack_bytes: int | None = MAX_STACK_BYTES) -> DataFrame:
    """Fill nodata pixels in a periodic-composite series from the
    nearest PRECEDING period (per-pixel LOCF along the period axis;
    ``backfill=True`` additionally fills leading gaps from the nearest
    following period) — the standard cloud-gap-filled monthly/quarterly
    product step after :func:`composite.composite_by_period`.

    Spark-first shape: one ``groupBy(cell)`` read through
    :func:`composite.cell_stack` with ``order`` as its time axis (its
    group rules apply: a null ``order`` row drops), over composites
    whose group size is the PERIOD COUNT (a decade of months is 120 rows),
    never the scene count — the heavy scene reduction already happened
    in the periodic composite's single shuffle. All non-payload columns
    (``period``, ``n_scenes``, captions, …) pass through untouched:
    ``n_scenes`` keeps meaning *scenes observed in that period*, not
    scenes-plus-borrowed-pixels. Period labels from
    ``composite_by_period`` (``2024-05`` / ``2024Q2`` / ``2024``)
    sort lexicographically in calendar order, so ``order="period"``
    needs no parsing. Fills every plane, including a trailing
    class/mask plane if the composite kept one.
    """
    out_schema = arrow_schema(df.schema)

    def run(tbl: pa.Table) -> pa.Table:
        tbl, stack, nd = cell_stack(tbl, key, order=order,
                                    max_stack_bytes=max_stack_bytes)
        if stack is None:
            return tbl.cast(out_schema)
        P = stack.shape[0]  # (P,B,H,W)
        M = stack.reshape(P, -1)
        M = locf_np(M)
        if backfill:
            M = locf_np(M[::-1])[::-1]
        filled = M.reshape(stack.shape)
        fmt = tbl.column("fmt")[0].as_py()
        dtype = codec.dtype_for(fmt)
        payloads = pa.array([
            codec.encode(codec.from_float(filled[i], nd, dtype), fmt)
            for i in range(P)], pa.binary())
        return tbl.set_column(tbl.column_names.index("bytes"), "bytes",
                              payloads).cast(out_schema)

    # every column passes through, so the grouped map reads them all
    return df.groupBy(key).applyInArrow(run, schema=df.schema)


# ---------------------------------------------- scalar window twins ----

def locf_col(col, order_col, partition_cols):
    """LOCF via built-ins: last non-null over an unbounded-preceding
    window (SURVEY.md §2.5 W1)."""
    from pyspark.sql import Window
    w = (Window.partitionBy(*partition_cols).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return F.last(col, ignorenulls=True).over(w)


DECOMPOSE_COMPONENTS = ("trend", "seasonal", "resid")


def decompose_np(X: np.ndarray, period: int,
                 component: str = "trend") -> np.ndarray:
    """Classical additive seasonal decomposition along axis 0 of the
    ``(T, P)`` series matrix (the statsmodels ``seasonal_decompose``
    recipe, the moving-average core of STL/BFAST preprocessing):

    * ``trend``    — centered moving average of one full period
      (even periods use the 2×p MA with half-weight ends); rows whose
      window leaves the series, or whose window holds ANY NaN, are
      NaN — averages are never invented at edges or across gaps;
    * ``seasonal`` — per-phase mean of the detrended series over the
      available cycles (NaN-skipping), centered to sum 0 across
      phases, tiled back over the timeline;
    * ``resid``    — ``x − trend − seasonal``.

    Vectorized: one sliding-window product + a per-phase mean;
    O(T·P·p)."""
    if component not in DECOMPOSE_COMPONENTS:
        raise ValueError(f"unknown component {component!r}; known: "
                         f"{DECOMPOSE_COMPONENTS}")
    p = int(period)
    if p < 2:
        raise ValueError("period must be >= 2")
    Xf = np.asarray(X, dtype=np.float64)
    T, P = Xf.shape
    if p % 2:
        wts = np.full(p, 1.0 / p)
    else:
        wts = np.concatenate(([0.5], np.ones(p - 1), [0.5])) / p
    win = len(wts)
    half = win // 2
    trend = np.full((T, P), np.nan)
    if T >= win:
        from numpy.lib.stride_tricks import sliding_window_view
        Wv = sliding_window_view(Xf, win, axis=0)   # (T-win+1, P, win)
        tm = np.einsum("tpw,w->tp", Wv, wts)
        ok = np.isfinite(Wv).all(axis=-1)
        trend[half:T - half] = np.where(ok, tm, np.nan)
    if component == "trend":
        return trend
    det = Xf - trend
    seas = np.full((p, P), np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN phase
        for j in range(p):
            if det[j::p].size:
                seas[j] = np.nanmean(det[j::p], axis=0)
        seas = seas - np.nanmean(seas, axis=0, keepdims=True)
    seasonal = seas[np.arange(T) % p]
    if component == "seasonal":
        return seasonal
    return Xf - trend - seasonal


def decompose(df: DataFrame, period: int, component: str = "trend",
              key: str = "cell_id") -> DataFrame:
    """Per-pixel classical seasonal decomposition of an image time
    series via :func:`singleband_m2m` (one cell-keyed shuffle,
    per-timestep output rows) — ``rawf32``/``-9999`` payloads, since
    seasonal/residual components are signed-near-zero and an integer
    re-encode would clamp them."""
    return singleband_m2m(
        df, lambda X: decompose_np(X, period, component), key=key,
        out_fmt="rawf32", out_nodata=-9999.0)
