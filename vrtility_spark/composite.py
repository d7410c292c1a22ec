"""Temporal compositing — single-band and multiband (cross-band) reducers.

Single-band reducers (per band, per pixel, over the time axis) match
the reference's composite pixel functions exactly
(/root/reference/R/zvrt-pixel-funs-composite.R):

- ``median``/``mean``/``geomean``/``quantile(q)``/``mean_db`` — nodata
  sentinel masked out, reduce over time, refill sentinel (:7-169).
- ``mosaic`` — GDAL last-valid-source-wins stacking
  (/root/reference/R/vrt-compute.R:74-84): later scenes overlay earlier.
- the GDAL built-in pixfun family min/max/sum/sqrt/expression
  (/root/reference/R/vrt-set-gdal-pixfun.R:58-224).

Multiband reducers consume the per-pixel (time × band) matrix — the
``multiband_reduce`` path (/root/reference/R/multiband_reduce.R:103-259,
reducers R/multiband_reduce_funs.R):

- ``medoid``/``quantoid(p)``/``geomedoid`` — xoid family
  (multiband_reduce_funs.R:273-307): drop all-NA observations, exclude
  bands containing any NA from the distance, pick the observation
  nearest the per-band statistic, optionally impute remaining NAs.
  These *select real observations* → row-exact reproducibility.
- ``geomedian`` — geometric median. The reference's default (Gmedian
  SGD, :51-60) is stochastic; we implement the reference's own
  deterministic switch (``weizfeld=TRUE``, :61-82): Weiszfeld iteration
  with fixed ``nitermax``/``epsilon``, initialized at per-band medians.
  NA bands are imputed with per-band medians (deterministic stand-in
  for the Gmedian imputation — documented deviation).

All kernels are NumPy-vectorized over every pixel of a tile at once
(the two Rcpp pivot kernels, src/multiband-reduce.cpp and
src/restructure-cells.cpp, vanish into reshapes). The Spark wrapper is
one ``groupBy(cell_id).applyInPandas`` — the shuffle that brings a
pixel's full time series to one task (the reference's ``vrt_stack``,
R/vrt-stack.R:27-77).
"""

from __future__ import annotations

from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrtility_spark import codec

# ------------------------------------------------ single-band kernels ----
# stack: (T, B, H, W) float64 with NaN for nodata → (B, H, W) float64


def median_t(stack: np.ndarray) -> np.ndarray:
    return np.nanmedian(stack, axis=0)


def mean_t(stack: np.ndarray) -> np.ndarray:
    return np.nanmean(stack, axis=0)


def geomean_t(stack: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.exp(np.nanmean(np.log(stack), axis=0))


def quantile_t(q: float) -> Callable[[np.ndarray], np.ndarray]:
    def f(stack: np.ndarray) -> np.ndarray:
        return np.nanquantile(stack, q, axis=0)
    f.__name__ = f"quantile_{q}"
    return f


def mean_db_t(stack: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        return 10.0 * np.log10(np.nanmean(stack, axis=0))


def min_t(stack): return np.nanmin(stack, axis=0)
def max_t(stack): return np.nanmax(stack, axis=0)


def sum_t(stack):
    out = np.nansum(stack, axis=0)
    # nansum of all-NaN is 0 — an all-nodata pixel must stay nodata
    out[np.all(np.isnan(stack), axis=0)] = np.nan
    return out


def var_t(stack):
    """Temporal variance per pixel (population, ddof=0) — the
    variability map (e.g. radar speckle / seasonal amplitude).
    Computed from the one-pass sufficient statistics (n, Σy, Σy²) —
    the SAME arithmetic as the incremental accumulator, so for integer
    payloads (exact f64 sums, order-independent) the two paths are
    byte-identical, matching the DECOMPOSABLE parity contract.
    Prefer ``std`` when re-encoding into the input's integer profile:
    std keeps the data's units and range, var squares them."""
    ok = ~np.isnan(stack)
    n = ok.sum(axis=0)
    y = np.where(ok, stack, 0.0)
    s1 = y.sum(axis=0)
    s2 = (y * y).sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        m = s1 / n
        v = np.maximum(s2 / n - m * m, 0.0)
    v[n == 0] = np.nan
    return v


def std_t(stack):
    return np.sqrt(var_t(stack))


def mosaic_t(stack: np.ndarray) -> np.ndarray:
    """Last valid observation wins (time ascending), per pixel per band."""
    out = np.full(stack.shape[1:], np.nan)
    for t in range(stack.shape[0]):
        valid = ~np.isnan(stack[t])
        out[valid] = stack[t][valid]
    return out


def first_t(stack: np.ndarray) -> np.ndarray:
    """First valid observation wins."""
    return mosaic_t(stack[::-1])


def qmosaic_t(band: int):
    """Quality mosaic (Earth Engine ``qualityMosaic`` parity): per
    pixel, select the WHOLE observation (all bands from the same
    scene) whose ``band``-indexed quality plane is maximal; ties go to
    the first scene in the stack's deterministic (datetime,
    scene_order_key(image_id))-ascending order — argmax takes the
    first maximum. Pixels whose quality plane is invalid in every
    scene are nodata. Unlike ``mosaic``/``max`` this keeps bands
    COHERENT — the classic use is scoring by NDVI or cloud distance
    and carrying the spectral bands of the winning scene."""
    b = int(band)

    def reduce(stack: np.ndarray) -> np.ndarray:
        if not -stack.shape[1] <= b < stack.shape[1]:
            raise ValueError(
                f"quality band index {b} out of range for "
                f"{stack.shape[1]}-plane stack")
        s = stack[:, b]                                   # (T, H, W)
        # scan with a found-flag: a VALID -inf score must not be
        # conflated with NaN-invalid (only NaN means invalid)
        best = np.full(s.shape[1:], -np.inf)
        found = np.zeros(s.shape[1:], dtype=bool)
        idx = np.zeros(s.shape[1:], dtype=np.int64)
        for ti in range(s.shape[0]):
            v = s[ti]
            ok = ~np.isnan(v)
            better = ok & (~found | (v > best))
            idx[better] = ti
            best = np.where(better, v, best)
            found |= ok
        out = np.take_along_axis(
            stack, np.broadcast_to(idx, stack.shape[1:])[None],
            axis=0)[0]      # advanced indexing: already a fresh array
        out[:, ~found] = np.nan
        return out

    return reduce


# ------------------------------------------------- multiband kernels ----
# X: (T, B, P) float64 with NaN → (B, P)


def _valid_rows(X: np.ndarray) -> np.ndarray:
    """~(all-NA observation) per pixel — the C++ pivot's row filter
    (src/multiband-reduce.cpp:39-77)."""
    return ~np.all(np.isnan(X), axis=1)  # (T, P)


def weiszfeld(X: np.ndarray, nitermax: int = 100, epsilon: float = 1e-8,
              col_w: np.ndarray | None = None) -> np.ndarray:
    """Geometric median over complete observations, vectorized per pixel.

    Init at per-band nanmedians (the reference's Gmedian init,
    multiband_reduce_funs.R:55); observations containing any NaN are
    excluded (Weiszfeld requires complete cases, :36-38).

    ``col_w`` (B,P in {0,1}) restricts the distance to an included-band
    subset — the xoid ``xc = x[, non_na_cols]`` semantics
    (multiband_reduce_funs.R:276-288). With ``col_w`` given, a row is
    usable iff it is not all-NaN (it is then complete within the
    included bands by construction).
    """
    T, B, P = X.shape
    if X.dtype not in (np.float32, np.float64):
        X = X.astype(np.float64)  # isnan/zeroing below need float
    dt = X.dtype
    if col_w is None:
        complete = ~np.any(np.isnan(X), axis=1)  # (T, P)
        cw = np.ones((1, B, P), dtype=dt)
    else:
        complete = ~np.all(np.isnan(X), axis=1)
        cw = col_w.reshape(1, B, P).astype(dt)
    Xz = np.where(np.isnan(X), dt.type(0.0), X)
    wrow = complete.astype(dt)[:, None, :]  # (T,1,P)
    with np.errstate(all="ignore"):
        y = np.nanmedian(X, axis=0)  # (B, P) init
    y = np.where(np.isnan(y), 0.0, y)
    for _ in range(nitermax):
        d = np.sqrt(np.sum(cw * (Xz - y[None]) ** 2, axis=1, keepdims=True))
        w = wrow / np.maximum(d, epsilon)
        denom = np.sum(w, axis=0)  # (1,P)
        y_new = np.sum(w * Xz, axis=0) / np.maximum(denom, epsilon)
        if np.nanmax(np.abs(y_new - y)) < epsilon:
            y = y_new
            break
        y = y_new
    no_obs = complete.sum(axis=0) == 0  # pixels with no usable obs
    if np.any(no_obs):
        with np.errstate(all="ignore"):
            fallback = np.nanmedian(X, axis=0)
        y[:, no_obs] = fallback[:, no_obs]
    return y


def geomedian_mb(X: np.ndarray, nitermax: int = 100, epsilon: float = 1e-8,
                 impute_na: bool = True) -> np.ndarray:
    y = weiszfeld(X, nitermax, epsilon)
    if impute_na:
        vr = _valid_rows(X)
        col_has_na = np.any(np.isnan(X) & vr[:, None, :], axis=0)  # (B,P)
        med = np.nanmedian(X, axis=0)
        y = np.where(col_has_na, med, y)
    return y


_DISTANCES = {}


def _register(name):
    def deco(f):
        _DISTANCES[name] = f
        return f
    return deco


@_register("euclidean")
def _d_euclid(X, stat, w):
    return np.sqrt(np.nansum(w * (X - stat[None]) ** 2, axis=1))


@_register("manhattan")
def _d_manhattan(X, stat, w):
    return np.nansum(w * np.abs(X - stat[None]), axis=1)


@_register("maximum")
def _d_maximum(X, stat, w):
    return np.nanmax(np.where(w > 0, np.abs(X - stat[None]), 0.0), axis=1)


@_register("canberra")
def _d_canberra(X, stat, w):
    denom = np.abs(X) + np.abs(stat[None])
    with np.errstate(divide="ignore", invalid="ignore"):
        term = np.abs(X - stat[None]) / denom
    return np.nansum(np.where((w > 0) & (denom > 0), term, 0.0), axis=1)


@_register("cosine")
def _d_cosine(X, stat, w):
    num = np.nansum(w * X * stat[None], axis=1)
    na = np.sqrt(np.nansum(w * X * X, axis=1))
    nb = np.sqrt(np.nansum(w * stat[None] ** 2, axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return 1.0 - num / np.maximum(na * nb, 1e-300)


# Remaining metrics of the reference's 21-type dista menu
# (multiband_reduce_funs.R:110-131). xoid only *argmins* the distance,
# so any strictly-monotone-equivalent form selects the same
# observation; constant-factor conventions (e.g. Hellinger's 1/sqrt(2))
# therefore don't affect output parity. Probability-style metrics
# (bhattacharyya, KL, JS, itakura_saito) assume positive inputs —
# radiometric pixel values are.

def _safe(x):
    return np.maximum(x, 1e-300)


@_register("minimum")
def _d_minimum(X, stat, w):
    return np.nanmin(np.where(w > 0, np.abs(X - stat[None]), np.inf), axis=1)


@_register("minkowski")
def _d_minkowski(X, stat, w, p=3.0):
    return np.nansum(w * np.abs(X - stat[None]) ** p, axis=1) ** (1.0 / p)


@_register("hellinger")
def _d_hellinger(X, stat, w):
    with np.errstate(invalid="ignore"):
        return np.nansum(w * (np.sqrt(np.abs(X)) -
                              np.sqrt(np.abs(stat[None]))) ** 2, axis=1)


@_register("chi_square")
def _d_chi_square(X, stat, w):
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (X - stat[None]) ** 2 / _safe(np.abs(X + stat[None]))
    return np.nansum(w * t, axis=1)


@_register("sorensen")
def _d_sorensen(X, stat, w):
    num = np.nansum(w * np.abs(X - stat[None]), axis=1)
    den = _safe(np.nansum(w * np.abs(X + stat[None]), axis=1))
    return num / den


@_register("soergel")
def _d_soergel(X, stat, w):
    num = np.nansum(w * np.abs(X - stat[None]), axis=1)
    den = _safe(np.nansum(w * np.maximum(X, stat[None]), axis=1))
    return num / den


@_register("kulczynski")
def _d_kulczynski(X, stat, w):
    num = np.nansum(w * np.abs(X - stat[None]), axis=1)
    den = _safe(np.nansum(w * np.minimum(X, stat[None]), axis=1))
    return num / den


@_register("wave_hedges")
def _d_wave_hedges(X, stat, w):
    with np.errstate(divide="ignore", invalid="ignore"):
        t = 1.0 - np.minimum(X, stat[None]) / _safe(np.maximum(X, stat[None]))
    return np.nansum(w * t, axis=1)


@_register("motyka")
def _d_motyka(X, stat, w):
    num = np.nansum(w * np.maximum(X, stat[None]), axis=1)
    den = _safe(np.nansum(w * (X + stat[None]), axis=1))
    return num / den


@_register("harmonic_mean")
def _d_harmonic_mean(X, stat, w):
    with np.errstate(divide="ignore", invalid="ignore"):
        t = X * stat[None] / _safe(X + stat[None])
    return -2.0 * np.nansum(w * t, axis=1)


@_register("bhattacharyya")
def _d_bhattacharyya(X, stat, w):
    with np.errstate(invalid="ignore"):
        bc = np.nansum(w * np.sqrt(np.abs(X * stat[None])), axis=1)
    return -np.log(_safe(bc))


@_register("jeffries_matusita")
def _d_jeffries_matusita(X, stat, w):
    with np.errstate(invalid="ignore"):
        bc = np.nansum(w * np.sqrt(np.abs(X * stat[None])), axis=1)
    norm = np.nansum(w * (X + stat[None]) / 2.0, axis=1)
    return 2.0 * norm - 2.0 * bc


@_register("kullback_leibler")
def _d_kullback_leibler(X, stat, w):
    with np.errstate(divide="ignore", invalid="ignore"):
        t = X * np.log(_safe(X) / _safe(stat[None]))
    return np.nansum(w * t, axis=1)


@_register("jensen_shannon")
def _d_jensen_shannon(X, stat, w):
    m = _safe((X + stat[None]) / 2.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (X * np.log(_safe(X) / m) + stat[None] * np.log(_safe(stat[None]) / m))
    return np.nansum(w * t, axis=1)


@_register("itakura_saito")
def _d_itakura_saito(X, stat, w):
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = _safe(X) / _safe(stat[None])
        t = ratio - np.log(ratio) - 1.0
    return np.nansum(w * t, axis=1)


@_register("gower")
def _d_gower(X, stat, w):
    nb = _safe(np.sum(w, axis=1))
    return np.nansum(w * np.abs(X - stat[None]), axis=1) / nb


def xoid_mb(X: np.ndarray, stat_fn: Callable[[np.ndarray], np.ndarray],
            distance_type: str = "euclidean", impute_na: bool = True,
            impute_fn: Callable[[np.ndarray], np.ndarray] | None = None) -> np.ndarray:
    """Vectorized xoid_generator (multiband_reduce_funs.R:273-307).

    Per pixel: drop all-NA observations; bands with any NA among the
    remaining observations are excluded from the distance (``na_cols``
    at :276-278); pick argmin (first on ties, like R ``which.min``);
    impute the selected row's NAs with ``impute_fn`` per band.
    """
    T, B, P = X.shape
    vr = _valid_rows(X)  # (T,P)
    dt = X.dtype if X.dtype in (np.float32, np.float64) else np.float64
    col_has_na = np.any(np.isnan(X) & vr[:, None, :], axis=0)  # (B,P)
    w = (~col_has_na).astype(dt)[None]  # (1,B,P) band inclusion
    with np.errstate(all="ignore"):
        stat = stat_fn(X, w[0])  # (B,P) per-band statistic over included cols
    stat_z = np.where(np.isnan(stat), 0.0, stat)
    Xz = np.where(np.isnan(X), 0.0, X)
    dist = _DISTANCES[distance_type](Xz, stat_z, w)  # (T,P)
    dist = np.where(vr, dist, np.inf)
    best = np.argmin(dist, axis=0)  # (P,)
    result = np.take_along_axis(X, best[None, None, :].repeat(B, axis=1), axis=0)[0]
    if impute_na:
        with np.errstate(all="ignore"):
            istat = (impute_fn or stat_fn)(X, w[0])
        result = np.where(np.isnan(result), istat, result)
    return result


def _nanmedian_stat(x, w=None):
    return np.nanmedian(x, axis=0)


def medoid_mb(X, distance_type="euclidean", impute_na=True):
    return xoid_mb(X, _nanmedian_stat, distance_type, impute_na)


def quantoid_mb(X, probability=0.4, distance_type="euclidean", impute_na=True):
    return xoid_mb(X, lambda x, w=None: np.nanquantile(x, probability, axis=0),
                   distance_type, impute_na)


def geomedoid_mb(X, distance_type="euclidean", impute_na=True,
                 nitermax=100, epsilon=1e-8):
    """Target = geometric median of the included-band subset; NAs in the
    selected observation are imputed with per-band medians (deterministic
    stand-in for the reference's stochastic Gmedian imputation)."""
    return xoid_mb(X, lambda x, w: weiszfeld(x, nitermax, epsilon, col_w=w),
                   distance_type, impute_na, impute_fn=_nanmedian_stat)


REDUCERS: dict[str, Callable[[np.ndarray], np.ndarray]] = {}


# pixels per multiband-reducer chunk: keeps the iterative kernels'
# working set (~T*B*chunk*8B*~6 temporaries) L2-resident, so the 100
# Weiszfeld iterations re-read cache instead of streaming DRAM. Without
# chunking, per-core throughput collapses as workers contend for memory
# bandwidth (measured: 8->32 workers gave only 1.5x). Chunk boundaries
# don't change results: every reducer is independent per pixel.
PIX_CHUNK = 4096


def _mb_as_stack(f):
    """Adapt an (T,B,P) multiband reducer to the (T,B,H,W) stack shape,
    processing pixels in cache-sized chunks."""
    def g(stack: np.ndarray) -> np.ndarray:
        T, B, H, W = stack.shape
        flat = stack.reshape(T, B, H * W)
        P = H * W
        if P <= PIX_CHUNK:
            return f(flat).reshape(B, H, W)
        out = np.empty((B, P), dtype=flat.dtype)
        for lo in range(0, P, PIX_CHUNK):
            hi = min(lo + PIX_CHUNK, P)
            out[:, lo:hi] = f(np.ascontiguousarray(flat[:, :, lo:hi]))
        return out.reshape(B, H, W)
    return g


REDUCERS.update(
    median=median_t, mean=mean_t, geomean=geomean_t, mean_db=mean_db_t,
    min=min_t, max=max_t, sum=sum_t, var=var_t, std=std_t,
    mosaic=mosaic_t, first=first_t,
    q25=quantile_t(0.25), q75=quantile_t(0.75),
    medoid=_mb_as_stack(medoid_mb),
    quantoid=_mb_as_stack(quantoid_mb),
    geomedoid=_mb_as_stack(geomedoid_mb),
    geomedian=_mb_as_stack(geomedian_mb),
)


def resolve_reducer(reducer):
    """Reducer lookup accepting ANY quantile by name — ``"q10"``,
    ``"q7"``, ``"quantile:0.375"`` — matching the reference's
    ``quantile_numpy(probability=...)`` taking arbitrary q
    (/root/reference/R/zvrt-pixel-funs-composite.R:99-141), not just
    the pre-registered q25/q75."""
    if callable(reducer):
        return reducer
    if reducer in REDUCERS:
        return REDUCERS[reducer]
    import re
    m = re.fullmatch(r"q(\d{1,2})", reducer)
    if m:
        return quantile_t(int(m.group(1)) / 100.0)
    m = re.fullmatch(r"quantile:(0(\.\d+)?|1(\.0+)?)", reducer)
    if m:
        return quantile_t(float(m.group(1)))
    m = re.fullmatch(r"qmosaic:(-?\d+)", reducer)
    if m:
        return qmosaic_t(int(m.group(1)))
    raise KeyError(f"unknown reducer {reducer!r}; known: "
                   f"{sorted(REDUCERS)} or qNN / quantile:<q> / "
                   "qmosaic:<band index>")

COMPOSITE_SCHEMA = (
    "cell_id long, bytes binary, w int, h int, fmt string, n_scenes int, "
    "datetime_median timestamp, nodata double, band_nodata array<double>, "
    "caption_agg string"
)


CAPTION_CAP = 16  # captions folded into caption_agg before truncation

# ------------------------------------------- bounded-memory machinery ----
#
# The reference sizes its processing tiles so the full time stack fits a
# RAM budget (R/tiling.R:41-64; nsplits from rows*cols*bands*items*3 vs
# machine RAM, R/vrtility-package.R:163-171). The engine's twins:
#
# 1. DECOMPOSABLE reducers never materialize the (T,B,H,W) stack at all:
#    `composite` routes them through per-partition partial accumulators
#    (one Arrow map stage) merged per cell — group memory is
#    O(B*H*W), independent of T, and the shuffle moves
#    O(cells x partitions) partial rows instead of every scene.
# 2. HOLISTIC reducers (median/quantile/xoid/geomedian) need the stack;
#    `max_stack_bytes` estimates T*B*H*W*itemsize per cell and fails
#    LOUDLY before the worker OOMs, naming the escape hatches.
# 3. `split_to_child_cells` is the spatial escape hatch: scenes split
#    into their 4^k child cells BEFORE the shuffle, dividing the per-
#    group stack by 4^k by construction (`assemble_child_tiles` puts
#    the composited children back together).

#: default per-cell stack budget for holistic reducers (bytes of the
#: decoded (T,B,H,W) compute array). 2 GiB leaves headroom for the
#: kernels' ~3x temporaries inside a typical 8-16 GiB executor slot.
MAX_STACK_BYTES = 2 << 30

#: reducers with an O(1)-per-scene accumulator (never stack T)
DECOMPOSABLE = frozenset(
    ["mean", "sum", "min", "max", "mosaic", "first", "geomean", "mean_db",
     "var", "std"])

_PARTIAL_SCHEMA = (
    "cell_id long, w int, h int, fmt string, nodata double, "
    "band_nodata array<double>, nb int, n_scenes int, "
    "acc1 binary, acc2 binary, acc3 binary, dts array<timestamp>, "
    "caps array<string>, n_caps long"
)

_TS_NONE = np.int64(np.iinfo(np.int64).min)  # "no valid obs yet" stamp


def scene_order_key(image_id) -> np.int64:
    """Stable 64-bit order key for a scene id — the deterministic
    tiebreak for same-instant scenes in selection reducers (mosaic /
    first / qmosaic, xoid ties). md5-based so it is identical across
    runs, hosts and partitionings; the ORDER it induces is arbitrary
    but fixed, which is all determinism needs. Missing id → 0 (all
    such scenes tie, as before)."""
    if image_id is None or (np.isscalar(image_id)
                            and codec.pd_isna(image_id)):
        return np.int64(0)
    import hashlib
    h = hashlib.md5(str(image_id).encode()).digest()[:8]
    return np.int64(int.from_bytes(h, "big", signed=True))


def _profile_key(row):
    v = getattr(row, "band_nodata", None)
    if v is None or (np.isscalar(v) and codec.pd_isna(v)):
        bn = None
    else:
        bn = np.asarray(v, dtype=np.float64).tobytes()
    # NaN-sentinel frames (rawf32 / derived bands): NaN != NaN would
    # make every profile "disagree" — key NaN as its repr instead
    nd = float(row.nodata)
    return (int(row.w), int(row.h), row.fmt,
            "nan" if nd != nd else nd, bn)


# ------------------------------------------------ the cell-stack reader ----
#
# Every grouped time-stack operator (composite, singleband_m2m,
# gapfill_periods, trend/harmonic/MK/breaks, feather) reads its cell the
# same way: `cell_stack` below. The streaming accumulators (incremental
# partials, remedian, trend/harmonic partials) share its per-scene
# decode and profile rule without ever stacking.

def _check_profile(pdf: pd.DataFrame, key: str, what: str = "scenes") -> None:
    """The vrt_stack invariant: all rows of one group share one profile
    — pixel grid and codec (``w``/``h``/``fmt``, plus ``nb`` on partial
    rows), ``nodata`` (NaN counts as one value) and ``band_nodata``.
    The reference errors on >1 SRS (R/vrt-stack.R:30); mixed zones are
    impossible here because cell_id encodes the zone, but mixed pixel
    grids / codecs / sentinels must fail loudly, not corrupt (a uint16
    first-row profile would silently re-encode int16 scenes)."""
    grid = [c for c in ("w", "h", "fmt", "nb") if c in pdf.columns]
    bad = []
    if any(pdf[c].nunique() > 1 for c in grid):
        bad.append("/".join(grid))
    if (pdf.nodata.nunique(dropna=False) > 1
            or len(codec.band_nodata_keys(pdf)) > 1):
        bad.append("nodata/band_nodata")
    if bad:
        raise ValueError(
            f"cell {int(pdf[key].iloc[0])}: {what} disagree on "
            f"{' and '.join(bad)}; normalize them onto one target "
            "grid/profile first")


def _check_scene_profile(profile, row, cell) -> None:
    """Streaming twin of :func:`_check_profile`: one scene against the
    profile (:func:`_profile_key`) its cell's accumulator opened with."""
    if profile != _profile_key(row):
        raise ValueError(
            f"cell {cell}: scenes disagree on w/h/fmt or nodata/"
            "band_nodata; normalize them onto one target grid/profile "
            "first")


def _decode_scene(row, scene_fn=None, arr=None) -> np.ndarray:
    """One scene row → float64 planes, NaN where invalid: decode (unless
    ``arr`` holds the decoded payload already), ``scene_fn(arr,
    nodata)``, then mask with the row's per-band sentinels
    (``band_nodata``, else the scalar ``nodata``)."""
    if arr is None:
        arr = codec.decode(row.bytes, row.w, row.h, row.fmt)
    nd = codec.row_band_meta(row, len(arr), "band_nodata", row.nodata)
    if scene_fn is not None:
        n0 = len(arr)
        arr = scene_fn(arr, nd)
        # plane-dropping scene_fns (drop_mask_band=True) drop TRAILING
        # planes; trim the per-band sentinel array alongside
        if isinstance(nd, np.ndarray) and len(arr) != n0:
            nd = nd[: len(arr)]
    return codec.to_float_masked(arr, nd)


def _empty_frame(schema: str) -> pd.DataFrame:
    return pd.DataFrame(columns=[f.split(" ")[0] for f in schema.split(", ")])


def cell_stack(pdf: pd.DataFrame, key: str, scene_fn=None,
               order: str = "datetime", dtype: str = "float64",
               max_stack_bytes: int | None = MAX_STACK_BYTES,
               hatch: str = ""):
    """Bring one cell's rows together as a time-ordered ``(T,B,H,W)``
    stack — the reference's ``vrt_stack`` (R/vrt-stack.R:27-77), and the
    one reader of every grouped time-stack operator. The group rules:

    - rows whose ``order`` value is null drop: they have no position in
      time (the asof_join precedent), and the incremental accumulators
      apply the same rule;
    - rows sort by ``(order, scene_order_key(image_id))``: same-instant
      scenes would otherwise keep arbitrary partition-arrival order,
      which selection reducers (mosaic/first/qmosaic, xoid ties) would
      surface as run-to-run nondeterminism; the SAME key orders the
      incremental accumulators, so both paths pick one winner;
    - all rows share one profile (:func:`_check_profile`);
    - the decoded stack (T·B·H·W·itemsize) must fit ``max_stack_bytes``
      (None disables the check): the reference's tiling budget
      (R/tiling.R:41-64) — fail loudly before the worker OOMs, naming
      the escape hatches (``hatch`` adds an operator-specific one).

    Each scene decodes once through ``scene_fn`` (:func:`_decode_scene`)
    and is cast to ``dtype`` right after masking. Returns ``(pdf, stack,
    nodata)``: the filtered, sorted frame; the stack, NaN for nodata;
    and the group's sentinel — the per-band array trimmed to the
    stack's planes, or the scalar. A group with no ordered row returns
    ``(empty frame, None, None)``."""
    pdf = pdf[pdf[order].notna()]
    if not len(pdf):
        return pdf, None, None
    if "image_id" in pdf.columns:
        pdf = (pdf.assign(_ord=[scene_order_key(i) for i in pdf.image_id])
               .sort_values([order, "_ord"], kind="mergesort")
               .drop(columns="_ord"))
    else:
        pdf = pdf.sort_values(order, kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    _check_profile(pdf, key)
    rows = list(pdf.itertuples(index=False))
    first = rows[0]
    w, h, fmt = int(first.w), int(first.h), first.fmt
    # plane count from the payload LENGTH for raw formats — a decode
    # just to count planes is one redundant full decode per group
    # (png payloads decode once and reuse it as stack[0])
    nb = codec.plane_count(first.bytes, w, h, fmt)
    first_arr = None
    if nb is None:
        first_arr = codec.decode(first.bytes, w, h, fmt)
        nb = len(first_arr)
    est = len(rows) * nb * h * w * np.dtype(dtype).itemsize
    if max_stack_bytes is not None and est > max_stack_bytes:
        raise ValueError(
            f"cell {int(pdf[key].iloc[0])}: stack needs "
            f"~{est / 2**30:.2f} GiB ({len(rows)} scenes x {nb} bands x "
            f"{h}x{w} px x {dtype}), over the max_stack_bytes budget "
            f"({max_stack_bytes / 2**30:.2f} GiB). Escape hatches: "
            f"{hatch}split_to_child_cells(df, k) to shrink groups "
            "4^k-fold spatially before the shuffle, or a bigger "
            "max_stack_bytes on a larger executor.")
    # float32 compute (the composite default) halves the kernels'
    # memory traffic (the scaling bottleneck at high parallelism) and
    # matches the reference's Float32 derived-band policy
    # (R/vrt-derived-block.R:123); float64 gives bit-exact parity with
    # the float64 NumPy oracle.
    stack = np.stack([
        _decode_scene(r, scene_fn, first_arr if i == 0 else None)
        .astype(dtype, copy=False) for i, r in enumerate(rows)])
    nd = codec.row_band_meta(first, nb, "band_nodata", float(first.nodata))
    if isinstance(nd, np.ndarray):
        nd = nd[: stack.shape[1]]
    return pdf, stack, nd


class _CellAcc:
    """Running accumulator for one cell under a decomposable reducer."""

    __slots__ = ("reducer", "profile", "nd", "nb", "shape", "n", "acc1",
                 "acc2", "acc3", "dts", "caps", "n_caps", "cap")

    def __init__(self, reducer, row, cap):
        self.reducer = reducer
        self.profile = _profile_key(row)
        self.nb = None
        self.n = 0
        self.acc1 = self.acc2 = self.acc3 = None
        self.dts = []
        self.caps = []
        self.n_caps = 0
        self.cap = cap

    def add(self, data, t_ns, dt, caption, ord_key=np.int64(0)):
        """Fold one decoded scene (float64, NaN = invalid) in.
        ``ord_key`` (scene_order_key) breaks same-instant ties for
        mosaic/first deterministically."""
        r = self.reducer
        if self.acc1 is None:
            self.nb = data.shape[0]
            self.shape = data.shape
            if r in ("min", "max", "mosaic", "first"):
                self.acc1 = np.full(data.shape, np.nan)
            elif r in ("var", "std"):
                # two planes of sufficient statistics: Σy and Σy²
                self.acc1 = np.zeros((2,) + data.shape)
            else:
                self.acc1 = np.zeros(data.shape)
            if r in ("mosaic", "first"):
                self.acc2 = np.full(data.shape, _TS_NONE, dtype=np.int64)
                self.acc3 = np.full(data.shape, _TS_NONE, dtype=np.int64)
            elif r in ("min", "max"):
                self.acc2 = None
            else:
                self.acc2 = np.zeros(data.shape, dtype=np.int64)
        if data.shape != self.shape:
            raise ValueError(
                f"scene plane shape {data.shape} disagrees with the "
                f"cell's accumulator {self.shape} (mixed band "
                "counts in one cell); normalize the profile first")
        ok = ~np.isnan(data)
        if r in ("mean", "sum", "mean_db"):
            self.acc1 += np.where(ok, data, 0.0)
            self.acc2 += ok
        elif r in ("var", "std"):
            y = np.where(ok, data, 0.0)
            self.acc1[0] += y
            self.acc1[1] += y * y
            self.acc2 += ok
        elif r == "geomean":
            with np.errstate(divide="ignore", invalid="ignore"):
                lg = np.log(data)
            # stack-path parity: geomean_t = exp(nanmean(log)) — a
            # NEGATIVE observation's NaN log is EXCLUDED from the mean
            # (log(0) = -inf is included); poisoning the running sum
            # with NaN would instead blank the pixel
            okl = ok & ~np.isnan(lg)
            self.acc1 += np.where(okl, lg, 0.0)
            self.acc2 += okl
        elif r == "min":
            self.acc1 = np.fmin(self.acc1, data)
        elif r == "max":
            self.acc1 = np.fmax(self.acc1, data)
        else:  # mosaic / first: best-timestamp valid observation wins;
            # same-instant ties break on the stable scene order key
            if r == "mosaic":
                better = ok & ((t_ns > self.acc2)
                               | ((t_ns == self.acc2)
                                  & (ord_key > self.acc3)))
            else:
                no_prev = self.acc2 == _TS_NONE
                better = ok & (no_prev | (t_ns < self.acc2)
                               | ((t_ns == self.acc2) & ~no_prev
                                  & (ord_key < self.acc3)))
            self.acc1 = np.where(better, data, self.acc1)
            self.acc2 = np.where(better, t_ns, self.acc2)
            self.acc3 = np.where(better, ord_key, self.acc3)
        self.n += 1
        self.dts.append(dt)
        self.caps.append(caption)
        self.n_caps += 1
        if len(self.caps) > 4 * self.cap:  # bounded caption buffer
            self.caps = sorted(self.caps)[: self.cap]

    def to_row(self, cell_id):
        caps = sorted(self.caps)[: self.cap]
        # profile[3] keys NaN nodata as the STRING "nan" (NaN != NaN
        # would break the equality check); the partial row's `nodata
        # double` column needs the float back — a str leaking into an
        # Arrow double column is rejected (or silently coerced,
        # version-dependent) when a flush mixes NaN-sentinel cells
        # with numeric-nodata cells
        nd = self.profile[3]
        return {
            "cell_id": int(cell_id),
            "w": self.profile[0], "h": self.profile[1],
            "fmt": self.profile[2],
            "nodata": float("nan") if isinstance(nd, str) else nd,
            # trimmed to the ACCUMULATED plane count: a plane-dropping
            # scene_fn leaves fewer planes than the payload metadata
            "band_nodata": (None if self.profile[4] is None else
                            list(np.frombuffer(self.profile[4], "<f8"))
                            [: self.nb]),
            "nb": int(self.nb), "n_scenes": int(self.n),
            "acc1": self.acc1.astype("<f8").tobytes(),
            "acc2": (b"" if self.acc2 is None
                     else self.acc2.astype("<i8").tobytes()),
            "acc3": (b"" if self.acc3 is None
                     else self.acc3.astype("<i8").tobytes()),
            "dts": self.dts, "caps": caps, "n_caps": int(self.n_caps),
        }


def _merge_accs(reducer, a1_list, a2_list, a3_list=None):
    """Combine per-partition partial accumulators (same shapes).
    ``a3_list`` (scene order keys) breaks same-instant mosaic/first
    ties deterministically; without it ties keep list order (the
    pre-tiebreak behavior, fine for unit tests with distinct
    stamps)."""
    if reducer in ("mean", "sum", "mean_db", "geomean", "var", "std"):
        return sum(a1_list), sum(a2_list)
    if reducer == "min":
        out = a1_list[0]
        for a in a1_list[1:]:
            out = np.fmin(out, a)
        return out, None
    if reducer == "max":
        out = a1_list[0]
        for a in a1_list[1:]:
            out = np.fmax(out, a)
        return out, None
    # mosaic / first
    if a3_list is None:
        a3_list = [np.full_like(a2, _TS_NONE) for a2 in a2_list]
    v, t, o = a1_list[0], a2_list[0], a3_list[0]
    for vn, tn, on in zip(a1_list[1:], a2_list[1:], a3_list[1:]):
        valid_n = tn != _TS_NONE
        if reducer == "mosaic":
            better = valid_n & ((tn > t) | ((tn == t) & (on > o)))
        else:
            no_prev = t == _TS_NONE
            better = valid_n & (no_prev | (tn < t)
                                | ((tn == t) & ~no_prev & (on < o)))
        v = np.where(better, vn, v)
        t = np.where(better, tn, t)
        o = np.where(better, on, o)
    return v, t


def _finalize(reducer, a1, a2):
    """(acc1, acc2) -> (B,H,W) float plane with NaN nodata."""
    with np.errstate(divide="ignore", invalid="ignore"):
        if reducer == "mean":
            out = a1 / a2
        elif reducer == "sum":
            out = np.where(a2 > 0, a1, np.nan)
        elif reducer == "geomean":
            out = np.exp(a1 / a2)
        elif reducer == "mean_db":
            out = 10.0 * np.log10(a1 / a2)
        elif reducer in ("var", "std"):
            m = a1[0] / a2
            # one-pass E[y²]−E[y]² can round a hair below zero
            v = np.maximum(a1[1] / a2 - m * m, 0.0)
            out = v if reducer == "var" else np.sqrt(v)
        elif reducer in ("min", "max"):
            return a1
        else:  # mosaic / first
            return np.where(a2 != _TS_NONE, a1, np.nan)
    out[a2 == 0] = np.nan
    return out


def _median_datetime(dt: pd.Series):
    dt = dt.sort_values().reset_index(drop=True)
    n_dt = len(dt)
    if n_dt % 2 == 1:
        return dt.iloc[n_dt // 2]
    # stats::median interpolates between the two middle times
    lo, hi = dt.iloc[n_dt // 2 - 1], dt.iloc[n_dt // 2]
    return lo + (hi - lo) / 2


def _caption_agg(caps: list, total: int, cap: int) -> str:
    # bounded caption rollup: a dense cell at 100x scale (1e4+ scenes)
    # must not emit a multi-MB string row — keep the first ``cap`` in
    # sorted order plus an overflow count
    caps = sorted(caps)[:cap]
    if total > cap:
        return "|".join(caps) + f"|+{total - cap} more"
    return "|".join(caps)


#: accumulator working-set budget per task for the incremental map
#: stage — states flush early past EITHER bound (cells or bytes), so a
#: task's memory is capped even for huge tiles (a 256x256 5-band cell's
#: accumulators are ~5 MB; 64 of them would be ~330 MB without the
#: byte bound)
MAX_ACTIVE_BYTES = 256 << 20


def incremental_partials(
        df: DataFrame, reducer: str, key: str = "cell_id",
        scene_fn: Callable[[np.ndarray, float], np.ndarray] | None = None,
        caption_cap: int = CAPTION_CAP,
        max_active_cells: int = 64,
        max_active_bytes: int = MAX_ACTIVE_BYTES) -> DataFrame:
    """Stage 1 of the incremental composite: the narrow (shuffle-free)
    per-partition accumulator map, exposed separately so its output —
    the ONLY thing the composite shuffles — can be counted and gated
    in tests: absent early flushes, rows <= input partitions x cells,
    independent of scenes per cell."""
    if reducer not in DECOMPOSABLE:
        raise KeyError(f"{reducer!r} is not decomposable; "
                       f"choose from {sorted(DECOMPOSABLE)}")
    cap = int(caption_cap)

    def partials(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        states: dict[int, _CellAcc] = {}

        def flush(keys=None):
            keys = list(states) if keys is None else keys
            if not keys:
                return None
            out = pd.DataFrame([states.pop(c).to_row(c) for c in keys])
            return out

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if pd.isna(row.datetime):
                    # null-datetime scenes drop here exactly as on the
                    # stack path (no deterministic time position)
                    continue
                cell = int(getattr(row, key))
                st = states.get(cell)
                if st is None:
                    st = states[cell] = _CellAcc(reducer, row, cap)
                else:
                    _check_scene_profile(st.profile, row, cell)
                data = _decode_scene(row, scene_fn)
                dt = row.datetime
                st.add(data, np.int64(pd.Timestamp(dt).value), dt,
                       row.caption,
                       ord_key=scene_order_key(
                           getattr(row, "image_id", None)))
            tot_bytes = sum(
                s.acc1.nbytes + (0 if s.acc2 is None else s.acc2.nbytes)
                + (0 if s.acc3 is None else s.acc3.nbytes)
                for s in states.values() if s.acc1 is not None)
            if len(states) > max_active_cells or tot_bytes >= max_active_bytes:
                yield flush()
        tail = flush()
        if tail is not None:
            yield tail

    return df.mapInPandas(partials, schema=_PARTIAL_SCHEMA)


def composite_incremental(
        df: DataFrame, reducer: str, key: str = "cell_id",
        scene_fn: Callable[[np.ndarray, float], np.ndarray] | None = None,
        caption_cap: int = CAPTION_CAP,
        max_active_cells: int = 64,
        max_active_bytes: int = MAX_ACTIVE_BYTES,
        compute_dtype: str = "float32") -> DataFrame:
    """Bounded-memory composite for DECOMPOSABLE reducers — the
    R/tiling.R:41-64 answer, Spark-shaped: never materializes the
    (T,B,H,W) stack.

    Stage 1 (narrow ``mapInPandas``, runs BEFORE the shuffle): scenes
    decode batch-by-batch and fold into per-cell running accumulators
    (sum+count / min / max / best-timestamp value). Working set is
    bounded by BOTH ``max_active_cells`` and ``max_active_bytes``
    (accumulator bytes, the binding bound for large tiles) regardless
    of T; past either bound, states flush early as extra partial rows
    (merging handles any number of partials per cell).

    Stage 2 (``groupBy(cell).applyInPandas``): merges at most
    O(input partitions) tiny partial rows per cell and finalizes —
    the shuffle moves partial accumulators, not scenes, so both the
    shuffle volume and the merge-group memory are independent of the
    number of scenes per cell.

    Results match the stack path exactly for integer payloads (partial
    sums of integers are exact in float64); see DECOMPOSABLE.
    Accumulation is always float64 (a precision superset); the
    finalized plane is cast to ``compute_dtype`` before encoding, so
    the declared compute precision is honored at the output. For
    bit-exact float-payload parity with a float32 STACK computation,
    force ``mode="stack"``.
    """
    part = incremental_partials(df, reducer, key=key, scene_fn=scene_fn,
                                caption_cap=caption_cap,
                                max_active_cells=max_active_cells,
                                max_active_bytes=max_active_bytes)
    cap = int(caption_cap)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        # cross-PARTITION profile agreement: each partial was checked
        # internally, but two partitions can each be consistent while
        # disagreeing with each other — including on band_nodata
        _check_profile(pdf, "cell_id", "partials")
        first = pdf.iloc[0]
        nb, h, w = int(first.nb), int(first.h), int(first.w)
        shape = (nb, h, w)
        a1_shape = ((2,) + shape) if reducer in ("var", "std") else shape
        a1 = [np.frombuffer(b, "<f8").reshape(a1_shape) for b in pdf.acc1]
        a2 = a3 = None
        if reducer not in ("min", "max"):
            a2 = [np.frombuffer(b, "<i8").reshape(shape) for b in pdf.acc2]
        if reducer in ("mosaic", "first"):
            a3 = [np.frombuffer(b, "<i8").reshape(shape) for b in pdf.acc3]
        m1, m2 = _merge_accs(reducer, a1, a2, a3)
        out = _finalize(reducer, m1, m2).astype(compute_dtype)
        bn = first.band_nodata
        nd = (float(first.nodata) if bn is None
              else np.asarray(bn, dtype=np.float64))
        payload = codec.from_float(out, nd, codec.dtype_for(first.fmt))
        all_dts = pd.Series(
            [t for lst in pdf.dts for t in lst])
        caps = [c for lst in pdf.caps for c in lst]
        total = int(pdf.n_caps.sum())
        return pd.DataFrame([{
            "cell_id": int(first.cell_id),
            "bytes": codec.encode(payload, first.fmt),
            "w": w, "h": h, "fmt": first.fmt,
            "n_scenes": int(pdf.n_scenes.sum()),
            "datetime_median": _median_datetime(all_dts),
            "nodata": float(first.nodata),
            "band_nodata": None if bn is None else list(bn),
            "caption_agg": _caption_agg(caps, total, cap),
        }])

    return part.groupBy("cell_id").applyInPandas(merge,
                                                 schema=COMPOSITE_SCHEMA)


def composite(df: DataFrame, reducer: str | Callable[[np.ndarray], np.ndarray],
              key: str = "cell_id", compute_dtype: str = "float32",
              scene_fn: Callable[[np.ndarray, float], np.ndarray] | None = None,
              caption_cap: int = CAPTION_CAP,
              mode: str = "auto",
              max_stack_bytes: int | None = MAX_STACK_BYTES,
              ) -> DataFrame:
    """``groupBy(cell).applyInPandas(reduce)`` — the whole
    multiband_reduce driver (R/multiband_reduce.R:103-259) as one
    shuffle + one Arrow-vectorized grouped map.

    Memory policy (the R/tiling.R:41-64 twin): ``mode="auto"`` routes
    DECOMPOSABLE named reducers through
    :func:`composite_incremental` — per-partition running accumulators,
    group memory independent of the number of scenes. Holistic reducers
    (median/quantile/xoid/geomedian) take the stack path below, guarded
    by ``max_stack_bytes``: a cell whose decoded (T,B,H,W) stack would
    exceed the budget fails loudly (naming
    :func:`split_to_child_cells` and the incremental path as escape
    hatches) instead of OOM-killing the executor. ``mode="stack"`` /
    ``mode="incremental"`` force a path; ``mode="budget"`` runs the
    measured per-cell split planner (:func:`composite_auto`) so
    over-budget cells sub-tile instead of failing.

    Expects an images DataFrame carrying ``cell_id`` (see
    :func:`vrtility_spark.warp.assign_cells`); the stack path reads each
    cell through :func:`cell_stack` (its group rules: null datetimes
    drop, tie order, one profile, the memory budget).
    Stamps the median acquisition datetime on each composite
    (R/vrt-compute.R:547-590) and carries captions through sorted (the
    caption-passthrough invariant of BASELINE.json).

    ``scene_fn(arr, nodata)`` is applied to each decoded scene before
    reduction — operator FUSION: masking (or any per-scene transform)
    evaluates inside the same read, exactly like the reference's nested
    VRT evaluating mask ∘ composite per block in one pass
    (R/gdalraster-async.r:99-112), skipping a full payload rewrite.
    """
    if mode not in ("auto", "stack", "incremental", "budget", "remedian"):
        raise ValueError(f"unknown composite mode {mode!r}")
    if mode == "remedian":
        # streaming approximate median: scenes shuffle but never stack
        if reducer != "median":
            raise ValueError(
                "mode='remedian' is the streaming MEDIAN cascade; "
                f"got reducer {reducer!r} (decomposable reducers "
                "already stream via mode='incremental')")
        return composite_remedian(df, key=key, scene_fn=scene_fn,
                                  caption_cap=caption_cap,
                                  compute_dtype=compute_dtype)
    if mode == "budget":
        # measured per-cell split planner: decomposable reducers still
        # route incremental inside; holistic ones split only their
        # over-budget cells (see composite_auto)
        return composite_auto(df, reducer, key=key,
                              compute_dtype=compute_dtype,
                              scene_fn=scene_fn, caption_cap=caption_cap,
                              max_stack_bytes=max_stack_bytes
                              if max_stack_bytes is not None
                              else MAX_STACK_BYTES)
    if mode == "incremental" or (
            mode == "auto" and isinstance(reducer, str)
            and reducer in DECOMPOSABLE):
        return composite_incremental(df, reducer, key=key,
                                     scene_fn=scene_fn,
                                     caption_cap=caption_cap,
                                     compute_dtype=compute_dtype)
    fn = resolve_reducer(reducer)

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, stack, nd = cell_stack(
            pdf, key, scene_fn, dtype=compute_dtype,
            max_stack_bytes=max_stack_bytes,
            hatch="a DECOMPOSABLE reducer (mean/min/max/sum/mosaic/first/"
                  "geomean/mean_db run incrementally and never stack), ")
        if stack is None:
            return _empty_frame(COMPOSITE_SCHEMA)
        out = fn(stack)  # (T, B, H, W) -> (B, H, W)
        if isinstance(nd, np.ndarray) and len(nd) != out.shape[0]:
            nd = nd[: out.shape[0]]
        fmt = pdf.fmt.iloc[0]
        payload = codec.from_float(out, nd, codec.dtype_for(fmt))
        return pd.DataFrame([{
            "cell_id": int(pdf[key].iloc[0]),
            "bytes": codec.encode(payload, fmt),
            "w": int(pdf.w.iloc[0]), "h": int(pdf.h.iloc[0]), "fmt": fmt,
            "n_scenes": len(pdf),
            "datetime_median": _median_datetime(pdf["datetime"]),
            "nodata": float(pdf.nodata.iloc[0]),
            "band_nodata": None if np.isscalar(nd) else list(nd),
            "caption_agg": _caption_agg(pdf.caption.tolist(), len(pdf),
                                        caption_cap),
        }])

    return df.groupBy(key).applyInPandas(reduce_group, schema=COMPOSITE_SCHEMA)


def split_to_child_cells(df: DataFrame, k: int = 1,
                         key: str = "cell_id") -> DataFrame:
    """Spatial sub-tiling BEFORE the composite shuffle — the engine's
    ``nsplits`` (R/tiling.R:41-64: the reference splits its processing
    extent until ``rows*cols*bands*items*3`` fits RAM).

    Each aligned scene tile (carrying ``cell_id`` at some res r) splits
    into its ``4^k`` child cells at res r+k: a narrow ``mapInPandas``
    (no shuffle), after which every downstream group — including a
    HOLISTIC composite's (T,B,H,W) stack — is 4^k times smaller BY
    CONSTRUCTION. Child tiles are real cells of the index, so every
    cell-keyed operator works on them unchanged;
    :func:`assemble_child_tiles` puts composited children back
    together. ``cell_prefix`` (an ancestor of every child) is left
    untouched. Pixel row 0 is the ymin edge (the regrid convention).
    """
    from vrtility_spark import cells as _cells
    n = 1 << int(k)
    out_schema = df.schema
    cols = [f.name for f in df.schema.fields]

    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                if row.w % n or row.h % n:
                    raise ValueError(
                        f"split_to_child_cells(k={k}): tile {row.w}x"
                        f"{row.h} px does not divide into {n}x{n} blocks")
                arr = codec.decode(row.bytes, row.w, row.h, row.fmt)
                zone, res, ix, iy = (int(v) for v in
                                     _cells.decode_np(getattr(row, key)))
                if res + k > _cells.MAX_RES:
                    raise ValueError(
                        f"split_to_child_cells(k={k}): children would "
                        f"sit at res {res + k} > MAX_RES="
                        f"{_cells.MAX_RES} — the cell-id radix cannot "
                        "encode them; split less or start coarser")
                sw, sh = row.w // n, row.h // n
                xs = (row.xmax - row.xmin) / n
                ys = (row.ymax - row.ymin) / n
                base = row._asdict()
                for dy in range(n):
                    for dx in range(n):
                        r2 = dict(base)
                        block = arr[:, dy * sh:(dy + 1) * sh,
                                    dx * sw:(dx + 1) * sw]
                        r2["bytes"] = codec.encode(
                            np.ascontiguousarray(block), row.fmt)
                        r2["w"], r2["h"] = sw, sh
                        r2["xmin"] = row.xmin + dx * xs
                        r2["xmax"] = row.xmin + (dx + 1) * xs
                        r2["ymin"] = row.ymin + dy * ys
                        r2["ymax"] = row.ymin + (dy + 1) * ys
                        r2[key] = int(_cells.encode_np(
                            zone, res + k, ix * n + dx, iy * n + dy))
                        out_rows.append(r2)
            yield pd.DataFrame(out_rows)[cols]

    return df.mapInPandas(run, schema=out_schema)


def assemble_child_tiles(comp: DataFrame, k: int = 1) -> DataFrame:
    """Reassemble composites of ``4^k`` child cells (from
    :func:`split_to_child_cells` + :func:`composite`) into their parent
    tile. Group memory = one parent tile. Missing children fill with
    the (per-band) sentinel. ``n_scenes``/``datetime_median``/
    ``caption_agg`` come from the child with the most scenes (lowest
    cell id on ties) — identical across children when every scene
    covers the whole parent tile."""
    from vrtility_spark import cells as _cells
    from vrtility_spark.cells import parent_col
    n = 1 << int(k)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        sw, sh, fmt = int(first.w), int(first.h), first.fmt
        arr0 = codec.decode(first.bytes, sw, sh, fmt)
        nb = len(arr0)
        bn = first.band_nodata
        nd = (float(first.nodata) if bn is None
              else np.asarray(bn, dtype=np.float64))
        fill = codec.from_float(
            np.full((nb, 1, 1), np.nan), nd, arr0.dtype.name)
        canvas = np.tile(fill, (1, sh * n, sw * n))
        for i, row in enumerate(pdf.itertuples(index=False)):
            _, _, ix, iy = (int(v) for v in _cells.decode_np(row.cell_id))
            # first child's decode is reused from the nb probe above
            a = arr0 if i == 0 else codec.decode(row.bytes, row.w,
                                                 row.h, row.fmt)
            dy, dx = iy % n, ix % n
            canvas[:, dy * sh:(dy + 1) * sh, dx * sw:(dx + 1) * sw] = a
        zone, res, ix, iy = (int(v) for v in
                             _cells.decode_np(int(pdf.cell_id.iloc[0])))
        parent = int(_cells.encode_np(zone, res - k, ix // n, iy // n))
        pick = pdf.sort_values(["n_scenes", "cell_id"],
                               ascending=[False, True]).iloc[0]
        return pd.DataFrame([{
            "cell_id": parent, "bytes": codec.encode(canvas, fmt),
            "w": sw * n, "h": sh * n, "fmt": fmt,
            "n_scenes": int(pick.n_scenes),
            "datetime_median": pick.datetime_median,
            "nodata": float(first.nodata),
            "band_nodata": None if bn is None else list(bn),
            "caption_agg": pick.caption_agg,
        }])

    return (comp.groupBy(parent_col(F.col("cell_id"), k).alias("_parent"))
            .applyInPandas(run, schema=COMPOSITE_SCHEMA))


def plan_splits(df: DataFrame, key: str = "cell_id",
                compute_dtype: str = "float32",
                max_stack_bytes: int = MAX_STACK_BYTES) -> DataFrame:
    """Per-cell split plan: ``(key, _k)`` with the smallest ``k`` whose
    child stacks fit the budget, ``est / 4^k <= max_stack_bytes``.

    Stack size is estimated per GROUP (exact element count for raw
    payloads via byte length, ``bands*w*h`` for compressed ones — the
    AQE-statistics pattern), so a dense megacity cell gets its own deep
    split while a cold ocean cell keeps ``_k = 0``. The cap is also
    per cell: the largest power-of-two factor (``x & -x``) of every
    tile edge IN THAT CELL — k must divide every tile the split will
    touch — and the cell-radix headroom ``MAX_RES - res`` via
    :func:`vrtility_spark.cells.res_col` (the single owner of the
    radix layout)."""
    from vrtility_spark.cells import MAX_RES, res_col
    itemsize = int(np.dtype(compute_dtype).itemsize)
    storage = F.when(F.col("fmt") == "rawf32", F.lit(4.0)).otherwise(F.lit(2.0))
    elems = F.when(F.col("fmt").isin("raw16", "raw16s", "rawf32"),
                   F.length("bytes") / storage) \
             .otherwise(F.size("bands") * F.col("w") * F.col("h"))
    pow2 = lambda c: F.col(c).bitwiseAND(-F.col(c))
    g = df.groupBy(key).agg(F.sum(elems * itemsize).alias("gb"),
                            F.min(pow2("w")).alias("pw"),
                            F.min(pow2("h")).alias("ph"))
    budget = float(max_stack_bytes)
    # pw/ph are exact powers of two, so log2 is integral; ceil(log4) is
    # the closed form of "smallest k with gb/4^k <= budget" (exact at
    # the power-of-4 boundaries the while-loop form would hit)
    k_cap = F.least(F.log2("pw").cast("int"), F.log2("ph").cast("int"),
                    (F.lit(MAX_RES) - res_col(F.col(key))).cast("int"))
    k_need = F.when(F.col("gb") <= budget, F.lit(0)).otherwise(
        F.ceil(F.log2(F.col("gb") / budget) / 2).cast("int"))
    return g.select(key,
                    F.greatest(F.lit(0),
                               F.least(k_need, k_cap)).alias("_k"))


def composite_auto(df: DataFrame,
                   reducer: str | Callable[[np.ndarray], np.ndarray],
                   key: str = "cell_id", compute_dtype: str = "float32",
                   scene_fn: Callable[[np.ndarray, float], np.ndarray] | None = None,
                   caption_cap: int = CAPTION_CAP,
                   max_stack_bytes: int = MAX_STACK_BYTES) -> DataFrame:
    """RAM-aware composite PLANNER — the full twin of the reference's
    automatic ``nsplits`` (R/tiling.R:41-64 picks the split count from
    ``rows*cols*bands*items*3`` vs machine RAM,
    R/vrtility-package.R:163-171). Decomposable reducers route
    incremental (no stack at all). For holistic reducers it MEASURES
    per-cell decoded stack sizes (:func:`plan_splits`, one tiny
    aggregation job) and routes PER CELL: only over-budget cells run
    ``split_to_child_cells(k) -> composite -> assemble_child_tiles(k)``
    at their own smallest sufficient ``k``; cells already under budget
    take the plain stack path unsplit. One hot megacity cell therefore
    no longer forces every cold ocean cell to split 4^k-fold — at 100×
    scale the split tax is paid exactly where the density is.

    The plan table (one narrow row per cell) is broadcast onto the
    scenes, so routing adds no shuffle; each distinct ``k`` (a handful
    at most) becomes one filtered branch over the same input, unioned
    at the end. Callers with an expensive upstream pipeline should
    persist/write ``df`` first if the branch re-scan matters. The
    per-group ``max_stack_bytes`` guard stays armed either way."""
    if isinstance(reducer, str) and reducer in DECOMPOSABLE:
        return composite_incremental(df, reducer, key=key,
                                     scene_fn=scene_fn,
                                     caption_cap=caption_cap,
                                     compute_dtype=compute_dtype)
    plan = plan_splits(df, key=key, compute_dtype=compute_dtype,
                       max_stack_bytes=max_stack_bytes)
    ks = sorted(r._k for r in plan.select("_k").distinct().collect())
    if not ks or ks == [0]:  # empty input or everything fits
        return composite(df, reducer, key, compute_dtype, scene_fn,
                         caption_cap, mode="stack",
                         max_stack_bytes=max_stack_bytes)
    routed = df.join(F.broadcast(plan), key)
    parts = []
    for kv in ks:
        sel = routed.where(F.col("_k") == kv).drop("_k")
        if kv == 0:
            parts.append(composite(sel, reducer, key, compute_dtype,
                                   scene_fn, caption_cap, mode="stack",
                                   max_stack_bytes=max_stack_bytes))
        else:
            child = composite(split_to_child_cells(sel, kv, key), reducer,
                              key, compute_dtype, scene_fn, caption_cap,
                              mode="stack",
                              max_stack_bytes=max_stack_bytes)
            parts.append(assemble_child_tiles(child, kv))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------- streaming approximate median ----
#
# The median is HOLISTIC: the exact stack path must hold all T scenes
# of a cell in RAM (max_stack_bytes guard; split_to_child_cells is the
# spatial escape hatch). The REMEDIAN (Rousseeuw & Bassett 1990) is
# the third option for extreme T: a cascade of small median buffers —
# fill a batch of b observations, collapse it to its median, push that
# one plane into the next level's batch, and so on. Memory is
# O(log_b(T) · b) planes per cell instead of O(T); the estimate is the
# exact median for T ≤ b and a consistent median estimator beyond.
# Scenes still SHUFFLE (one repartition by cell) — they just never
# STACK: the task streams rows and keeps only the cascade buffers, so
# a 10^5-scene cell runs in the same memory as a 10-scene one.

def _weighted_median_planes(E: np.ndarray, wts: np.ndarray) -> np.ndarray:
    """Per-pixel weighted median of ``E (K, ...)`` with integer plane
    weights ``wts (K,)``; NaN entries drop per pixel. Matches
    ``np.nanmedian`` exactly when all weights are 1 (midpoint of the
    two middles at even valid counts). Deterministic: integer weight
    sums are exact in f64, so the half-total comparisons are exact."""
    K = E.shape[0]
    flat = E.reshape(K, -1)
    order = np.argsort(flat, axis=0, kind="stable")  # NaNs sort last
    vs = np.take_along_axis(flat, order, axis=0)
    ws = np.take_along_axis(
        np.broadcast_to(wts.astype(np.float64)[:, None], flat.shape),
        order, axis=0).copy()
    ws[np.isnan(vs)] = 0.0
    cum = np.cumsum(ws, axis=0)
    tot = cum[-1]
    half = tot / 2.0
    idx = (cum >= half[None, :]).argmax(axis=0)
    v1 = np.take_along_axis(vs, idx[None, :], axis=0)[0]
    cum_at = np.take_along_axis(cum, idx[None, :], axis=0)[0]
    nxt_i = np.minimum(idx + 1, K - 1)
    v2 = np.take_along_axis(vs, nxt_i[None, :], axis=0)[0]
    exact = (cum_at == half) & (nxt_i > idx) & ~np.isnan(v2)
    out = np.where(exact, (v1 + v2) / 2.0, v1)
    out[tot == 0] = np.nan
    return out.reshape(E.shape[1:])


class _RemedianAcc:
    """Streaming remedian cascade for one cell (float64 planes)."""

    __slots__ = ("batch", "levels", "n", "dts", "caps", "n_caps", "cap",
                 "profile", "nb")

    def __init__(self, batch, row, cap):
        self.batch = batch
        self.levels: list[list[np.ndarray]] = [[]]
        self.n = 0
        self.dts = []
        self.caps = []
        self.n_caps = 0
        self.cap = cap
        self.profile = _profile_key(row)
        self.nb = None

    def _push(self, plane: np.ndarray, lvl: int) -> None:
        if lvl == len(self.levels):
            self.levels.append([])
        buf = self.levels[lvl]
        buf.append(plane)
        if len(buf) == self.batch:
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                med = np.nanmedian(np.stack(buf), axis=0)
            buf.clear()
            self._push(med, lvl + 1)

    def add(self, data: np.ndarray, dt, caption) -> None:
        if self.nb is None:
            self.nb = data.shape[0]
        self._push(data, 0)
        self.n += 1
        self.dts.append(dt)
        self.caps.append(caption)
        self.n_caps += 1
        if len(self.caps) > 4 * self.cap:
            self.caps = sorted(self.caps)[: self.cap]

    def result(self) -> np.ndarray:
        entries, wts = [], []
        for lvl, buf in enumerate(self.levels):
            for plane in buf:
                entries.append(plane)
                wts.append(self.batch ** lvl)
        if len(entries) == 1:
            return entries[0]
        if len(set(wts)) == 1:
            # single level (T <= batch, or evenly collapsed): EXACT
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                return np.nanmedian(np.stack(entries), axis=0)
        return _weighted_median_planes(
            np.stack(entries), np.asarray(wts, dtype=np.int64))


def composite_remedian(
        df: DataFrame, key: str = "cell_id", batch: int = 16,
        scene_fn: Callable[[np.ndarray, float], np.ndarray] | None = None,
        caption_cap: int = CAPTION_CAP,
        compute_dtype: str = "float32") -> DataFrame:
    """Bounded-memory MEDIAN composite via the streaming remedian
    cascade — the answer when a cell's time stack can neither fit RAM
    (`max_stack_bytes`) nor be split finer spatially.

    Plan shape: ``repartition(key)`` + ``sortWithinPartitions(key,
    datetime, image_id)`` (one shuffle — scenes move but the order is
    deterministic, so the estimate is reproducible run to run), then a
    streaming ``mapInPandas`` that folds rows into per-cell cascade
    buffers and emits each finished cell. Task memory is
    O(log_b(T)·b) planes regardless of T. EXACT ``nanmedian`` for
    cells with ≤ ``batch`` scenes; a consistent estimator beyond
    (Rousseeuw & Bassett's remedian), finalized as the weighted median
    of the remaining buffers (weight = ``batch**level``).

    Output: COMPOSITE_SCHEMA, byte-compatible with every downstream
    cell-keyed operator.
    """
    if batch < 3:
        raise ValueError(f"batch must be >= 3, got {batch}")
    cap = int(caption_cap)
    b = int(batch)

    def stream(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        cur_cell, acc = None, None

        def finalize():
            out = acc.result().astype(compute_dtype)
            w, h, fmt = acc.profile[0], acc.profile[1], acc.profile[2]
            nd_s = acc.profile[3]
            nd_s = float("nan") if isinstance(nd_s, str) else nd_s
            bn = acc.profile[4]
            # trimmed to the accumulated plane count (plane-dropping
            # scene_fns), same contract as _CellAcc.to_row
            nd = (np.frombuffer(bn, "<f8")[: acc.nb] if bn is not None
                  else nd_s)
            payload = codec.from_float(out, nd, codec.dtype_for(fmt))
            dts = pd.Series(acc.dts)
            return {
                "cell_id": int(cur_cell),
                "bytes": codec.encode(payload, fmt),
                "w": w, "h": h, "fmt": fmt, "n_scenes": int(acc.n),
                "datetime_median": _median_datetime(dts),
                "nodata": nd_s,
                "band_nodata": (None if bn is None
                                else list(np.frombuffer(bn, "<f8")
                                          [: acc.nb])),
                "caption_agg": _caption_agg(acc.caps, acc.n_caps, cap),
            }

        for pdf in batches:
            done = []
            for row in pdf.itertuples(index=False):
                cell = int(getattr(row, key))
                if cell != cur_cell:
                    if acc is not None:
                        done.append(finalize())
                    cur_cell, acc = cell, _RemedianAcc(b, row, cap)
                else:
                    _check_scene_profile(acc.profile, row, cell)
                acc.add(_decode_scene(row, scene_fn), row.datetime,
                        row.caption)
            if done:
                yield pd.DataFrame(done)
        if acc is not None:
            yield pd.DataFrame([finalize()])

    ordered = (df.repartition(F.col(key))
               .sortWithinPartitions(key, "datetime", "image_id"))
    return ordered.mapInPandas(stream, schema=COMPOSITE_SCHEMA)


def scalar_composite_cols(reducer: str, col: str):
    """Expression-path twins for scalar columns (parity tests / SQL
    oracle): the same reductions via built-in functions only."""
    c = F.col(col)
    return {
        "median": F.median(c), "mean": F.avg(c),
        "geomean": F.exp(F.avg(F.log(c))),
        "mean_db": F.log10(F.avg(c)) * 10.0,
        "min": F.min(c), "max": F.max(c), "sum": F.sum(c),
        "var": F.var_pop(c), "std": F.stddev_pop(c),
    }[reducer]


# ------------------------------------------------ periodic composites ----

PERIOD_SHIFT = 32768  # 2**15: years*12 stays far below this

_PERIOD_IDX = {
    "month": lambda dt: F.year(dt) * 12 + F.month(dt) - 1,
    "quarter": lambda dt: F.year(dt) * 4 + F.quarter(dt) - 1,
    "year": lambda dt: F.year(dt),
}

_PERIOD_LABEL = {
    "month": lambda p: F.format_string(
        "%04d-%02d", F.floor(p / 12), p % 12 + 1),
    "quarter": lambda p: F.format_string(
        "%04dQ%d", F.floor(p / 4), p % 4 + 1),
    "year": lambda p: F.format_string("%04d", p),
}


def composite_by_period(df: DataFrame, reducer,
                        period: str = "month", key: str = "cell_id",
                        **kw) -> DataFrame:
    """Periodic composites — one composite per (cell, calendar period):
    monthly/quarterly/annual mosaics, the standard EO product cadence.

    Spark-first: the period folds INTO the group key (``cell_id *
    2**15 + period_index`` — cell ids use < 2**44, period indices
    < 2**15, the product fits a long exactly), so this is STILL one
    shuffle through the unchanged composite router — the RAM policy,
    incremental accumulators and caption semantics all apply per
    (cell, period) group with no second aggregation pass.  A naive
    port loops periods at the driver and re-scans the data once per
    period; this scans once, total.

    Output: COMPOSITE_SCHEMA plus a ``period`` string column
    (``2024-05`` / ``2024Q2`` / ``2024``), ``cell_id`` restored.
    ``mode="budget"`` (and manual ``split_to_child_cells``) decode the
    cell-id radix and cannot see through the synthetic key — composite
    raises on that mode here; split spatially before calling.
    """
    if period not in _PERIOD_IDX:
        raise KeyError(
            f"unknown period {period!r}; known: {sorted(_PERIOD_IDX)}")
    if kw.get("mode") == "budget":
        raise ValueError(
            "composite_by_period cannot route mode='budget': the "
            "split planner decodes the cell-id radix, which the "
            "synthetic (cell, period) key hides — split spatially "
            "with split_to_child_cells BEFORE the periodic composite")
    pidx = _PERIOD_IDX[period](F.col("datetime")).cast("long")
    synth = (df.withColumn(key, F.col(key) * F.lit(PERIOD_SHIFT) + pidx))
    comp = composite(synth, reducer, key=key, **kw)
    p = (F.col(key) % PERIOD_SHIFT).cast("long")
    return comp.select(
        F.floor(F.col(key) / PERIOD_SHIFT).cast("long").alias(key),
        _PERIOD_LABEL[period](p).alias("period"),
        *[c for c in comp.columns if c != key])
