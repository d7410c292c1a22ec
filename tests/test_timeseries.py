from __future__ import annotations

import numpy as np
import pytest

import oracle
from vrtility_spark import codec, datagen, schema, timeseries, warp


def test_hampel_basic_outlier():
    x = np.array([1.0, 1.1, 9.0, 1.2, 1.0, 1.1, 1.05])
    got = timeseries.hampel_np(x[:, None], k=2)[:, 0]
    exp = oracle.hampel_1(x, k=2)
    np.testing.assert_allclose(got, exp)
    assert got[2] != 9.0  # outlier replaced by window median
    assert got[0] == 1.0 and got[-1] == 1.05  # edges preserved


def test_hampel_with_nans_and_locf():
    rng = np.random.default_rng(11)
    X = rng.normal(100, 5, size=(12, 40))
    X[rng.random(X.shape) < 0.2] = np.nan
    X[3, :10] += 80  # spikes
    got = timeseries.hampel_np(X, k=2, t0=3.0, impute_na=True)
    exp = np.stack([oracle.hampel_1(X[:, p], 2, 3.0, True)
                    for p in range(X.shape[1])], axis=1)
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_hampel_short_series_untouched():
    x = np.array([5.0, 500.0, 5.0])  # n < 2k+1 for k=2
    got = timeseries.hampel_np(x[:, None], k=2)[:, 0]
    np.testing.assert_allclose(got, x)


def test_hampel_random_matches_oracle():
    rng = np.random.default_rng(12)
    for k in (1, 2, 3):
        X = rng.normal(0, 1, size=(15, 25))
        X[rng.random(X.shape) < 0.25] = np.nan
        got = timeseries.hampel_np(X, k=k, t0=2.0)
        exp = np.stack([oracle.hampel_1(X[:, p], k, 2.0)
                        for p in range(X.shape[1])], axis=1)
        np.testing.assert_allclose(got, exp, equal_nan=True)


def _hampel_nanmedian_reference(X, k, t0=3.0):
    """The Hampel kernel as it was before the sort-based medians:
    ``np.nanmedian`` over ``sliding_window_view`` windows (window axis
    last) — kept here as the bit-exact reference."""
    from numpy.lib.stride_tricks import sliding_window_view
    X = np.asarray(X, dtype=np.float64)
    T, P = X.shape
    isna = np.isnan(X)
    order = np.argsort(isna, axis=0, kind="stable")
    V = np.take_along_axis(X, order, axis=0)
    n_valid = (~isna).sum(axis=0)
    Fv = V.copy()
    win = 2 * k + 1
    if T >= win:
        Wn = sliding_window_view(V, win, axis=0)
        x0 = np.nanmedian(Wn, axis=2)
        S0 = 1.4826 * np.nanmedian(np.abs(Wn - x0[..., None]), axis=2)
        centers = V[k: T - k]
        idx = np.arange(k, T - k)[:, None]
        interior = (idx < (n_valid[None, :] - k)) & (n_valid[None, :] >= win)
        with np.errstate(invalid="ignore"):
            outlier = interior & (np.abs(centers - x0) > t0 * S0)
        Fv[k: T - k] = np.where(outlier, x0, centers)
    out = np.empty_like(X)
    np.put_along_axis(out, order, Fv, axis=0)
    out[isna] = np.nan
    return out


@pytest.mark.filterwarnings("ignore:All-NaN slice:RuntimeWarning")
def test_hampel_kernel_bit_identical_to_nanmedian_windows():
    """The sort-based kernel gives the old ``np.nanmedian`` kernel's
    output bit for bit, and the oracle's, on NaN-heavy series,
    all-NaN columns and spikes."""
    rng = np.random.default_rng(31)
    for T, P, nan_frac in ((12, 256, 0.6), (36, 300, 0.85), (5, 64, 0.3)):
        X = rng.normal(100.0, 5.0, size=(T, P))
        X[rng.random(X.shape) < 0.05] *= 40.0  # outliers
        X[rng.random(X.shape) < nan_frac] = np.nan
        X[:, :4] = np.nan   # all-NaN columns
        X[:-1, 4] = np.nan  # a lone valid value
        for k in (1, 2, 3):
            got = timeseries.hampel_np(X, k)
            assert np.array_equal(got, _hampel_nanmedian_reference(X, k),
                                  equal_nan=True)
            exp = np.stack([oracle.hampel_1(X[:, p], k)
                            for p in range(P)], axis=1)
            np.testing.assert_allclose(got, exp, equal_nan=True)


def test_locf():
    X = np.array([[np.nan, 1.0], [2.0, np.nan], [np.nan, np.nan]])
    out = timeseries.locf_np(X)
    assert np.isnan(out[0, 0])  # leading NaN stays
    assert out[1, 0] == 2.0 and out[2, 0] == 2.0
    assert out[1, 1] == 1.0 and out[2, 1] == 1.0


def test_spark_m2m_hampel(spark, tiny_images):
    """Grouped m2m emits one row per timestep; filtered != input
    (test-singleband-m2m.R:61-64); captions survive."""
    df = warp.assign_cells(tiny_images, datagen.TILE_RES)
    out = timeseries.hampel(df, k=1, t0=1.0).toPandas()
    assert len(out) == tiny_images.count()
    assert set(out.image_id) == set(
        r.image_id for r in tiny_images.select("image_id").collect())
    src = {r.image_id: r for r in tiny_images.collect()}
    changed = any(bytes(out[out.image_id == iid].bytes.iloc[0]) != bytes(src[iid].bytes)
                  for iid in list(src)[:20])
    assert changed


def test_moving_mean_cumsum_matches_loop_oracle():
    """The cumsum-form moving mean must equal the naive per-timestep
    window loop (truncated edges, NaN-aware, NaN positions preserved)."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(37, 23))
    X[rng.random(X.shape) < 0.25] = np.nan
    X[:, 3] = np.nan  # an all-NaN series
    for half in (1, 2, 5, 40):  # 40 > T: full-series window
        got = timeseries.moving_mean_np(X, half)
        exp = np.full_like(X, np.nan)
        T = X.shape[0]
        for i in range(T):
            lo, hi = max(0, i - half), min(T, i + half + 1)
            with np.errstate(invalid="ignore"):
                import warnings
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    exp[i] = np.nanmean(X[lo:hi], axis=0)
        exp[np.isnan(X)] = np.nan
        np.testing.assert_allclose(got, exp, rtol=1e-12, equal_nan=True)


# ----------------------------------------------------- Savitzky-Golay ----

def test_savgol_coeffs_window5_order2_closed_form():
    # the textbook center coefficients (-3, 12, 17, 12, -3)/35
    c = timeseries.savgol_coeffs(5, 2)
    np.testing.assert_allclose(
        c, np.array([-3, 12, 17, 12, -3]) / 35.0, rtol=1e-12)
    # order 0 degenerates to the moving mean
    np.testing.assert_allclose(timeseries.savgol_coeffs(3, 0),
                               np.full(3, 1 / 3), rtol=1e-12)


def test_savgol_np_matches_polyfit_loop():
    """Independent oracle: per-window np.polyfit evaluated at the
    center must equal the convolution form."""
    rng = np.random.default_rng(17)
    X = rng.normal(size=(25, 7))
    for window, order in ((5, 2), (7, 3), (5, 4)):
        got = timeseries.savgol_np(X, window, order)
        half = window // 2
        T = X.shape[0]
        exp = X.copy()
        offs = np.arange(-half, half + 1, dtype=float)
        for p in range(X.shape[1]):
            for t in range(half, T - half):
                co = np.polyfit(offs, X[t - half:t + half + 1, p], order)
                exp[t, p] = np.polyval(co, 0.0)
        np.testing.assert_allclose(got, exp, rtol=1e-9)


def test_savgol_preserves_edges_nans_and_polynomials():
    rng = np.random.default_rng(19)
    X = rng.normal(size=(15, 3))
    X[7, 1] = np.nan
    out = timeseries.savgol_np(X, 5, 2)
    # edge rows untouched
    np.testing.assert_array_equal(out[:2], X[:2])
    np.testing.assert_array_equal(out[-2:], X[-2:])
    # windows touching the NaN keep their original values (rows 5..9
    # of series 1), and the NaN itself survives
    np.testing.assert_array_equal(out[5:10, 1], X[5:10, 1])
    # other series smooth normally at those rows
    assert not np.array_equal(out[5:10, 0], X[5:10, 0])
    # a quadratic is reproduced EXACTLY by polyorder-2 smoothing
    t = np.arange(15, dtype=float)
    Q = (3.0 + 2.0 * t - 0.5 * t * t)[:, None]
    np.testing.assert_allclose(timeseries.savgol_np(Q, 5, 2), Q,
                               rtol=1e-10)
    # T < window: unchanged
    np.testing.assert_array_equal(timeseries.savgol_np(X[:3], 5, 2),
                                  X[:3])
    import pytest as _pt
    with _pt.raises(ValueError, match="odd"):
        timeseries.savgol_coeffs(4, 2)
    with _pt.raises(ValueError, match="polyorder"):
        timeseries.savgol_coeffs(5, 5)


def test_spark_savgol_matches_driver(spark, tiny_images):
    """Distributed per-pixel Savitzky-Golay == driver-side savgol_np on
    every cell's stacked series (same m2m machinery as hampel)."""
    df = warp.assign_cells(tiny_images, datagen.TILE_RES)
    out = timeseries.savgol(df, window=5, polyorder=2).toPandas()
    src = df.toPandas()
    assert len(out) == len(src)
    for cell_id, grp in src.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        T, B, H, W = stack.shape
        want = np.stack([
            timeseries.savgol_np(stack[:, b].reshape(T, H * W), 5, 2)
            .reshape(T, H, W) for b in range(B)], axis=1)
        og = out[out.cell_id == cell_id].set_index("image_id")
        for t, r in enumerate(grp.itertuples(index=False)):
            exp = codec.encode(
                codec.from_float(want[t], nodata,
                                 codec.dtype_for(r.fmt)), r.fmt)
            assert bytes(og.loc[r.image_id].bytes) == exp


# --------------------------------------------------------- whittaker

def _whittaker_dense_oracle(X, lam, d):
    """From-scratch dense twin: build (W + lam*DtD) per column and
    np.linalg.solve it — independent of the banded Cholesky path."""
    T, P = X.shape
    D = np.diff(np.eye(T), n=d, axis=0)
    A0 = lam * (D.T @ D)
    out = X.copy()
    for p in range(P):
        f = np.isfinite(X[:, p])
        if f.sum() < d:
            continue
        A = A0 + np.diag(f.astype(float))
        out[:, p] = np.linalg.solve(A, np.where(f, X[:, p], 0.0))
    return out


def test_whittaker_matches_dense_solve_oracle():
    rng = np.random.default_rng(7)
    for d in (1, 2, 3):
        for T in (d + 1, 9, 48):
            X = rng.normal(50, 10, (T, 11))
            X[rng.random(X.shape) < 0.25] = np.nan
            X[:, 0] = np.nan                    # all-NaN column
            X[min(d, T - 1):, 1] = np.nan       # < d finite samples
            got = timeseries.whittaker_np(X, 5.0, d)
            exp = _whittaker_dense_oracle(X, 5.0, d)
            # rtol 1e-6: the exactly-d-points column extrapolates a
            # deg<d polynomial across the whole series — legitimately
            # ill-conditioned, banded and dense solvers agree to ~1e-8
            assert np.allclose(got, exp, equal_nan=True,
                               rtol=1e-6, atol=1e-8), (d, T)


def test_whittaker_polynomial_fixed_points_and_gaps():
    t = np.arange(30.0)
    const = np.full((30, 1), 7.25)
    assert np.allclose(timeseries.whittaker_np(const, 100.0, 2), const)
    lin = (3.0 + 0.5 * t)[:, None]
    assert np.allclose(timeseries.whittaker_np(lin, 1e4, 2), lin)
    # a NaN gap in a linear profile interpolates back onto the line
    gap = lin.copy()
    gap[10:13, 0] = np.nan
    sm = timeseries.whittaker_np(gap, 10.0, 2)
    assert np.allclose(sm, lin, atol=1e-6)
    # large lambda -> the d=2 smooth approaches the OLS line of a noisy
    # series; small lambda stays close to the data at observed points
    rng = np.random.default_rng(1)
    noisy = lin[:, 0] + rng.normal(0, 0.3, 30)
    big = timeseries.whittaker_np(noisy[:, None], 1e8, 2)[:, 0]
    coef = np.polyfit(t, noisy, 1)
    assert np.allclose(big, np.polyval(coef, t), atol=1e-3)
    small = timeseries.whittaker_np(noisy[:, None], 1e-6, 2)[:, 0]
    assert np.allclose(small, noisy, atol=1e-3)


def test_whittaker_short_and_degenerate_series():
    X = np.array([[1.0, np.nan], [2.0, np.nan]])
    out = timeseries.whittaker_np(X, 5.0, 2)   # T <= d: untouched
    assert np.array_equal(out, X, equal_nan=True)
    import pytest as _pt
    with _pt.raises(ValueError):
        timeseries.whittaker_np(X, 0.0, 2)
    with _pt.raises(ValueError):
        timeseries.whittaker_np(X, 1.0, 0)


def test_spark_whittaker_matches_driver(spark, tiny_images):
    """Distributed per-pixel Whittaker == driver-side whittaker_np on
    every cell's stacked series (same m2m machinery as hampel)."""
    df = warp.assign_cells(tiny_images, datagen.TILE_RES)
    out = timeseries.whittaker(df, lam=5.0, d=2).toPandas()
    src = df.toPandas()
    assert len(out) == len(src)
    for cell_id, grp in src.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        T, B, H, W = stack.shape
        want = np.stack([
            timeseries.whittaker_np(stack[:, b].reshape(T, H * W), 5.0, 2)
            .reshape(T, H, W) for b in range(B)], axis=1)
        og = out[out.cell_id == cell_id].set_index("image_id")
        for t, r in enumerate(grp.itertuples(index=False)):
            exp = codec.encode(
                codec.from_float(want[t], nodata,
                                 codec.dtype_for(r.fmt)), r.fmt)
            assert bytes(og.loc[r.image_id].bytes) == exp


# ------------------------------ classical seasonal decomposition ----

def test_decompose_recovers_planted_components():
    # x_t = (a + b*t) + s_{t mod 4} with sum(s) = 0: on interior rows
    # the centered 2x4 MA reproduces the line EXACTLY and the phase
    # means recover s exactly; residual is 0 to float eps
    T, p = 24, 4
    t = np.arange(T, dtype=np.float64)
    s_pat = np.array([3.0, -1.0, -4.0, 2.0])   # sums to 0
    x = (10.0 + 0.5 * t + s_pat[np.arange(T) % p])[:, None]
    from vrtility_spark import timeseries as ts
    tr = ts.decompose_np(x, p, "trend")
    se = ts.decompose_np(x, p, "seasonal")
    re = ts.decompose_np(x, p, "resid")
    interior = slice(2, T - 2)
    np.testing.assert_allclose(tr[interior, 0],
                               (10.0 + 0.5 * t)[interior], rtol=1e-12)
    np.testing.assert_allclose(se[interior, 0],
                               s_pat[np.arange(T) % p][interior],
                               rtol=1e-12, atol=1e-10)
    np.testing.assert_allclose(re[interior, 0], 0.0, atol=1e-9)
    # edges: trend/resid NaN outside the window, seasonal still tiled
    assert np.isnan(tr[0, 0]) and np.isnan(re[-1, 0])
    assert np.isfinite(se[0, 0])
    # component sum identity wherever all three are finite
    fin = np.isfinite(tr[:, 0]) & np.isfinite(se[:, 0])
    np.testing.assert_allclose(
        (tr + se + re)[fin, 0], x[fin, 0], rtol=1e-12)


def test_decompose_nan_and_guards():
    from vrtility_spark import timeseries as ts
    T, p = 16, 4
    x = np.ones((T, 2))
    x[5, 0] = np.nan
    tr = ts.decompose_np(x, p, "trend")
    # any NaN in the centered window poisons that trend row (col 0)
    assert np.isnan(tr[4, 0]) and np.isnan(tr[6, 0])
    assert np.isfinite(tr[5, 1])
    # constant series: odd period, exact identity components
    c = np.full((15, 1), 7.0)
    np.testing.assert_allclose(
        ts.decompose_np(c, 3, "trend")[1:-1, 0], 7.0)
    np.testing.assert_allclose(
        ts.decompose_np(c, 3, "seasonal")[:, 0], 0.0, atol=1e-12)
    with pytest.raises(ValueError, match="component"):
        ts.decompose_np(x, p, "cycle")
    with pytest.raises(ValueError, match="period"):
        ts.decompose_np(x, 1)
    # series shorter than the window: trend all NaN, seasonal defined
    short = np.arange(3, dtype=np.float64)[:, None]
    assert np.isnan(ts.decompose_np(short, 4, "trend")).all()


def test_decompose_distributed_matches_driver(spark, tiny_images):
    from vrtility_spark import codec, datagen, timeseries as ts, warp
    df = warp.assign_cells(tiny_images, datagen.TILE_RES)
    out = {(r.image_id, r.cell_id): r
           for r in ts.decompose(df, period=2,
                                 component="seasonal").collect()}
    pdf = df.toPandas()
    n = 0
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime",
                              kind="mergesort").reset_index(drop=True)
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        Tn, B, H, W = stack.shape
        want = np.stack([
            ts.decompose_np(stack[:, b].reshape(Tn, H * W), 2,
                            "seasonal").reshape(Tn, H, W)
            for b in range(B)], axis=1)
        for t in range(Tn):
            r = out[(grp.image_id.iloc[t], int(cell_id))]
            assert r.fmt == "rawf32" and r.nodata == -9999.0
            got = codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
            np.testing.assert_array_equal(
                np.asarray(got, np.float32),
                want[t].astype(np.float32))
            n += 1
    assert n == len(pdf)


def test_m2m_masks_and_carries_band_nodata(spark):
    """singleband_m2m masks with the per-band sentinels (band_nodata),
    not the scalar nodata: a 65535 band-0 sentinel mid-series stays
    nodata instead of being Hampel-filtered into a valid value. The
    output carries band_nodata; a re-typing out_fmt (decompose) nulls
    it."""
    import pandas as pd
    vals = [5000, 5100, 5200, 65535, 5300, 5400, 5500]
    rows = []
    for t, v in enumerate(vals):
        arr = np.stack([np.full((2, 2), v), np.full((2, 2), 100 + t)])
        rows.append({
            "image_id": f"s{t}", "cell_id": 1,
            "datetime": pd.Timestamp("2024-01-01") + pd.Timedelta(days=10 * t),
            "bytes": codec.encode(arr.astype(np.uint16), "raw16"),
            "w": 2, "h": 2, "fmt": "raw16", "nodata": 0.0,
            "caption": f"c{t}", "band_nodata": [65535.0, 0.0]})
    df = spark.createDataFrame(pd.DataFrame(rows), schema=(
        "image_id string, cell_id long, datetime timestamp, bytes binary, "
        "w int, h int, fmt string, nodata double, caption string, "
        "band_nodata array<double>"))
    out = {r.image_id: r for r in timeseries.hampel(df, k=2).collect()}
    assert len(out) == len(vals)
    mid = codec.decode(out["s3"].bytes, 2, 2, "raw16")
    assert (mid[0] == 65535).all()
    assert (mid[1] == 103).all()
    for r in out.values():
        assert list(r.band_nodata) == [65535.0, 0.0] and r.nodata == 0.0
    dec = timeseries.decompose(df, period=2).collect()
    assert all(r.band_nodata is None and r.nodata == -9999.0 for r in dec)
