"""Focal operators: NumPy kernels vs naive loops, and the distributed
halo exchange vs a single assembled mosaic (the property a naive
tile-at-a-time port violates at every tile boundary)."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from vrtility_spark import cells, codec, focal
from vrtility_spark.pipeline import Pipeline

RNG = np.random.default_rng(7)


# ------------------------------------------------------- loop oracle ----

def focal_loop(G: np.ndarray, op: str, r: int, weights=None,
               normalize=None) -> np.ndarray:
    """Deliberately-naive per-pixel focal reduce over a (B, H, W) array
    (NaN = invalid); windows shrink at the array edge (same as NaN
    padding)."""
    B, H, W = G.shape
    P = np.full((B, H + 2 * r, W + 2 * r), np.nan)
    P[:, r:r + H, r:r + W] = G
    out = np.full((B, H, W), np.nan)
    if op == "conv" and normalize is None:
        normalize = bool(np.asarray(weights).sum() != 0.0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        for b in range(B):
            for y in range(H):
                for x in range(W):
                    win = P[b, y:y + 2 * r + 1, x:x + 2 * r + 1]
                    v = np.isfinite(win)
                    if op == "count":
                        out[b, y, x] = v.sum()
                        continue
                    if not v.any():
                        continue
                    if op == "conv":
                        w = np.asarray(weights, np.float64)
                        num = (np.where(v, win, 0.0) * w).sum()
                        out[b, y, x] = num / (w[v].sum() if normalize
                                              else 1.0) \
                            if not (normalize and w[v].sum() == 0) else np.nan
                        continue
                    if op == "majority":
                        vals, cnts = np.unique(win[v],
                                               return_counts=True)
                        out[b, y, x] = vals[cnts.argmax()]
                        continue
                    if op == "range":
                        out[b, y, x] = np.nanmax(win) - np.nanmin(win)
                        continue
                    f = {"mean": np.nanmean, "sum": np.nansum,
                         "min": np.nanmin, "max": np.nanmax,
                         "median": np.nanmedian, "std": np.nanstd}[op]
                    out[b, y, x] = f(win)
    return out


def _rand(shape, nan_frac=0.25):
    a = np.round(RNG.normal(1000, 200, size=shape))
    a[RNG.random(shape) < nan_frac] = np.nan
    return a


_NP_OPS = ["mean", "sum", "count", "min", "max", "median", "std", "range",
           "majority"]


@pytest.mark.parametrize("r, op", [(r, op) for r in (1, 2) for op in _NP_OPS]
                         + [(3, "majority")])
def test_focal_np_matches_loop(op, r):
    G = _rand((2, 9, 11))
    if op == "majority":
        # class-like raster: few distinct values so ties actually occur
        G = np.where(np.isnan(G), np.nan, np.round(G / 200) * 200)
    P = np.full((2, 9 + 2 * r, 11 + 2 * r), np.nan)
    P[:, r:r + 9, r:r + 11] = G
    got = focal.focal_np(P, op, r)
    want = focal_loop(G, op, r)
    rtol = 1e-9 if op == "std" else 1e-12  # integral-image cancellation
    np.testing.assert_allclose(got, want, rtol=rtol, atol=1e-9,
                               equal_nan=True)


def test_focal_std_range_majority_closed_forms():
    # constant plane: std 0, range 0, majority the constant
    C = np.full((1, 6, 6), 7.0)
    P = np.full((1, 8, 8), np.nan)
    P[:, 1:-1, 1:-1] = C
    interior = (slice(1, -1), slice(1, -1))
    assert np.allclose(focal.focal_np(P, "std", 1)[0][interior], 0.0)
    assert np.allclose(focal.focal_np(P, "range", 1)[0][interior], 0.0)
    assert np.allclose(focal.focal_np(P, "majority", 1)[0], 7.0)
    # majority tie -> SMALLEST value: a checkerboard of 1/2 has a
    # 5-vs-4 split per full window; corner windows (2x2 in-domain)
    # tie 2-2 and must resolve to 1
    cb = np.indices((5, 5)).sum(axis=0) % 2 + 1.0
    Pcb = np.full((1, 7, 7), np.nan)
    Pcb[0, 1:-1, 1:-1] = cb
    mj = focal.focal_np(Pcb, "majority", 1)[0]
    assert mj[0, 0] == 1.0  # 2-2 tie among {1,2} -> 1
    assert mj[2, 2] == cb[2, 2]  # 5-vs-4: center value wins
    # all-NaN window -> NaN majority/std/range
    hole = np.full((1, 5, 5), np.nan)
    hole[0, 0, 0] = 3.0
    Ph = np.full((1, 7, 7), np.nan)
    Ph[:, 1:-1, 1:-1] = hole
    assert np.isnan(focal.focal_np(Ph, "majority", 1)[0, 4, 4])
    assert np.isnan(focal.focal_np(Ph, "std", 1)[0, 4, 4])
    # std is POPULATION std (ddof=0): two samples 0/2 -> std 1
    two = np.full((1, 3, 3), np.nan)
    two[0, 1, 0], two[0, 1, 2] = 0.0, 2.0
    Pt = np.full((1, 5, 5), np.nan)
    Pt[:, 1:-1, 1:-1] = two
    assert focal.focal_np(Pt, "std", 1)[0, 1, 1] == pytest.approx(1.0)


def test_focal_majority_memory_is_linear_in_window():
    """Radius-4 majority on one 64x64 band: a pairwise-equality count
    over the 81-sample windows alone would allocate ~27 MB; run-length
    counting on the sorted window must stay under 10 MB."""
    import tracemalloc
    r = 4
    P = np.full((1, 64 + 2 * r, 64 + 2 * r), np.nan)
    P[0, r:-r, r:-r] = np.arange(64 * 64).reshape(64, 64) % 7
    tracemalloc.start()
    try:
        out = focal.focal_np(P, "majority", r)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out.shape == (1, 64, 64) and np.isfinite(out).all()
    assert peak < 10 * 2**20, f"majority peaked at {peak / 2**20:.1f} MB"


def test_focal_np_conv_matches_loop():
    G = _rand((1, 8, 8))
    smooth = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], float)
    sobel = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], float)
    for w in (smooth, sobel):
        P = np.full((1, 10, 10), np.nan)
        P[:, 1:9, 1:9] = G
        got = focal.focal_np(P, "conv", 1, weights=w)
        want = focal_loop(G, "conv", 1, weights=w)
        np.testing.assert_allclose(got, want, rtol=1e-12, equal_nan=True)


def test_focal_np_integral_exact_for_ints():
    # integer-valued f64: integral-image mean must be exactly the
    # naive sum/count (no float drift), which is what lets the
    # constants oracle pin the distributed output bit-for-bit
    G = np.round(RNG.uniform(0, 4000, size=(1, 16, 16)))
    P = np.full((1, 18, 18), np.nan)
    P[:, 1:17, 1:17] = G
    got = focal.focal_np(P, "sum", 1)
    want = focal_loop(G, "sum", 1)
    assert np.array_equal(got, want)


# ------------------------------------------- distributed halo exchange ----

ZONE, RES = 30, 3
FMT, NODATA = "raw16", 0.0


def _grid_tiles(h, w, positions, nan_frac=0.15, seed=3):
    """Tiles at (ix, iy) grid positions with deterministic integer
    pixels; returns (rows, global_array) where the global mosaic has
    NaN at missing positions and at nodata pixels."""
    rng = np.random.default_rng(seed)
    nx = max(p[0] for p in positions) + 1
    ny = max(p[1] for p in positions) + 1
    G = np.full((2, ny * h, nx * w), np.nan)
    rows = []
    for ix, iy in positions:
        arr = np.round(rng.uniform(1, 4000, size=(2, h, w)))
        arr[rng.random(arr.shape) < nan_frac] = NODATA  # sentinel holes
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        rows.append({"cell_id": cid,
                     "bytes": codec.encode(arr.astype(np.uint16), FMT),
                     "w": w, "h": h, "fmt": FMT, "nodata": NODATA})
        A = arr.astype(np.float64)
        A[A == NODATA] = np.nan
        G[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w] = A
    return rows, G


TILE_SCHEMA = ("cell_id long, bytes binary, w int, h int, fmt string, "
               "nodata double")


def _run_and_collect(spark, rows, **kw):
    df = spark.createDataFrame(pd.DataFrame(rows), schema=TILE_SCHEMA)
    out = focal.focal_filter(df, **kw).collect()
    return {r["cell_id"]: codec.decode(r["bytes"], r["w"], r["h"], r["fmt"])
            for r in out}


def _expected_tiles(G, op, r, h, w, positions, fill, **kw):
    want = focal_loop(G, op, r, **kw)
    exp = {}
    for ix, iy in positions:
        tile_in = G[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        tile = want[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w].copy()
        if not fill:
            tile[np.isnan(tile_in)] = np.nan
        # storage round-trip: NaN -> sentinel, round, clip to uint16
        enc = codec.from_float(tile, NODATA, codec.dtype_for(FMT))
        exp[int(cells.encode_np(ZONE, RES, ix, iy))] = enc
    return exp


@pytest.mark.parametrize("op,fill", [("mean", False), ("median", True),
                                     ("max", False), ("std", True),
                                     ("majority", False),
                                     ("range", True)])
def test_halo_exchange_matches_global_mosaic(spark, op, fill):
    # full 3x3 grid: every interior boundary crosses tiles — byte parity
    # with the single-array computation proves the halo plumbing
    h = w = 12
    positions = [(ix, iy) for ix in range(3) for iy in range(3)]
    rows, G = _grid_tiles(h, w, positions)
    got = _run_and_collect(spark, rows, op=op, radius=1, fill=fill)
    exp = _expected_tiles(G, op, 1, h, w, positions, fill)
    assert set(got) == set(exp)
    for cid in exp:
        np.testing.assert_array_equal(got[cid], exp[cid])


def test_halo_exchange_radius2_and_missing_neighbor(spark):
    # L-shaped coverage: the hole's neighbors must see NaN there, and
    # radius-2 strips cross the gap correctly
    h = w = 10
    positions = [(0, 0), (1, 0), (0, 1)]  # (1,1) missing
    rows, G = _grid_tiles(h, w, positions, seed=11)
    got = _run_and_collect(spark, rows, op="mean", radius=2, fill=True)
    exp = _expected_tiles(G, "mean", 2, h, w, positions, True)
    for cid in exp:
        np.testing.assert_array_equal(got[cid], exp[cid])


def test_focal_conv_distributed(spark):
    h = w = 8
    positions = [(0, 0), (1, 0)]
    rows, G = _grid_tiles(h, w, positions, seed=5)
    sm = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], float)
    got = _run_and_collect(spark, rows, op="conv", radius=1, weights=sm)
    exp = _expected_tiles(G, "conv", 1, h, w, positions, False, weights=sm)
    for cid in exp:
        np.testing.assert_array_equal(got[cid], exp[cid])


def test_focal_errors(spark):
    h = w = 8
    rows, _ = _grid_tiles(h, w, [(0, 0)])
    dup = rows + rows
    df = spark.createDataFrame(pd.DataFrame(dup), schema=TILE_SCHEMA)
    with pytest.raises(Exception, match="one row per"):
        focal.focal_filter(df, op="mean").collect()
    with pytest.raises(ValueError, match="radius"):
        focal.focal_filter(
            spark.createDataFrame(pd.DataFrame(rows), schema=TILE_SCHEMA),
            op="mean", radius=0)
    with pytest.raises(KeyError, match="unknown focal op"):
        focal.focal_filter(
            spark.createDataFrame(pd.DataFrame(rows), schema=TILE_SCHEMA),
            op="gauss")


def test_focal_pipeline_verb_and_bundle(spark, tmp_path, tiny_images):
    comp = (Pipeline(tiny_images)
            .set_maskfun("int", [0, 1, 2, 3, 8, 9, 10, 11])
            .warp(cell_res=4)
            .composite("median"))
    sm = comp.focal("mean", radius=1)
    out = sm.df.collect()
    assert len(out) == len(comp.df.collect())
    bundle = tmp_path / "focal.json"
    sm.to_bundle(str(bundle))
    replay = Pipeline.from_bundle(str(bundle), tiny_images)
    a = {r["cell_id"]: r["bytes"] for r in out}
    b = {r["cell_id"]: r["bytes"] for r in replay.df.collect()}
    assert a == b


def test_focal_plan_one_exchange(spark):
    rows, _ = _grid_tiles(8, 8, [(0, 0), (1, 0)])
    df = spark.createDataFrame(pd.DataFrame(rows), schema=TILE_SCHEMA)
    plan = focal.focal_filter(df, op="mean")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1  # halos shuffle once, with tiles
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan


# --------------------------------------------------- named presets ----

def test_gaussian_kernel_properties():
    for r in (1, 2, 4):
        k = focal.gaussian_kernel(r)
        assert k.shape == (2 * r + 1, 2 * r + 1)
        np.testing.assert_allclose(k.sum(), 1.0, rtol=1e-12)
        np.testing.assert_allclose(k, k.T)          # symmetric
        np.testing.assert_allclose(k, k[::-1, ::-1])
        assert k[r, r] == k.max()
    # explicit sigma sharpens/flattens the peak
    assert focal.gaussian_kernel(2, sigma=0.5)[2, 2] > \
        focal.gaussian_kernel(2, sigma=3.0)[2, 2]


def test_preset_closed_forms():
    # constant field: sharpen/gaussian preserve it, laplacian/sobel = 0
    C = np.full((1, 8, 8), 41.0)
    P = np.pad(C, ((0, 0), (1, 1), (1, 1)), constant_values=np.nan)
    for name, want in (("sharpen", 41.0), ("gaussian", 41.0),
                       ("laplacian", 0.0), ("sobel", 0.0)):
        op, wts, norm = focal.expand_preset(name, 1)
        out = (op(P, {}) if callable(op)
               else focal.focal_np(P, op, 1, weights=wts, normalize=norm))
        interior = out[:, 1:-1, 1:-1]
        np.testing.assert_allclose(interior, want, atol=1e-9), name
    # x-ramp: sobel magnitude = 8*step on the interior, laplacian = 0
    ramp = np.tile(np.arange(8, dtype=float) * 3.0, (1, 8, 1))
    Pr = np.pad(ramp, ((0, 0), (1, 1), (1, 1)), constant_values=np.nan)
    sob, _, _ = focal.expand_preset("sobel", 1)
    mag = sob(Pr, {})[:, 1:-1, 1:-1]
    np.testing.assert_allclose(mag, 8 * 3.0, atol=1e-9)
    lop, lw, ln = focal.expand_preset("laplacian", 1)
    lap = focal.focal_np(Pr, lop, 1, weights=lw, normalize=ln)
    np.testing.assert_allclose(lap[:, 1:-1, 1:-1], 0.0, atol=1e-9)


def test_preset_validation():
    with pytest.raises(ValueError, match="radius=1"):
        focal.expand_preset("sharpen", 2)
    with pytest.raises(KeyError, match="unknown preset"):
        focal.expand_preset("boxcar", 1)


@pytest.fixture(scope="module")
def composited(spark, tiny_images):
    from vrtility_spark import datagen
    return (Pipeline(tiny_images)
            .set_maskfun("int", datagen.S2_MASK_VALUES)
            .warp(cell_res=datagen.TILE_RES)
            .composite("median").df.cache())


def test_preset_distributed_and_retype(spark, composited):
    # gaussian keeps the input payload format; sobel re-types rawf32
    g = focal.focal_filter(composited, op="gaussian", radius=2)
    s = focal.focal_filter(composited, op="sobel")
    grow = g.limit(1).collect()[0]
    srow = s.limit(1).collect()[0]
    assert grow.fmt == composited.limit(1).collect()[0].fmt
    assert srow.fmt == "rawf32" and srow.nodata == -9999.0
    # distributed gaussian == assembled-mosaic conv with the same
    # kernel on one representative cell (reuses the conv machinery
    # already mosaic-gated above, so a spot check suffices)
    from vrtility_spark.pipeline import Pipeline
    k = focal.gaussian_kernel(2)
    via_conv = focal.focal_filter(composited, op="conv", radius=2,
                                  weights=k, normalize=True)
    a = {r.cell_id: bytes(r.bytes) for r in g.collect()}
    b = {r.cell_id: bytes(r.bytes) for r in via_conv.collect()}
    assert a == b
