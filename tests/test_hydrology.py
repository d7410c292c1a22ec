"""D8 flow accumulation: the vectorized frontier kernel vs the naive
path-walking oracle, closed forms on constructed terrain, and the
distributed cross-tile product vs one assembled mosaic (including
multi-round seam crossings and convergence guards)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import oracle
from vrtility_spark import cells, codec, hydrology, terrain

RNG = np.random.default_rng(47)

ZONE, RES = 51, 3
FMT, NODATA = "raw16", 0.0
TILE_SCHEMA = ("cell_id long, bytes binary, w int, h int, fmt string, "
               "nodata double")


def _pad(G):
    B, H, W = G.shape
    P = np.full((B, H + 2, W + 2), np.nan)
    P[:, 1:-1, 1:-1] = G
    return P


# ------------------------------------------------------ kernel oracle ----

def test_kernel_matches_walk_on_random_terrain():
    G = np.round(RNG.uniform(0, 500, size=(2, 12, 14)))
    G[RNG.random(G.shape) < 0.08] = np.nan
    codes = terrain.flow_direction_np(_pad(G), 2.0, 3.0)
    got = hydrology.flow_accumulation_np(codes)
    want = oracle.flow_accumulation_walk(codes)
    np.testing.assert_allclose(got, want, rtol=0, atol=0, equal_nan=True)


def test_east_flowing_plane_counts_upstream_columns():
    # z = -x: every pixel flows E; acc at column j counts the j pixels
    # west of it (edge ring is nodata through the strict flowdir
    # window, so the count starts at the first valid column)
    H = W = 8
    x = np.arange(W, dtype=np.float64)
    G = np.tile(-x, (H, 1))[None]
    codes = terrain.flow_direction_np(_pad(G), 1.0, 1.0)
    acc = hydrology.flow_accumulation_np(codes)[0]
    interior = slice(1, -1)
    for j in range(1, W - 1):
        np.testing.assert_allclose(acc[interior, j], j - 1)
    assert np.isnan(acc[0]).all() and np.isnan(acc[:, 0]).all()


def test_single_sink_collects_everything():
    # a bowl: one central sink receives every other valid pixel
    H = W = 9
    y, x = np.mgrid[0:H, 0:W]
    G = ((y - H // 2) ** 2 + (x - W // 2) ** 2).astype(np.float64)[None]
    codes = terrain.flow_direction_np(_pad(G), 1.0, 1.0)
    acc = hydrology.flow_accumulation_np(codes)[0]
    n_valid = int(np.isfinite(codes[0]).sum())
    assert acc[H // 2, W // 2] == n_valid - 1
    walk = oracle.flow_accumulation_walk(codes)[0]
    np.testing.assert_allclose(acc, walk, equal_nan=True)


def test_cycle_raises():
    codes = np.full((1, 4, 4), np.nan)
    codes[0, 1, 1], codes[0, 1, 2] = 1.0, 16.0  # E then W: a 2-cycle
    with pytest.raises(ValueError, match="cycle"):
        hydrology.flow_accumulation_np(codes)


# ------------------------------------------- distributed vs the mosaic ----

def _dem_tiles(h, w, positions, seed=23, tilt=None):
    rng = np.random.default_rng(seed)
    nx = max(p[0] for p in positions) + 1
    ny = max(p[1] for p in positions) + 1
    G = np.full((1, ny * h, nx * w), np.nan)
    rows = []
    for ix, iy in positions:
        if tilt == "east":
            # strictly east-draining ramp spanning tile seams
            xs = np.arange(ix * w, (ix + 1) * w, dtype=np.float64)
            arr = np.tile(5000.0 - 3.0 * xs, (h, 1))[None]
        else:
            arr = np.round(rng.uniform(1, 500, size=(1, h, w)))
            arr[rng.random(arr.shape) < 0.06] = NODATA
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        rows.append({"cell_id": cid,
                     "bytes": codec.encode(arr.astype(np.uint16), FMT),
                     "w": w, "h": h, "fmt": FMT, "nodata": NODATA})
        A = arr.astype(np.float64)
        A[A == NODATA] = np.nan
        G[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w] = A
    return rows, G


def _mosaic_want(G, h, w):
    size = cells.cell_size(RES)
    codes = terrain.flow_direction_np(_pad(G), size / w, size / h)
    return hydrology.flow_accumulation_np(codes)


def _run_distributed(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes = terrain.terrain(df, "flowdir")
    return {r.cell_id: r
            for r in hydrology.flow_accumulation(codes).collect()}


def _assert_matches(out, positions, want_all, h, w):
    assert len(out) == len(positions)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        assert r.fmt == "rawf32" and r.nodata == hydrology.OUT_NODATA
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_allclose(got, want.astype(np.float32),
                                   rtol=0, atol=0, equal_nan=True)


def test_distributed_matches_global_mosaic(spark):
    h = w = 16
    positions = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0)]
    rows, G = _dem_tiles(h, w, positions)
    out = _run_distributed(spark, rows)
    _assert_matches(out, positions, _mosaic_want(G, h, w), h, w)


def test_multi_seam_drainage_needs_rounds(spark):
    # a 4-tile-wide east ramp: mass from the west tile must cross 3
    # seams, exercising >= 3 cross-tile rounds
    h = w = 8
    positions = [(0, 0), (1, 0), (2, 0), (3, 0)]
    rows, G = _dem_tiles(h, w, positions, tilt="east")
    out = _run_distributed(spark, rows)
    _assert_matches(out, positions, _mosaic_want(G, h, w), h, w)
    # and a too-small round budget fails LOUDLY, not silently short
    sdf = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes = terrain.terrain(sdf, "flowdir")
    with pytest.raises(ValueError, match="did not converge"):
        hydrology.flow_accumulation(codes, max_rounds=1)


def test_stream_mask_thresholds(spark):
    h = w = 8
    positions = [(0, 0), (1, 0)]
    rows, G = _dem_tiles(h, w, positions, tilt="east")
    sdf = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    acc = hydrology.flow_accumulation(terrain.terrain(sdf, "flowdir"))
    t = 5.0
    out = {r.cell_id: r
           for r in hydrology.stream_mask(acc, threshold=t).collect()}
    want_all = _mosaic_want(G, h, w)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        exp = np.where(np.isnan(want), np.nan,
                       (want >= t).astype(np.float64))
        np.testing.assert_allclose(got, exp.astype(np.float32),
                                   equal_nan=True)


def test_missing_column_raises(spark):
    df = spark.createDataFrame(pd.DataFrame({"cell_id": [1]}),
                               "cell_id long")
    with pytest.raises(ValueError, match="missing column"):
        hydrology.flow_accumulation(df)


def test_pipeline_verb_and_bundle(spark, tmp_path, tiny_images):
    from vrtility_spark import datagen
    from vrtility_spark.pipeline import Pipeline
    p = (Pipeline(tiny_images)
         .set_maskfun("int", datagen.S2_MASK_VALUES)
         .warp(cell_res=datagen.TILE_RES)
         .composite("median")
         .terrain("flowdir")
         .flow_accumulation())
    rows = p.df.collect()
    assert len(rows) == 12 and rows[0].fmt == "rawf32"
    bp = str(tmp_path / "flowacc.json")
    p.to_bundle(bp)
    replay = Pipeline.from_bundle(bp, tiny_images)
    a = {r.cell_id: bytes(r.bytes) for r in rows}
    b = {r.cell_id: bytes(r.bytes) for r in replay.df.collect()}
    assert a == b


def test_cross_tile_cycle_diagnosed(spark):
    """A cross-tile 2-cycle (A's edge pixel drains east into B, whose
    entry pixel drains straight back west) can never converge; the
    bounded loop must raise a diagnostic that names the inter-tile
    cycle hypothesis and samples the pending inflows — not just tell
    the user to raise max_rounds (review finding)."""
    h = w = 8
    A = np.zeros((1, h, w), np.float32)
    B = np.zeros((1, h, w), np.float32)
    A[0, 3, 7], B[0, 3, 0] = 1.0, 16.0  # E into B, W back into A
    rows = [
        {"cell_id": int(cells.encode_np(ZONE, RES, ix, 0)),
         "bytes": codec.encode(arr, "rawf32"), "w": w, "h": h,
         "fmt": "rawf32", "nodata": -9999.0}
        for ix, arr in ((0, A), (1, B))]
    sdf = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    with pytest.raises(ValueError, match="CROSS-TILE cycle"):
        hydrology.flow_accumulation(sdf, max_rounds=6).count()


# ------------------------------------- topographic wetness (TWI) ----

def test_twi_kernel_closed_form_east_plane():
    # z = -3x at unit pixel size: tan(beta) = 3 exactly, acc at
    # column j counts the j-1 valid pixels west -> a = j, so
    # TWI = ln(j / 3) column by column
    H = W = 8
    x = np.arange(W, dtype=np.float64)
    G = np.tile(-3.0 * x, (H, 1))[None]
    codes = terrain.flow_direction_np(_pad(G), 1.0, 1.0)
    acc = hydrology.flow_accumulation_np(codes)
    slope = terrain.slope_np(_pad(G), 1.0, 1.0)
    twi = hydrology.twi_np(acc, slope, 1.0)
    for j in range(1, W - 1):
        np.testing.assert_allclose(twi[0, 1:-1, j], np.log(j / 3.0),
                                   rtol=1e-12, atol=1e-14)
    # NaN propagates from either input; flat ground clamps tan(beta)
    assert np.isnan(twi[0, 0]).all()
    flat_twi = hydrology.twi_np(np.zeros((1, 2, 2)),
                                np.zeros((1, 2, 2)), 10.0,
                                min_tanb=1e-3)
    np.testing.assert_allclose(flat_twi, np.log(10.0 / 1e-3))


def test_twi_distributed_matches_mosaic(spark):
    # full chain (no fill: random terrain keeps its sinks so acc
    # geography is interesting) vs the same kernels on one mosaic,
    # replicating the rawf32 round trip each distributed stage makes
    h = w = 16
    positions = [(0, 0), (1, 0), (0, 1), (1, 1)]
    rows, G = _dem_tiles(h, w, positions, seed=101)
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    size = cells.cell_size(RES)
    sx, sy = size / w, size / h
    ps = size / w
    out = {r.cell_id: r
           for r in hydrology.twi_from_dem(
               df, fill=False, pixel_size=ps).collect()}
    assert len(out) == len(positions)
    codes = terrain.flow_direction_np(_pad(G), sx, sy)
    acc32 = hydrology.flow_accumulation_np(codes).astype(np.float32)
    slope32 = terrain.slope_np(_pad(G), sx, sy).astype(np.float32)
    want_all = hydrology.twi_np(acc32.astype(np.float64),
                                slope32.astype(np.float64), ps)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        assert r.fmt == "rawf32" and r.nodata == -9999.0
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_allclose(got, want.astype(np.float32),
                                   rtol=1e-6, equal_nan=True)


def test_twi_from_dem_derives_pixel_size_and_fills(spark):
    # pixel_size omitted -> derived from the grid; fill=True routes
    # through fill_sinks first (flowacc then has no interior sinks on
    # a filled random DEM beyond flats' epsilon-drains)
    h = w = 16
    rows, G = _dem_tiles(h, w, [(0, 0), (1, 0)], seed=7)
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    auto = hydrology.twi_from_dem(df, fill=False).collect()
    size = cells.cell_size(RES)
    explicit = {r.cell_id: r for r in hydrology.twi_from_dem(
        df, fill=False, pixel_size=size / w).collect()}
    for r in auto:
        assert r.bytes == explicit[r.cell_id].bytes
    filled = hydrology.twi_from_dem(df).collect()
    assert len(filled) == 2 and all(r.fmt == "rawf32" for r in filled)


# --------------------------------------- downstream flow length ----

def flow_length_walk(codes, sx, sy):
    """Naive per-pixel walking oracle: follow the D8 path summing step
    lengths in walk order until a sink, a nodata target, or the plane
    edge."""
    step = {c: (dy, dx) for c, dy, dx in terrain.D8_CODES}
    B, H, W = codes.shape
    out = np.full((B, H, W), np.nan)
    for b in range(B):
        c = codes[b]
        for y in range(H):
            for x in range(W):
                if not np.isfinite(c[y, x]):
                    continue
                total, cy, cx = 0.0, y, x
                while True:
                    code = int(c[cy, cx])
                    if code == 0:
                        break
                    dy, dx = step[code]
                    ny, nx = cy + dy, cx + dx
                    if not (0 <= ny < H and 0 <= nx < W) \
                            or not np.isfinite(c[ny, nx]):
                        break
                    total += float(np.hypot(dx * sx, dy * sy))
                    cy, cx = ny, nx
                out[b, y, x] = total
    return out


def test_flow_length_kernel_matches_walk():
    G = np.round(RNG.uniform(0, 500, size=(2, 12, 14)))
    G[RNG.random(G.shape) < 0.08] = np.nan
    codes = terrain.flow_direction_np(_pad(G), 2.0, 3.0)
    got = hydrology.flow_length_np(codes, 2.0, 3.0)
    want = flow_length_walk(codes, 2.0, 3.0)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9,
                               equal_nan=True)


def test_flow_length_east_plane_closed_form():
    # z = -x: every valid pixel flows E; length at column j is the
    # remaining eastward run (W-2-j valid columns ahead) times sx
    H = W = 8
    x = np.arange(W, dtype=np.float64)
    G = np.tile(-x, (H, 1))[None]
    codes = terrain.flow_direction_np(_pad(G), 2.5, 1.0)
    fl = hydrology.flow_length_np(codes, 2.5, 1.0)[0]
    for j in range(1, W - 1):
        np.testing.assert_allclose(fl[1:-1, j], (W - 2 - j) * 2.5)
    # a sink pixel has length exactly 0
    bowl = ((np.mgrid[0:9, 0:9][0] - 4) ** 2
            + (np.mgrid[0:9, 0:9][1] - 4) ** 2).astype(np.float64)[None]
    cb = terrain.flow_direction_np(_pad(bowl), 1.0, 1.0)
    fb = hydrology.flow_length_np(cb, 1.0, 1.0)[0]
    assert fb[4, 4] == 0.0
    assert fb[4, 6] == 2.0 and fb[6, 6] == pytest.approx(2 * np.sqrt(2))


@pytest.mark.parametrize("tilt", [None, "east"])
def test_flow_length_distributed_matches_mosaic(spark, tilt):
    # byte parity with the mosaic kernel — the packed-count design
    # makes the distributed sums EXACT integers, so f32 encodes agree
    # bit-for-bit, seams and missing-neighbor fallbacks included
    h = w = 16
    positions = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0)]
    rows, G = _dem_tiles(h, w, positions, seed=67, tilt=tilt)
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    size = cells.cell_size(RES)
    sx, sy = size / w, size / h
    codes_df = terrain.terrain(df, "flowdir")
    out = {r.cell_id: r
           for r in hydrology.flow_length(codes_df).collect()}
    assert len(out) == len(positions)
    codes = terrain.flow_direction_np(_pad(G), sx, sy)
    want_all = hydrology.flow_length_np(codes, sx, sy)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        assert r.fmt == "rawf32" and r.nodata == hydrology.OUT_NODATA
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_array_equal(
            np.asarray(got, np.float32),
            want.astype(np.float32))


def test_flow_length_explicit_pixel_size(spark):
    rows, G = _dem_tiles(16, 16, [(0, 0), (1, 0)], seed=5,
                         tilt="east")
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir", pixel_size=2.0)
    out = {r.cell_id: r
           for r in hydrology.flow_length(
               codes_df, pixel_size=2.0).collect()}
    codes = terrain.flow_direction_np(_pad(G), 2.0, 2.0)
    want_all = hydrology.flow_length_np(codes, 2.0, 2.0)
    for ix, iy in [(0, 0), (1, 0)]:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * 16:(iy + 1) * 16, ix * 16:(ix + 1) * 16]
        np.testing.assert_array_equal(np.asarray(got, np.float32),
                                      want.astype(np.float32))


def test_flow_length_pipeline_verb_and_bundle(spark, tmp_path,
                                              tiny_images):
    from vrtility_spark import datagen
    from vrtility_spark.pipeline import Pipeline
    p = (Pipeline(tiny_images)
         .set_maskfun("int", datagen.S2_MASK_VALUES)
         .warp(cell_res=datagen.TILE_RES)
         .composite("median")
         .terrain("flowdir")
         .flow_length())
    rows = p.df.collect()
    assert len(rows) == 12 and rows[0].fmt == "rawf32"
    bp = str(tmp_path / "flowlen.json")
    p.to_bundle(bp)
    replay = Pipeline.from_bundle(bp, tiny_images)
    a = {r.cell_id: bytes(r.bytes) for r in rows}
    b = {r.cell_id: bytes(r.bytes) for r in replay.df.collect()}
    assert a == b


# --------------------------------------- watershed from pour points ----

def _ws_outlets(positions, h, w):
    """Deterministic pour points in world coords: one mid-tile outlet
    per listed tile + one off-coverage point (inert) + a duplicate
    pixel (smallest id must win)."""
    size = cells.cell_size(RES)
    pxs = size / w
    pts = []
    oid = 0
    for ix, iy in positions:
        x = (ix * w + w // 2 + 0.5) * pxs
        y = (iy * h + h // 2 + 0.5) * pxs
        pts.append((oid, ZONE, x, y))
        oid += 1
    # duplicate of outlet 0's pixel with a LARGER id: must lose
    pts.append((99, ZONE, pts[0][2], pts[0][3]))
    # far outside the covered tiles (but in-zone): labels nobody
    pts.append((50, ZONE, (len(positions) + 3) * w * pxs + pxs,
                pxs * 1.5))
    return pts


def test_watershed_np_matches_composed_kernels():
    G = np.round(RNG.uniform(0, 500, size=(1, 12, 12)))
    codes = terrain.flow_direction_np(_pad(G), 1.0, 1.0)
    pixels = [(4, 4), (8, 8), (4, 4)]
    ids = [7, 3, 1]                       # duplicate pixel: id 1 wins
    ws = hydrology.watershed_np(codes, pixels, ids)
    burned = hydrology.burn_outlets_np(codes, pixels)
    lab = hydrology.basins_np(burned)
    # every pixel labeled 1 or 3 drains exactly to that outlet pixel
    for oid, (py, px) in ((1, (4, 4)), (3, (8, 8))):
        sel = ws[0] == oid
        assert sel[py, px] or not np.isfinite(codes[0, py, px])
        g = int(py * hydrology.BASIN_SPAN + px)
        np.testing.assert_array_equal(sel, lab[0] == g)
    assert not (ws[0] == 7).any()         # lost the shared pixel
    # pixels reaching no outlet are NaN, nodata stays NaN
    assert np.isnan(ws[0][np.isnan(codes[0])]).all()


def test_watershed_east_plane_columns():
    # z = -x: everything flows E; an outlet at column j captures
    # exactly the columns <= j of its row band... all rows, since
    # each row drains independently east through column j
    H = W = 10
    x = np.arange(W, dtype=np.float64)
    G = np.tile(-x, (H, 1))[None]
    codes = terrain.flow_direction_np(_pad(G), 1.0, 1.0)
    ws = hydrology.watershed_np(codes, [(5, 6)], [4])
    got = ws[0]
    # row 5 columns 1..6 reach the outlet; other rows never do
    assert all(got[5, j] == 4 for j in range(1, 7))
    assert np.isnan(got[5, 7])            # downstream of the outlet
    assert np.isnan(got[3, 3])


def test_watershed_distributed_matches_mosaic(spark):
    h = w = 16
    positions = [(0, 0), (1, 0), (0, 1), (1, 1)]
    rows, G = _dem_tiles(h, w, positions, seed=29)
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir")
    pts = _ws_outlets(positions, h, w)
    outlets = spark.createDataFrame(
        pd.DataFrame(pts, columns=["outlet_id", "zone", "x", "y"]))
    out = {r.cell_id: r
           for r in hydrology.watershed(codes_df, outlets).collect()}
    assert len(out) == len(positions)
    size = cells.cell_size(RES)
    sx, sy = size / w, size / h
    codes = terrain.flow_direction_np(_pad(G), sx, sy)
    pxs = size / w
    pixels, ids = [], []
    for oid, _zone, x, y in pts:
        gx, gy = int(np.floor(x / pxs)), int(np.floor(y / pxs))
        if gy < G.shape[1] and gx < G.shape[2]:
            pixels.append((gy, gx))
            ids.append(oid)
    want_all = hydrology.watershed_np(codes, pixels, ids)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        assert r.fmt == "rawf64" and r.nodata == hydrology.OUT_NODATA
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_array_equal(got, want)


def test_watershed_cross_seam_capture(spark):
    # east ramp over two tiles, outlet in the EAST tile: west-tile
    # pixels in the same rows must carry the outlet id across the seam
    h = w = 8
    positions = [(0, 0), (1, 0)]
    rows, G = _dem_tiles(h, w, positions, tilt="east")
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir")
    size = cells.cell_size(RES)
    pxs = size / w
    x = (w + 3 + 0.5) * pxs               # column 11, east tile
    y = (3 + 0.5) * pxs                   # row 3
    outlets = spark.createDataFrame(
        pd.DataFrame([(42, ZONE, x, y)],
                     columns=["outlet_id", "zone", "x", "y"]))
    out = {r.cell_id: r
           for r in hydrology.watershed(codes_df, outlets).collect()}
    west = out[int(cells.encode_np(ZONE, RES, 0, 0))]
    Lw = codec.to_float_masked(
        codec.decode(west.bytes, west.w, west.h, west.fmt), west.nodata)
    assert (Lw[0, 3, 1:] == 42.0).all()   # row 3 west of the outlet
    assert np.isnan(Lw[0, 5, 3])          # other rows: no outlet


def test_watershed_same_pixel_in_two_zones_stays_separate(spark):
    # equal LOCAL pixel positions in DIFFERENT zones are distinct
    # terminals: zone A's outlet id must never label zone B's pixels
    h = w = 8
    size = cells.cell_size(RES)
    pxs = size / w
    all_rows = []
    for zone in (51, 52):
        rng_rows, _G = _dem_tiles(h, w, [(0, 0)], tilt="east")
        for r in rng_rows:
            r = dict(r)
            r["cell_id"] = int(cells.encode_np(zone, RES, 0, 0))
            all_rows.append(r)
    df = spark.createDataFrame(pd.DataFrame(all_rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir")
    x, y = (5 + 0.5) * pxs, (3 + 0.5) * pxs   # same pixel, both zones
    outlets = spark.createDataFrame(
        pd.DataFrame([(1, 51, x, y), (2, 52, x, y)],
                     columns=["outlet_id", "zone", "x", "y"]))
    out = {r.cell_id: r
           for r in hydrology.watershed(codes_df, outlets).collect()}
    for zone, oid in ((51, 1.0), (52, 2.0)):
        r = out[int(cells.encode_np(zone, RES, 0, 0))]
        L = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        labs = set(L[np.isfinite(L)].tolist())
        assert labs == {oid}


# ----------------------------------------------- upstream flow length ----

def upstream_flow_length_relax(codes, sx, sy):
    """Naive Bellman-Ford-style relaxation oracle for the longest
    upstream path: iterate ufl[q] = max(ufl[q], ufl[p] + step(p, q))
    over every edge until fixpoint."""
    step = {c: (dy, dx) for c, dy, dx in terrain.D8_CODES}
    B, H, W = codes.shape
    out = np.full((B, H, W), np.nan)
    for b in range(B):
        c = codes[b]
        ufl = np.where(np.isfinite(c), 0.0, np.nan)
        for _ in range(H * W + 2):
            nxt = ufl.copy()
            for y in range(H):
                for x in range(W):
                    code = c[y, x]
                    if not np.isfinite(code) or code == 0:
                        continue
                    dy, dx = step[int(code)]
                    ny, nx_ = y + dy, x + dx
                    if not (0 <= ny < H and 0 <= nx_ < W) \
                            or not np.isfinite(c[ny, nx_]):
                        continue
                    cand = ufl[y, x] + np.hypot(dx * sx, dy * sy)
                    if cand > nxt[ny, nx_]:
                        nxt[ny, nx_] = cand
            if np.array_equal(np.nan_to_num(nxt), np.nan_to_num(ufl)):
                break
            ufl = nxt
        out[b] = ufl
    return out


def test_ufl_kernel_matches_relaxation():
    G = np.round(RNG.uniform(0, 500, size=(2, 10, 12)))
    G[RNG.random(G.shape) < 0.08] = np.nan
    codes = terrain.flow_direction_np(_pad(G), 2.0, 3.0)
    got = hydrology.upstream_flow_length_np(codes, 2.0, 3.0)
    want = upstream_flow_length_relax(codes, 2.0, 3.0)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9,
                               equal_nan=True)


def test_ufl_closed_forms():
    # east plane: column j has j-1 valid columns upstream (west)
    H = W = 8
    x = np.arange(W, dtype=np.float64)
    G = np.tile(-x, (H, 1))[None]
    codes = terrain.flow_direction_np(_pad(G), 2.0, 2.0)
    u = hydrology.upstream_flow_length_np(codes, 2.0, 2.0)[0]
    for j in range(1, W - 1):
        np.testing.assert_allclose(u[1:-1, j], (j - 1) * 2.0)
    # bowl: the center sink's longest path comes from a corner of the
    # valid interior — two diagonal steps at unit pixels = 2*sqrt(2)
    g = np.mgrid[0:9, 0:9]
    bowl = ((g[0] - 4) ** 2 + (g[1] - 4) ** 2).astype(np.float64)[None]
    cb = terrain.flow_direction_np(_pad(bowl), 1.0, 1.0)
    ub = hydrology.upstream_flow_length_np(cb, 1.0, 1.0)[0]
    assert ub[4, 4] == pytest.approx(3 * np.sqrt(2))
    # headwaters (ridge pixels nothing drains into) are exactly 0
    assert ub[1, 1] == 0.0


@pytest.mark.parametrize("tilt", [None, "east"])
def test_ufl_distributed_matches_mosaic(spark, tilt):
    # byte parity: packed-count exactness holds across the wavefront
    h = w = 16
    positions = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0)]
    rows, G = _dem_tiles(h, w, positions, seed=83, tilt=tilt)
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir")
    out = {r.cell_id: r
           for r in hydrology.upstream_flow_length(codes_df).collect()}
    assert len(out) == len(positions)
    size = cells.cell_size(RES)
    sx, sy = size / w, size / h
    codes = terrain.flow_direction_np(_pad(G), sx, sy)
    want_all = hydrology.upstream_flow_length_np(codes, sx, sy)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        assert r.fmt == "rawf32" and r.nodata == hydrology.OUT_NODATA
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_array_equal(np.asarray(got, np.float32),
                                      want.astype(np.float32))


def test_ufl_multi_seam_and_guard(spark):
    # 4-tile east ramp: the east tile's lengths accumulate across 3
    # seams; a 1-round budget must fail loudly
    h = w = 8
    positions = [(0, 0), (1, 0), (2, 0), (3, 0)]
    rows, G = _dem_tiles(h, w, positions, tilt="east")
    df = spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
    codes_df = terrain.terrain(df, "flowdir")
    out = {r.cell_id: r
           for r in hydrology.upstream_flow_length(codes_df).collect()}
    size = cells.cell_size(RES)
    codes = terrain.flow_direction_np(_pad(G), size / w, size / h)
    want_all = hydrology.upstream_flow_length_np(codes, size / w,
                                                 size / h)
    for ix, iy in positions:
        cid = int(cells.encode_np(ZONE, RES, ix, iy))
        r = out[cid]
        got = codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt), r.nodata)
        want = want_all[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w]
        np.testing.assert_array_equal(np.asarray(got, np.float32),
                                      want.astype(np.float32))
    with pytest.raises(ValueError, match="did not converge"):
        hydrology.upstream_flow_length(codes_df, max_rounds=1)


def test_twi_pipeline_verb_and_bundle(spark, tmp_path, tiny_images):
    from vrtility_spark import datagen
    from vrtility_spark.pipeline import Pipeline
    p = (Pipeline(tiny_images)
         .set_maskfun("int", datagen.S2_MASK_VALUES)
         .warp(cell_res=datagen.TILE_RES)
         .composite("median")
         .twi(fill=False))
    rows = p.df.collect()
    assert len(rows) == 12 and rows[0].fmt == "rawf32"
    bp = str(tmp_path / "twi.json")
    p.to_bundle(bp)
    replay = Pipeline.from_bundle(bp, tiny_images)
    a = {r.cell_id: bytes(r.bytes) for r in rows}
    b = {r.cell_id: bytes(r.bytes) for r in replay.df.collect()}
    assert a == b


@pytest.mark.parametrize("fill", [True, False])
def test_twi_from_dem_empty_table_raises(spark, fill):
    df = spark.createDataFrame([], TILE_SCHEMA)
    with pytest.raises(ValueError, match="empty"):
        hydrology.twi_from_dem(df, fill=fill)
