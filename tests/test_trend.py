"""Per-pixel temporal trend: naive per-pixel polyfit oracle parity,
degenerate-series handling, stack-vs-incremental equivalence, and the
distributed paths (shuffle volume gate included)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vrtility_spark import codec, datagen, schema, trend, warp


def _naive_trend(ts_years, stack):
    """Deliberately-naive loop oracle: np.polyfit per (band, pixel)
    over that pixel's valid observations only."""
    T, B, H, W = stack.shape
    out = np.full((3 * B, H, W), np.nan)
    for b in range(B):
        for i in range(H):
            for j in range(W):
                y = stack[:, b, i, j]
                ok = ~np.isnan(y)
                n = int(ok.sum())
                out[2 * B + b, i, j] = n
                t = ts_years[ok]
                if n < 2 or np.ptp(t) == 0:
                    continue
                slope, icept = np.polyfit(t, y[ok], 1)
                out[b, i, j] = slope
                out[B + b, i, j] = icept
    return out


# ------------------------------------------------------ kernel units ----

def test_trend_np_matches_naive_polyfit():
    rng = np.random.default_rng(7)
    T, B, H, W = 9, 2, 5, 6
    ts = np.sort(rng.uniform(3.0, 5.5, T))
    stack = rng.normal(100.0, 25.0, (T, B, H, W))
    stack[rng.random((T, B, H, W)) < 0.3] = np.nan
    got = trend.trend_np(ts, stack)
    want = _naive_trend(ts, stack)
    np.testing.assert_allclose(got, want, rtol=1e-8, atol=1e-8,
                               equal_nan=True)


def test_trend_np_exact_line_and_units():
    # y = 12*t + 3 sampled at known times → slope 12/year, intercept 3
    # AT TREND_EPOCH (t=0), not at the first sample
    ts = np.array([4.0, 4.25, 4.5, 5.0])
    stack = (12.0 * ts[:, None, None, None] + 3.0) * np.ones((4, 1, 2, 2))
    out = trend.trend_np(ts, stack)
    np.testing.assert_allclose(out[0], 12.0, rtol=1e-9)
    np.testing.assert_allclose(out[1], 3.0, rtol=1e-7)
    assert (out[2] == 4).all()


def test_trend_np_degenerate_pixels():
    # n=0 / n=1 / all-one-timestamp pixels → NaN slope+intercept, n kept
    ts = np.array([1.0, 1.0, 2.0])
    stack = np.full((3, 1, 1, 3), np.nan)
    stack[:, 0, 0, 1] = [5.0, np.nan, np.nan]        # n=1
    stack[:, 0, 0, 2] = [5.0, 7.0, np.nan]           # n=2 but same t
    out = trend.trend_np(ts, stack)
    assert np.isnan(out[0]).all() and np.isnan(out[1]).all()
    assert list(out[2, 0]) == [0.0, 1.0, 2.0]


def test_t_years_epoch():
    assert float(trend.t_years(np.int64(trend.TREND_EPOCH.value))) == 0.0
    one_year = np.int64(trend.TREND_EPOCH.value + int(365.25 * 86400 * 1e9))
    assert float(trend.t_years(one_year)) == pytest.approx(1.0)


# ------------------------------------------------- distributed paths ----

@pytest.fixture(scope="module")
def celled(spark, tiny_images):
    return warp.assign_cells(tiny_images, datagen.TILE_RES).cache()


def _decode_map(rows):
    return {r.cell_id: (codec.decode(r.bytes, r.w, r.h, r.fmt), r)
            for r in rows}


def test_trend_stack_matches_local_kernel(spark, celled, tiny_images_pdf):
    got = _decode_map(trend.trend_stack(celled).collect())
    pdf = tiny_images_pdf.copy()
    cx, cy = (pdf.xmin + pdf.xmax) / 2, (pdf.ymin + pdf.ymax) / 2
    from vrtility_spark import cells
    pdf["cell_id"] = cells.xy_to_cell_np(
        pdf.zone.values, cx.values, cy.values, datagen.TILE_RES)
    assert len(got) == pdf.cell_id.nunique()
    for cid, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nd)
            for r in grp.itertuples(index=False)])
        ts = trend.t_years(grp.datetime.values.astype("datetime64[ns]")
                           .astype(np.int64))
        want = codec.from_float(trend.trend_np(ts, stack),
                                trend.OUT_NODATA, "float32")
        arr, row = got[int(cid)]
        np.testing.assert_array_equal(arr, want)
        assert row.n_scenes == len(grp)
        assert row.nodata == trend.OUT_NODATA
        assert pd.Timestamp(row.datetime_min) == grp.datetime.min()
        assert pd.Timestamp(row.datetime_max) == grp.datetime.max()


def test_trend_incremental_matches_stack(spark, celled):
    a = _decode_map(trend.trend_incremental(celled).collect())
    b = _decode_map(trend.trend_stack(celled).collect())
    assert a.keys() == b.keys()
    for cid in a:
        arr_a, row_a = a[cid]
        arr_b, row_b = b[cid]
        # identical modulo float64 partial-sum association order,
        # which the float32 cast almost always absorbs
        np.testing.assert_allclose(
            np.where(arr_a == trend.OUT_NODATA, np.nan, arr_a),
            np.where(arr_b == trend.OUT_NODATA, np.nan, arr_b),
            rtol=1e-5, atol=1e-5, equal_nan=True)
        assert row_a.n_scenes == row_b.n_scenes
        assert row_a.datetime_min == row_b.datetime_min
        assert row_a.datetime_max == row_b.datetime_max


def test_trend_incremental_early_flush_parity(spark, celled):
    tight = _decode_map(trend.trend_incremental(
        celled, max_active_cells=1).collect())
    loose = _decode_map(trend.trend_incremental(celled).collect())
    assert tight.keys() == loose.keys()
    for cid in tight:
        np.testing.assert_array_equal(tight[cid][0], loose[cid][0])
        assert tight[cid][1].n_scenes == loose[cid][1].n_scenes


def test_trend_shuffle_volume_bounded(spark, celled):
    """The only shuffled rows are fixed-size partials: absent early
    flushes, rows <= input partitions x cells — independent of scenes
    per cell (the 100-TB gate, same shape as test_bounded's)."""
    n_cells = celled.select("cell_id").distinct().count()
    n_parts = celled.rdd.getNumPartitions()
    n_partials = trend.trend_partials(celled).count()
    assert n_partials <= n_parts * n_cells


def test_trend_mask_fusion_pipeline(spark, tiny_images):
    """Pipeline.trend fuses the lazily-recorded mask into the scene
    decode: masked classes leave fewer valid observations than the
    unmasked run on at least one cell."""
    from vrtility_spark.pipeline import Pipeline
    masked = (Pipeline(tiny_images)
              .set_maskfun("int", datagen.S2_MASK_VALUES)
              .warp(cell_res=datagen.TILE_RES)
              .trend().df.collect())
    plain = (Pipeline(tiny_images)
             .warp(cell_res=datagen.TILE_RES)
             .trend().df.collect())
    def nobs(rows):
        tot = {}
        for r in rows:
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            nb = arr.shape[0] // 3
            tot[r.cell_id] = float(arr[2 * nb:].sum())
        return tot
    m, p = nobs(masked), nobs(plain)
    assert m.keys() == p.keys()
    assert all(m[c] <= p[c] for c in m)
    assert any(m[c] < p[c] for c in m)


def test_trend_stack_budget_guard(spark, celled):
    with pytest.raises(Exception, match="max_stack_bytes"):
        trend.trend_stack(celled, max_stack_bytes=64).collect()


def test_trend_mode_router(spark, celled):
    with pytest.raises(KeyError, match="unknown trend mode"):
        trend.trend(celled, mode="nope")


@pytest.mark.parametrize("op", ["trend-stack", "trend-incremental",
                                "harmonic-stack", "harmonic-incremental",
                                "mk_trend"])
def test_null_datetime_scene_drops(spark, celled, op):
    """A scene with a null datetime has no position in time: every
    trend-family operator drops it (composite.cell_stack's rule, and
    the same in the incremental partials) instead of fitting it at
    NaT's int64-min instant — the result equals the run without it."""
    from pyspark.sql import functions as F
    from vrtility_spark import harmonic, mktrend
    name, _, mode = op.partition("-")
    run = {"trend": lambda df: trend.trend(df, mode=mode),
           "harmonic": lambda df: harmonic.harmonic(df, mode=mode),
           "mk_trend": mktrend.mk_trend}[name]
    iid = celled.select("image_id").orderBy("image_id").first().image_id
    nat = celled.withColumn("datetime", F.when(
        F.col("image_id") == iid, F.lit(None).cast("timestamp"))
        .otherwise(F.col("datetime")))
    got = _decode_map(run(nat).collect())
    want = _decode_map(run(celled.where(F.col("image_id") != iid)).collect())
    assert got.keys() == want.keys()
    for cid in want:
        np.testing.assert_array_equal(got[cid][0], want[cid][0])
        for col in ("n_scenes", "datetime_min", "datetime_max"):
            assert getattr(got[cid][1], col) == getattr(want[cid][1], col)
