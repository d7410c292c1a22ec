"""Streaming remedian composite: weighted-median kernel vs
expansion oracle, exact-regime byte parity with the stack median,
consistency in the cascade regime, determinism, and state handling
across cell boundaries."""

from __future__ import annotations

import numpy as np
import pytest

from vrtility_spark import codec, composite, datagen, masks, schema, warp


# ------------------------------------------------------ kernel units ----

def _expanded_nanmedian(E, wts):
    """Per-pixel oracle: weighted median == median of the multiset with
    each plane repeated weight times."""
    K = E.shape[0]
    out = np.full(E.shape[1:], np.nan)
    flatE = E.reshape(K, -1)
    flat_out = out.reshape(-1)
    import warnings
    for p in range(flatE.shape[1]):
        vals = []
        for k in range(K):
            v = flatE[k, p]
            if not np.isnan(v):
                vals.extend([v] * int(wts[k]))
        if vals:
            flat_out[p] = np.median(vals)
    return out


def test_weighted_median_equal_weights_is_nanmedian():
    rng = np.random.default_rng(3)
    E = rng.normal(0, 10, (6, 2, 5, 5))
    E[rng.random(E.shape) < 0.3] = np.nan
    got = composite._weighted_median_planes(
        E, np.ones(6, dtype=np.int64))
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want = np.nanmedian(E, axis=0)
    np.testing.assert_allclose(got, want, equal_nan=True)


def test_weighted_median_matches_expansion_oracle():
    rng = np.random.default_rng(5)
    E = np.round(rng.uniform(0, 100, (5, 1, 4, 4)))
    E[rng.random(E.shape) < 0.25] = np.nan
    wts = np.array([1, 3, 9, 3, 1], dtype=np.int64)
    got = composite._weighted_median_planes(E, wts)
    want = _expanded_nanmedian(E, wts)
    np.testing.assert_allclose(got, want, equal_nan=True)


def test_remedian_acc_exact_and_cascade():
    class R:  # minimal profile row
        w, h, fmt, nodata, band_nodata = 4, 4, "raw16", 0.0, None
    rng = np.random.default_rng(9)
    # exact regime: n <= batch → plain nanmedian
    acc = composite._RemedianAcc(8, R(), 16)
    planes = [rng.uniform(0, 100, (1, 4, 4)) for _ in range(5)]
    for i, p in enumerate(planes):
        acc.add(p, None, f"c{i}")
    np.testing.assert_allclose(acc.result(),
                               np.median(np.stack(planes), axis=0))
    # cascade regime: rank of the estimate stays central per pixel
    acc = composite._RemedianAcc(5, R(), 16)
    planes = [rng.uniform(0, 100, (1, 4, 4)) for _ in range(60)]
    for i, p in enumerate(planes):
        acc.add(p, None, f"c{i}")
    est = acc.result()
    stack = np.stack(planes)
    ranks = (stack < est[None]).mean(axis=0)
    assert ranks.min() > 0.25 and ranks.max() < 0.75
    assert abs(ranks.mean() - 0.5) < 0.1
    assert acc.n == 60 and acc.n_caps == 60


# ------------------------------------------------- distributed paths ----

@pytest.fixture(scope="module")
def celled(spark, tiny_images):
    return warp.assign_cells(tiny_images, datagen.TILE_RES).cache()


def test_remedian_exact_regime_matches_stack_median(spark, celled):
    """Fixture cells hold 5 scenes < batch → the remedian IS the exact
    median: byte parity with the f64 stack path, metadata included."""
    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES)
    rem = {r.cell_id: r for r in composite.composite_remedian(
        celled, scene_fn=fn, compute_dtype="float64").collect()}
    stk = {r.cell_id: r for r in composite.composite(
        celled, "median", scene_fn=fn, mode="stack",
        compute_dtype="float64").collect()}
    assert rem.keys() == stk.keys()
    for cid in rem:
        assert bytes(rem[cid].bytes) == bytes(stk[cid].bytes)
        assert rem[cid].n_scenes == stk[cid].n_scenes
        assert rem[cid].caption_agg == stk[cid].caption_agg
        assert rem[cid].datetime_median == stk[cid].datetime_median
        assert rem[cid].band_nodata == stk[cid].band_nodata


def test_remedian_deterministic_and_multi_cell_partitions(spark, celled):
    a = {r.cell_id: bytes(r.bytes)
         for r in composite.composite_remedian(celled, batch=3).collect()}
    b = {r.cell_id: bytes(r.bytes)
         for r in composite.composite_remedian(celled, batch=3).collect()}
    assert a == b  # deterministic order → reproducible estimate
    n_cells = celled.select("cell_id").distinct().count()
    assert len(a) == n_cells  # key-change finalize loses no cell


def test_remedian_cascade_long_series_accuracy(spark):
    """60 scenes per cell at batch=5 exercises 2+ cascade levels; the
    estimate's per-pixel rank in the true stack stays central."""
    pdf = datagen.images_pandas(zones=(30,), nx=1, ny=1, n_dates=60,
                                w=16, h=16)
    df = warp.assign_cells(schema.images_df(spark, pdf), datagen.TILE_RES)
    est_rows = composite.composite_remedian(df, batch=5).collect()
    nd = np.asarray(pdf.iloc[0].band_nodata, dtype=np.float64)
    stack = np.stack([
        codec.to_float_masked(codec.decode(r.bytes, r.w, r.h, r.fmt), nd)
        for r in pdf.sort_values(["datetime", "image_id"])
        .itertuples(index=False)])
    assert len(est_rows) == 1 and est_rows[0].n_scenes == 60
    r0 = est_rows[0]
    est = codec.to_float_masked(
        codec.decode(r0.bytes, r0.w, r0.h, r0.fmt), nd)
    valid = np.isfinite(est) & (np.isfinite(stack).sum(axis=0) >= 10)
    # mid-rank handles ties (class planes, sentinel stripes): the
    # estimate's position = (#below + #equal/2) / #valid
    below = (stack < est[None]).sum(axis=0)
    equal = (stack == est[None]).sum(axis=0)
    nval = np.isfinite(stack).sum(axis=0)
    ranks = np.where(valid, (below + equal / 2.0) /
                     np.maximum(nval, 1), 0.5)
    assert ranks[valid].min() > 0.2 and ranks[valid].max() < 0.8
    assert abs(ranks[valid].mean() - 0.5) < 0.1


def test_remedian_router_and_errors(spark, celled):
    n = composite.composite(celled, "median", mode="remedian").count()
    assert n == celled.select("cell_id").distinct().count()
    with pytest.raises(ValueError, match="remedian"):
        composite.composite(celled, "mean", mode="remedian")
    with pytest.raises(ValueError, match="batch"):
        composite.composite_remedian(celled, batch=2)


def test_remedian_drops_null_datetime_scenes(spark, celled):
    """A scene with no datetime has no place in the time order: the
    remedian drops it, as every cell_stack-based composite does."""
    from pyspark.sql import functions as F

    victim = celled.select("image_id").orderBy("image_id").first()[0]
    nat = celled.withColumn(
        "datetime", F.when(F.col("image_id") == victim, None)
        .otherwise(F.col("datetime")))
    without = celled.where(F.col("image_id") != victim)

    def run(df):
        return {r.cell_id: r.asDict() for r in
                composite.composite_remedian(df, batch=3).collect()}
    assert run(nat) == run(without)
