"""Composite reducers: tiny-matrix unit tests (reference pattern:
test-multiband_reduce_funs.R), vectorized-vs-oracle parity, pairwise
distinctness (test-py-pixel-funs.R:22-59), and the Spark grouped path."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

import oracle
from vrtility_spark import codec, composite, datagen, masks, schema, warp


# ------------------------------------------------ tiny-matrix units ----

def test_medoid_tiny_no_na():
    X = np.array([[1.0, 10.0], [2.0, 20.0], [9.0, 90.0]])
    # column medians (2, 20) → row 1 is exactly it
    got = composite.medoid_mb(X[:, :, None])[:, 0]
    assert (got == np.array([2.0, 20.0])).all()


def test_medoid_tiny_with_na_imputed():
    X = np.array([[1.0, np.nan], [2.0, 20.0], [9.0, 90.0], [2.5, 21.0]])
    # band 1 has an NA → distances use band 0 only; median(b0)=2.25 → row 1 (2.0)
    got = composite.medoid_mb(X[:, :, None], impute_na=True)[:, 0]
    exp = oracle.medoid_1(X)
    np.testing.assert_allclose(got, exp)
    assert got[0] == 2.0


def test_medoid_na_not_imputed():
    X = np.array([[np.nan, 5.0], [np.nan, 7.0], [np.nan, 6.0]])
    got = composite.medoid_mb(X[:, :, None], impute_na=False)[:, 0]
    assert np.isnan(got[0]) and got[1] == 6.0
    # an all-NaN band has no statistic to impute from → stays NaN even
    # with impute_na (colMedians(na.rm=TRUE) of an all-NA column is NA)
    got_i = composite.medoid_mb(X[:, :, None], impute_na=True)[:, 0]
    assert np.isnan(got_i[0]) and got_i[1] == 6.0


def test_quantoid_tiny():
    X = np.array([[1.0, 10.0], [2.0, 20.0], [9.0, 90.0], [4.0, 40.0]])
    got = composite.quantoid_mb(X[:, :, None], probability=0.4)[:, 0]
    exp = oracle.quantoid_1(X, 0.4)
    np.testing.assert_allclose(got, exp)


def test_geomedian_weiszfeld_tiny():
    X = np.array([[0.0, 0.0], [10.0, 0.0], [5.0, 8.66]])
    got = composite.geomedian_mb(X[:, :, None], impute_na=False)[:, 0]
    exp = oracle.weiszfeld_1(X)
    np.testing.assert_allclose(got, exp, atol=1e-5)
    # geometric median of a near-equilateral triangle ≈ its Fermat point
    assert np.linalg.norm(got - np.array([5.0, 2.9])) < 0.5


def test_geomedoid_tiny():
    X = np.array([[1.0, 1.0], [5.0, 5.0], [6.0, 6.0], [100.0, 100.0]])
    got = composite.geomedoid_mb(X[:, :, None])[:, 0]
    exp = oracle.geomedoid_1(X)
    np.testing.assert_allclose(got, exp)
    assert got[0] in X[:, 0]  # selects a real observation


# -------------------------------------------- vectorized vs oracle ----

@pytest.fixture(scope="module")
def stack():
    rng = np.random.default_rng(7)
    s = rng.uniform(1, 1000, size=(6, 3, 5, 4))
    s[rng.random(s.shape) < 0.15] = np.nan
    s[:, :, 0, 0] = np.nan  # one fully-empty pixel
    s[0, :, 1, 1] = np.nan  # one all-NA observation
    return s


@pytest.mark.parametrize("how", ["median", "mean", "geomean", "mean_db",
                                 "min", "max"])
def test_singleband_vs_oracle(stack, how):
    got = composite.REDUCERS[how](stack)
    exp = oracle.composite_stack(stack, how)
    np.testing.assert_allclose(got, exp, rtol=1e-10, equal_nan=True)


def test_quantile_vs_oracle(stack):
    got = composite.quantile_t(0.25)(stack)
    exp = oracle.composite_stack(stack, "quantile", 0.25)
    np.testing.assert_allclose(got, exp, rtol=1e-10, equal_nan=True)


def test_mosaic_vs_oracle(stack):
    np.testing.assert_allclose(composite.mosaic_t(stack),
                               oracle.mosaic_stack(stack), equal_nan=True)


@pytest.mark.parametrize("name,red1", [
    ("medoid", oracle.medoid_1),
    ("quantoid", lambda X: oracle.quantoid_1(X, 0.4)),
    ("geomedoid", oracle.geomedoid_1),
])
def test_multiband_vs_oracle(stack, name, red1):
    got = composite.REDUCERS[name](stack)
    exp = oracle.multiband_stack(stack, red1)
    np.testing.assert_allclose(got, exp, rtol=1e-8, equal_nan=True)


def test_geomedian_vs_oracle_no_na():
    rng = np.random.default_rng(8)
    s = rng.uniform(1, 1000, size=(6, 3, 4, 4))
    got = composite.REDUCERS["geomedian"](s)
    exp = oracle.multiband_stack(s, lambda X: oracle.weiszfeld_1(X))
    np.testing.assert_allclose(got, exp, atol=1e-4)


@pytest.fixture(scope="module")
def bench_cell():
    """(T,B,P) float64 stack of the first cell of the composite
    benchmark's scenes (seed 1, 12 dates of 64x64), S2 int mask applied
    the way the engine's cell reader applies it."""
    pdf = datagen.images_pandas(seed=1, nx=3, ny=3, n_dates=12, w=64, h=64)
    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES)
    st = np.stack([composite._decode_scene(r, fn)
                   for r in pdf.iloc[:12].itertuples()])
    return st.reshape(st.shape[0], st.shape[1], -1)


def _pixel_dependence(X, y, pix, col_w=None):
    """Largest gap between each sampled pixel's result in the batch and
    its result computed alone (over the bands ``col_w`` includes)."""
    gap = 0.0
    for j in pix:
        w = None if col_w is None else col_w[:, [j]]
        alone = composite.weiszfeld(X[:, :, [j]], col_w=w)[:, 0]
        keep = slice(None) if col_w is None else col_w[:, j].astype(bool)
        gap = max(gap, np.nanmax(np.abs(alone[keep] - y[keep, j]), initial=0.0))
    return gap


def test_weiszfeld_stops_per_pixel(bench_cell):
    """Each pixel stops at its own first step below epsilon, so its
    result is the one it gets alone and the oracle's. A batch-wide stop
    keeps iterating converged pixels while their neighbours move, and
    drifts some of them off the point they stopped on (by up to 51 units
    on this cell under that rule)."""
    X = bench_cell
    y = composite.weiszfeld(X)
    pix = range(0, X.shape[2], 3)
    assert _pixel_dependence(X, y, pix) <= 1e-6
    # the oracle starts at the median of complete rows, the kernel at the
    # band nanmedian over all rows: compare where the two starts agree
    complete = ~np.isnan(X).any(axis=1)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        med = np.nanmedian(X, axis=0)
    same = [j for j in pix if complete[:, j].any() and np.array_equal(
        np.median(X[complete[:, j], :, j], axis=0), med[:, j])]
    assert len(same) > len(pix) // 2
    exp = np.stack([oracle.weiszfeld_1(X[:, :, j]) for j in same], axis=1)
    np.testing.assert_allclose(y[:, same], exp, rtol=0, atol=1e-6)


def test_weiszfeld_col_w_stops_per_pixel(bench_cell):
    """The geomedoid path (distance and stop over the bands without
    gaps) stops per pixel too, and matches the oracle run on those
    bands of the non-empty rows."""
    X = bench_cell
    vr = composite._valid_rows(X)
    col_w = (~np.any(np.isnan(X) & vr[:, None, :], axis=0)).astype(float)
    y = composite.weiszfeld(X, col_w=col_w)
    pix = [j for j in range(0, X.shape[2], 3) if vr[:, j].any()]
    assert _pixel_dependence(X, y, pix, col_w) <= 1e-6
    for j in pix:
        keep = col_w[:, j].astype(bool)
        exp = oracle.weiszfeld_1(X[vr[:, j]][:, keep, j])
        np.testing.assert_allclose(y[keep, j], exp, rtol=0, atol=1e-6)


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
@pytest.mark.parametrize("T", [6, 7])
def test_nanmedian0_is_numpy_nanmedian(dtype, T):
    """The sort-based median equals ``np.nanmedian`` bit for bit: odd
    and even valid counts, all-NaN lanes and infinities."""
    rng = np.random.default_rng(T)
    x = rng.normal(0, 1e3, size=(T, 3, 40)).astype(dtype)
    x[rng.random(x.shape) < 0.3] = np.nan
    x[:, 0, 0] = np.nan                      # all-NaN lane
    x[:2, 1, 1] = [np.inf, -np.inf]          # both infinities
    x[:3, 2, 2] = np.inf                     # infinite middle values
    x[:, 2, 3] = [np.inf, -np.inf] + [np.nan] * (T - 2)  # inf + -inf
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        exp = np.nanmedian(x, axis=0)
        got = composite.nanmedian0(x)
    assert got.dtype == exp.dtype
    assert np.array_equal(got.view(np.uint8), exp.view(np.uint8))
    counts = (~np.isnan(x)).sum(axis=0)
    assert {0, 1} <= set(counts.ravel() % 2) and (counts == 0).any()


def test_reducers_pairwise_distinct(stack):
    """All composite reducers produce pairwise-distinct outputs
    (test-py-pixel-funs.R:22-59)."""
    names = ["median", "mean", "geomean", "q25", "mosaic",
             "medoid", "quantoid", "geomedian"]
    outs = {n: composite.REDUCERS[n](stack) for n in names}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            assert not np.allclose(outs[a], outs[b], equal_nan=True), (a, b)


# ------------------------------------------------------- spark path ----

def test_spark_composite_matches_oracle(spark, tiny_images, tiny_images_pdf):
    df = warp.assign_cells(tiny_images, datagen.TILE_RES)
    out = composite.composite(df, "median").toPandas()
    # 3 zones x 2x2 tiles
    assert len(out) == 12
    # pick one cell and compare decoded pixels against the oracle
    from vrtility_spark import cells
    row = out.iloc[0]
    zone, res, ix, iy = [int(v) for v in cells.decode_np(row.cell_id)]
    grp = tiny_images_pdf[
        (tiny_images_pdf.zone == zone)
        & (tiny_images_pdf.xmin / datagen.TILE_SPAN == ix)
        & (tiny_images_pdf.ymin / datagen.TILE_SPAN == iy)]
    assert len(grp) == 5
    stack = np.stack([
        codec.to_float_masked(codec.decode(r.bytes, r.w, r.h, r.fmt), 0)
        for _, r in grp.sort_values("datetime").iterrows()])
    exp = codec.from_float(oracle.composite_stack(stack, "median"), 0, "uint16")
    got = codec.decode(row.bytes, row.w, row.h, row.fmt)
    assert (got == exp).all()
    # caption passthrough: all 5 scene captions survive, sorted
    assert row.caption_agg == "|".join(sorted(grp.caption))
    assert row.n_scenes == 5


def test_all_distance_types_select_real_rows():
    """Every dista metric of the reference's menu
    (multiband_reduce_funs.R:110-131) yields a valid medoid selection;
    euclidean-family metrics agree on clear-cut data."""
    rng = np.random.default_rng(5)
    X = rng.uniform(10, 1000, size=(6, 4, 16))
    names = ["euclidean", "manhattan", "minimum", "maximum", "minkowski",
             "bhattacharyya", "hellinger", "kullback_leibler",
             "jensen_shannon", "canberra", "chi_square", "soergel",
             "sorensen", "cosine", "wave_hedges", "motyka",
             "harmonic_mean", "jeffries_matusita", "gower", "kulczynski"]
    assert set(names) <= set(composite._DISTANCES)
    for n in names:
        out = composite.medoid_mb(X, distance_type=n)
        # medoid selects real observations
        for p in range(X.shape[2]):
            assert any((out[:, p] == X[t, :, p]).all() for t in range(X.shape[0])), n
    # gower ≡ scaled manhattan → identical selection
    np.testing.assert_array_equal(
        composite.medoid_mb(X, distance_type="manhattan"),
        composite.medoid_mb(X, distance_type="gower"))


def test_medoid_with_na_all_distances_run():
    rng = np.random.default_rng(6)
    X = rng.uniform(10, 1000, size=(5, 3, 8))
    X[rng.random(X.shape) < 0.2] = np.nan
    for n in composite._DISTANCES:
        out = composite.medoid_mb(X, distance_type=n)
        assert out.shape == (3, 8), n


def test_arbitrary_quantile_reducer_by_name():
    """Any-q quantile registry (reference quantile_numpy takes any
    probability, R/zvrt-pixel-funs-composite.R:99-141)."""
    rng = np.random.default_rng(11)
    s = rng.uniform(1, 1000, size=(7, 2, 4, 3))
    s[rng.random(s.shape) < 0.2] = np.nan
    for name, q in (("q10", 0.10), ("q7", 0.07), ("quantile:0.375", 0.375)):
        fn = composite.resolve_reducer(name)
        with np.errstate(all="ignore"):
            np.testing.assert_allclose(fn(s), np.nanquantile(s, q, axis=0))
    import pytest as _pytest
    with _pytest.raises(KeyError):
        composite.resolve_reducer("nope")


def test_caption_agg_bounded(spark, tiny_images_pdf):
    """A dense cell (many scenes) must emit a BOUNDED caption_agg:
    first CAPTION_CAP sorted captions + overflow count, never an
    unbounded multi-MB string row."""
    import pandas as pd
    reps = [tiny_images_pdf.assign(
        image_id=tiny_images_pdf.image_id + f"_r{i}",
        caption=tiny_images_pdf.caption + f" r{i}")
        for i in range(6)]  # 30 scenes per cell
    dense = schema.images_df(spark, pd.concat(reps, ignore_index=True))
    celled = warp.assign_cells(dense, datagen.TILE_RES)
    out = composite.composite(celled, "median").toPandas()
    assert (out.n_scenes == 30).all()
    for s in out.caption_agg:
        assert s.endswith("|+14 more")
        assert s.count("|") == composite.CAPTION_CAP
        assert len(s) < 16 * 80


# ------------------------------------------------------- var / std ----

def test_var_std_match_nanvar_oracle():
    """One-pass (n, Σy, Σy²) var/std == NumPy's two-pass nanvar/nanstd
    (population, ddof=0) to fp tolerance, NaN where no valid obs."""
    rng = np.random.default_rng(11)
    stack = rng.uniform(0, 5000, (7, 3, 4, 4))
    stack[rng.random(stack.shape) < 0.35] = np.nan
    stack[:, 0, 0, 0] = np.nan  # an all-nodata pixel
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want_v = np.nanvar(stack, axis=0)
        want_s = np.nanstd(stack, axis=0)
    got_v = composite.REDUCERS["var"](stack)
    got_s = composite.REDUCERS["std"](stack)
    np.testing.assert_allclose(got_v, want_v, rtol=1e-9, atol=1e-9,
                               equal_nan=True)
    np.testing.assert_allclose(got_s, want_s, rtol=1e-9, atol=1e-9,
                               equal_nan=True)
    assert np.isnan(got_v[0, 0, 0]) and np.isnan(got_s[0, 0, 0])
    # single observation → population variance 0, not NaN
    one = np.full((1, 1, 2, 2), 7.0)
    assert (composite.REDUCERS["var"](one) == 0).all()


# --------------------------------------------------- periodic composites ----

def test_composite_by_period_quarterly_matches_subset_composites(spark, tiny_images):
    """composite_by_period(quarter) == composite() run on each quarter's
    scene subset independently — the synthetic-key route must change
    grouping only, never pixel math, metadata, or captions."""
    from vrtility_spark import warp as _warp
    df = _warp.assign_cells(tiny_images, datagen.TILE_RES)
    got = {(r.cell_id, r.period): r for r in
           composite.composite_by_period(df, "median",
                                         period="quarter").collect()}
    # fixture dates: Jan/Mar (Q1), May (Q2), Jul/Sep (Q3)
    # NOTE: between() is inclusive on both ends — stop the day before
    subsets = {"Q1": ("2024-01-01", "2024-03-31"),
               "Q2": ("2024-04-01", "2024-06-30"),
               "Q3": ("2024-07-01", "2024-09-30")}
    n_cells = df.select("cell_id").distinct().count()
    assert len(got) == 3 * n_cells
    import pyspark.sql.functions as F
    for q, (lo, hi) in subsets.items():
        sub = df.where(F.col("datetime").between(lo, hi))
        want = {r.cell_id: r for r in
                composite.composite(sub, "median").collect()}
        for cid, wr in want.items():
            gr = got[(cid, f"2024{q}")]
            assert bytes(gr.bytes) == bytes(wr.bytes)
            assert gr.n_scenes == wr.n_scenes
            assert gr.caption_agg == wr.caption_agg
            assert gr.datetime_median == wr.datetime_median


def test_composite_by_period_incremental_parity_and_labels(spark, tiny_images):
    from vrtility_spark import warp as _warp
    df = _warp.assign_cells(tiny_images, datagen.TILE_RES)
    a = {(r.cell_id, r.period): bytes(r.bytes) for r in
         composite.composite_by_period(df, "mean", period="month",
                                       mode="incremental").collect()}
    b = {(r.cell_id, r.period): bytes(r.bytes) for r in
         composite.composite_by_period(df, "mean", period="month",
                                       mode="stack").collect()}
    assert a == b
    months = {p for _, p in a}
    assert months == {"2024-01", "2024-03", "2024-05", "2024-07",
                      "2024-09"}
    y = {r.period for r in composite.composite_by_period(
        df, "mosaic", period="year").collect()}
    assert y == {"2024"}
    import pytest as _pt
    with _pt.raises(KeyError, match="unknown period"):
        composite.composite_by_period(df, "median", period="week")
    with _pt.raises(ValueError, match="budget"):
        composite.composite_by_period(df, "median", mode="budget")


# ------------------------------- plane-dropping scene_fn regression ----

def test_drop_mask_band_scene_fn_all_paths(spark, tiny_images):
    """drop_mask_band=True leaves fewer planes than the payload's
    band_nodata metadata: every composite path must trim the sentinel
    array alongside the dropped trailing plane (regression: stale
    5-entry nodata vs 4-plane array broke broadcasting)."""
    from vrtility_spark import masks, warp
    celled = warp.assign_cells(tiny_images, datagen.TILE_RES)
    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES,
                                  drop_mask_band=True)
    outs = {
        "stack": composite.composite(celled, "median", scene_fn=fn,
                                     mode="stack"),
        "incremental": composite.composite(celled, "mean", scene_fn=fn),
        "remedian": composite.composite_remedian(celled, scene_fn=fn),
    }
    for name, df in outs.items():
        rows = df.collect()
        assert len(rows) > 0, name
        r = rows[0]
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        assert arr.shape[0] == 4, name  # SCL plane dropped
        assert len(r.band_nodata) == 4, name  # metadata trimmed with it


# -------------------------------------------------- quality mosaic ----

def _naive_qmosaic(stack, b):
    T, B, H, W = stack.shape
    out = np.full((B, H, W), np.nan)
    for y in range(H):
        for x in range(W):
            best, bi = None, None
            for t in range(T):
                v = stack[t, b, y, x]
                # first max wins; a literal -inf score is VALID (only
                # NaN means invalid), matching the kernel
                if not np.isnan(v) and (bi is None or v > best):
                    best, bi = v, t
            if bi is not None:
                out[:, y, x] = stack[bi, :, y, x]
    return out


def test_qmosaic_vs_naive_and_coherence(stack):
    got = composite.qmosaic_t(1)(stack)
    np.testing.assert_allclose(got, _naive_qmosaic(stack, 1),
                               equal_nan=True)
    # coherence: wherever the quality plane is valid, ALL output bands
    # come from one single scene (an exact observation match exists)
    s = stack[:, 1]
    for y in range(s.shape[1]):
        for x in range(s.shape[2]):
            if np.isnan(s[:, y, x]).all():
                assert np.isnan(got[:, y, x]).all()
                continue
            col = got[:, y, x]
            matches = [
                t for t in range(stack.shape[0])
                if np.array_equal(stack[t, :, y, x], col, equal_nan=True)]
            assert matches, (y, x)


def test_qmosaic_ties_and_validation():
    # tie on the score: the EARLIEST scene wins (argmax first max)
    st = np.zeros((3, 2, 1, 1))
    st[:, 0, 0, 0] = [5.0, 5.0, 1.0]       # scores: tie between t0,t1
    st[:, 1, 0, 0] = [10.0, 20.0, 30.0]
    out = composite.qmosaic_t(0)(st)
    assert out[1, 0, 0] == 10.0
    # negative index addresses from the end; out-of-range raises
    out2 = composite.qmosaic_t(-2)(st)
    assert out2[1, 0, 0] == 10.0
    with pytest.raises(ValueError, match="out of range"):
        composite.qmosaic_t(7)(st)
    # string form parses; garbage still raises
    assert composite.resolve_reducer("qmosaic:3")
    with pytest.raises(KeyError, match="unknown reducer"):
        composite.resolve_reducer("qmosaic:x")
    # a literal -inf score is a VALID value (only NaN is invalid):
    # all-(-inf) scores still select the earliest scene
    st2 = np.zeros((2, 2, 1, 1))
    st2[:, 0, 0, 0] = [-np.inf, -np.inf]
    st2[:, 1, 0, 0] = [7.0, 8.0]
    out3 = composite.qmosaic_t(0)(st2)
    assert out3[1, 0, 0] == 7.0
    np.testing.assert_array_equal(
        out3, _naive_qmosaic(st2, 0))


def test_qmosaic_distributed_pipeline(spark, tiny_images, tmp_path):
    from vrtility_spark.pipeline import Pipeline
    p = (Pipeline(tiny_images)
         .set_maskfun("int", datagen.S2_MASK_VALUES)
         .warp(cell_res=datagen.TILE_RES)
         .composite("qmosaic:0"))
    rows = {r.cell_id: r for r in p.df.collect()}
    assert rows
    # Spark-free replication per cell over the SAME masked stack
    pdf = datagen.images_pandas(nx=2, ny=2, w=16, h=16)
    from vrtility_spark import cells, masks
    cx, cy = (pdf.xmin + pdf.xmax) / 2, (pdf.ymin + pdf.ymax) / 2
    pdf["cell_id"] = cells.xy_to_cell_np(
        pdf.zone.values, cx.values, cy.values, datagen.TILE_RES)
    for cid, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        st = []
        for rr in grp.itertuples(index=False):
            arr = codec.decode(rr.bytes, rr.w, rr.h, rr.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            st.append(codec.to_float_masked(full, nd).astype(np.float32))
        want_f = composite.qmosaic_t(0)(np.stack(st))
        r = rows[int(cid)]
        got = codec.decode(r.bytes, r.w, r.h, r.fmt)
        want = codec.from_float(want_f.astype(np.float64), nd, "uint16")
        np.testing.assert_array_equal(got, want)
    # string reducer → the verb bundles and replays
    path = str(tmp_path / "qmosaic_bundle.json")
    p.to_bundle(path)
    p2 = Pipeline.from_bundle(path, tiny_images)
    a = sorted((r.cell_id, bytes(r.bytes)) for r in p.df.collect())
    b = sorted((r.cell_id, bytes(r.bytes)) for r in p2.df.collect())
    assert a == b


def test_same_instant_scenes_deterministic(spark):
    import pandas as pd
    # three scenes share a timestamp: the scene_order_key tiebreak
    # makes selection reducers partition-order-proof AND keeps the
    # stack and incremental paths in byte agreement
    from vrtility_spark import cells
    h = w = 4
    cid = int(cells.encode_np(0, datagen.TILE_RES, 0, 0))
    ts = pd.Timestamp("2024-06-01 10:00:00")
    fills = {"b_scene": 100, "a_scene": 200, "c_scene": 50}
    rows = []
    for iid, fill in fills.items():
        arr = np.full((2, h, w), fill, dtype=np.uint16)
        rows.append({"cell_id": cid, "image_id": iid,
                     "bytes": codec.encode(arr, "raw16"),
                     "w": w, "h": h, "fmt": "raw16", "nodata": 0.0,
                     "datetime": ts, "caption": iid})
    schema_str = ("cell_id long, image_id string, bytes binary, w int, "
                  "h int, fmt string, nodata double, datetime timestamp, "
                  "caption string")
    # expected winners from the stable order key
    keyed = sorted(fills, key=composite.scene_order_key)
    mosaic_want = fills[keyed[-1]]   # last in order wins
    first_want = fills[keyed[0]]     # first in order wins
    outs = {}
    for parts in (1, 3):
        df = spark.createDataFrame(pd.DataFrame(rows), schema_str) \
            .repartition(parts)
        for red, mode in (("mosaic", "auto"), ("mosaic", "stack"),
                          ("first", "auto"), ("qmosaic:0", "stack")):
            r = composite.composite(df, red, mode=mode).collect()[0]
            outs[(parts, red, mode)] = bytes(r.bytes)
    # identical across partitionings, and stack == incremental
    for key_, blob in outs.items():
        assert blob == outs[(1, key_[1], key_[2])], key_
    assert outs[(1, "mosaic", "auto")] == outs[(1, "mosaic", "stack")]
    dec = codec.decode(outs[(1, "mosaic", "auto")], w, h, "raw16")
    assert dec[0, 0, 0] == mosaic_want
    dec_f = codec.decode(outs[(1, "first", "auto")], w, h, "raw16")
    assert dec_f[0, 0, 0] == first_want
    # qmosaic: max score wins regardless of order -> a_scene (200)
    dec_q = codec.decode(outs[(1, "qmosaic:0", "stack")], w, h, "raw16")
    assert dec_q[0, 0, 0] == 200


def _arrow_cell(rows):
    import pyarrow as pa
    return pa.table({
        "cell_id": pa.array([7] * len(rows), pa.int64()),
        "image_id": [r[0] for r in rows],
        "datetime": pa.array([r[1] for r in rows],
                             pa.timestamp("us", tz="UTC")),
        "bytes": pa.array([codec.encode(np.full((2, 3, 4), r[2], np.uint16),
                                        "raw16") for r in rows], pa.binary()),
        "w": pa.array([4] * len(rows), pa.int32()),
        "h": pa.array([3] * len(rows), pa.int32()),
        "fmt": [r[3] if len(r) > 3 else "raw16" for r in rows],
        "nodata": [0.0] * len(rows),
        "band_nodata": pa.array([None] * len(rows), pa.list_(pa.float64())),
    })


def test_cell_stack_reads_arrow_group():
    """``cell_stack`` on an Arrow table: null datetimes drop, rows sort
    by time then by ``scene_order_key`` for same-instant scenes, the
    payloads decode in that order with nodata masked, and a profile
    mismatch or an over-budget stack fails loudly."""
    import datetime as dt
    t0 = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    t1 = dt.datetime(2024, 6, 2, tzinfo=dt.timezone.utc)
    tied = sorted(["b_scene", "a_scene", "c_scene"],
                  key=composite.scene_order_key)
    fills = {"late": 5, "gone": 9, "b_scene": 1, "a_scene": 2,
             "c_scene": 0}
    rows = [("late", t1, 5), ("gone", None, 9),
            ("b_scene", t0, 1), ("a_scene", t0, 2), ("c_scene", t0, 0)]
    tbl, stack, nd = composite.cell_stack(_arrow_cell(rows), "cell_id")
    order = [*tied, "late"]
    assert tbl.column("image_id").to_pylist() == order
    assert stack.shape == (4, 2, 3, 4) and stack.dtype == np.float64
    for i, iid in enumerate(order):
        want = np.nan if fills[iid] == 0 else fills[iid]  # 0 is nodata
        np.testing.assert_array_equal(stack[i], np.full((2, 3, 4), want))
    assert nd == 0.0
    # a group of null datetimes only has no stack
    empty, none, _ = composite.cell_stack(_arrow_cell(rows[1:2]), "cell_id")
    assert empty.num_rows == 0 and none is None
    with pytest.raises(ValueError, match="cell 7: scenes disagree on w/h/fmt"):
        composite.cell_stack(_arrow_cell(rows[:1] + [("x", t0, 3, "png")]),
                             "cell_id")
    with pytest.raises(ValueError, match="over the max_stack_bytes budget"):
        composite.cell_stack(_arrow_cell(rows), "cell_id",
                             max_stack_bytes=100)


def test_composite_grouped_map_reads_only_its_columns(spark, tiny_images):
    """The stack path's grouped Arrow map gets only the columns
    ``cell_stack`` and the output read — the catalog's band names,
    per-band scales and cell prefix never reach the Python worker."""
    import re
    celled = warp.assign_cells(tiny_images, datagen.TILE_RES)
    assert {"bands", "band_scale", "cell_prefix"} <= set(celled.columns)
    plan = composite.composite(celled, "median")._jdf.queryExecution() \
        .optimizedPlan().toString()
    line = next(ln for ln in plan.splitlines()
                if "FlatMapGroupsInArrow" in ln)
    args = re.search(r"reduce_group\(([^)]*)\)", line).group(1)
    cols = {a.split("#")[0].strip() for a in args.split(",")}
    assert cols == {"cell_id", "datetime", "bytes", "w", "h", "fmt",
                    "nodata", "image_id", "band_nodata", "caption"}, cols


def test_qmosaic_valid_neg_inf_beats_nan():
    # scene0 score NaN (invalid), scene1 score -inf (VALID): the
    # winner must be scene1 — -inf is a value, NaN is the absence
    st = np.zeros((2, 2, 1, 1))
    st[:, 0, 0, 0] = [np.nan, -np.inf]
    st[:, 1, 0, 0] = [111.0, 222.0]
    out = composite.qmosaic_t(0)(st)
    assert out[1, 0, 0] == 222.0
    np.testing.assert_array_equal(out, _naive_qmosaic(st, 0))


def test_null_datetime_scenes_drop_consistently(spark):
    import pandas as pd
    from vrtility_spark import cells
    h = w = 4
    cid = int(cells.encode_np(0, datagen.TILE_RES, 0, 0))
    rows = []
    for iid, fill, ts in (("s1", 100, pd.Timestamp("2024-06-01")),
                          ("s2", 200, pd.Timestamp("2024-06-02")),
                          ("s3", 999, pd.NaT)):
        arr = np.full((1, h, w), fill, dtype=np.uint16)
        rows.append({"cell_id": cid, "image_id": iid,
                     "bytes": codec.encode(arr, "raw16"),
                     "w": w, "h": h, "fmt": "raw16", "nodata": 0.0,
                     "datetime": ts, "caption": iid})
    schema_str = ("cell_id long, image_id string, bytes binary, w int, "
                  "h int, fmt string, nodata double, datetime timestamp, "
                  "caption string")
    df = spark.createDataFrame(pd.DataFrame(rows), schema_str)
    # the NaT scene (999) contributes to NEITHER path and both agree
    for red, mode in (("mosaic", "auto"), ("mosaic", "stack"),
                      ("median", "stack")):
        r = composite.composite(df, red, mode=mode).collect()[0]
        dec = codec.decode(r.bytes, r.w, r.h, r.fmt)
        assert dec.max() <= 200, (red, mode)
        assert r.n_scenes == 2, (red, mode)
