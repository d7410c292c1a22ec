"""Reference-style invariants: golden-value bounds, property-based
kernel checks (hypothesis), and error paths — the test patterns of
SURVEY.md §5 not already covered elsewhere."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import oracle
from vrtility_spark import codec, composite, datagen, timeseries, warp
from vrtility_spark.cells import ZONE_SPAN, decode_np, encode_np, xy_to_cell_np


# ------------------------------------------------- golden-value bounds ----

@pytest.fixture(scope="module")
def masked_stack(tiny_images_pdf):
    """One cell's masked time stack (float, NaN nodata)."""
    grp = tiny_images_pdf[(tiny_images_pdf.zone == 30)
                          & (tiny_images_pdf.xmin == 0.0)
                          & (tiny_images_pdf.ymin == 0.0)]
    from vrtility_spark import masks
    stacks = []
    for _, r in grp.sort_values("datetime").iterrows():
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        m = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
        data = masks.apply_mask_np(arr[:-1], m, 0)
        stacks.append(codec.to_float_masked(data, 0))
    return np.stack(stacks)


def test_golden_sums(masked_stack):
    """Tolerance-based golden values, the reference's expect_gt pattern
    (test-multiband_reduce.R:42-129): reducers ordered by brightness and
    bounded — pins regressions in any kernel without exact floats."""
    sums = {n: float(np.nansum(composite.REDUCERS[n](
        masked_stack.astype(np.float64)))) for n in
        ("median", "mean", "q25", "geomedian", "medoid", "quantoid")}
    # all reducers agree within 20% on this fixture, none degenerate
    ref = sums["median"]
    assert ref > 1e6
    for n, s in sums.items():
        assert 0.8 * ref < s < 1.25 * ref, (n, s, ref)
    # q25 is a lower quantile → strictly below the median composite
    assert sums["q25"] < sums["median"]
    # quantoid(0.4) biases dark → never above medoid (may coincide when
    # both select the same observations on a smooth fixture)
    assert sums["quantoid"] <= sums["medoid"]


def test_masking_reduces_radiance_via_reducers(masked_stack, tiny_images_pdf):
    grp = tiny_images_pdf[(tiny_images_pdf.zone == 30)
                          & (tiny_images_pdf.xmin == 0.0)
                          & (tiny_images_pdf.ymin == 0.0)]
    raw = np.stack([
        codec.to_float_masked(
            codec.decode(r.bytes, r.w, r.h, r.fmt)[:-1], 0)
        for _, r in grp.sort_values("datetime").iterrows()])
    m_raw = float(np.nansum(composite.median_t(raw)))
    m_masked = float(np.nansum(composite.median_t(masked_stack)))
    assert m_raw > m_masked > 0  # clouds are bright; masking removes them


# -------------------------------------------------- property-based ----

@given(zone=st.integers(0, 59), res=st.integers(0, 13),
       x=st.floats(0, ZONE_SPAN - 1e-6, allow_nan=False),
       y=st.floats(0, ZONE_SPAN - 1e-6, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_cell_roundtrip_property(zone, res, x, y):
    cid = int(xy_to_cell_np(zone, x, y, res))
    z, r, ix, iy = decode_np(cid)
    assert int(z) == zone and int(r) == res
    size = ZONE_SPAN / (1 << res)
    assert ix * size <= x < (ix + 1) * size or ix == (1 << res) - 1
    assert int(encode_np(z, int(r), ix, iy)) == cid


@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=30),
       st.integers(1, 3), st.floats(0.5, 5.0))
@settings(max_examples=150, deadline=None)
def test_hampel_properties(vals, k, t0):
    x = np.asarray(vals)
    out = timeseries.hampel_np(x[:, None], k, t0)[:, 0]
    n = len(x)
    # edges always preserved; short series untouched
    lim = min(k, n)
    assert (out[:lim] == x[:lim]).all() and (out[n - lim:] == x[n - lim:]).all()
    # every output value is either the original or a window median of
    # original values → stays within the data's range
    assert out.min() >= x.min() - 1e-9 and out.max() <= x.max() + 1e-9
    # parity with the loop oracle on every generated case
    np.testing.assert_allclose(out, oracle.hampel_1(x, k, t0))


@given(st.integers(1, 6), st.integers(2, 12), st.integers(2, 12),
       st.integers(0, 2 ** 16 - 1))
@settings(max_examples=60, deadline=None)
def test_codec_roundtrip_property(b, h, w, seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 65536, size=(b, h, w)).astype(np.uint16)
    for fmt in ("raw16", "png"):
        assert (codec.decode(codec.encode(arr, fmt), w, h, fmt) == arr).all()
    assert codec.psnr(arr, codec.decode(codec.encode(arr, "png8"), w, h,
                                        "png8")) >= 40.0


# ------------------------------------------------------- error paths ----

def test_mixed_grid_composite_errors(spark, tiny_images):
    """The vrt_stack single-grid invariant: mixing pixel grids in one
    cell must error loudly (reference: stacking mixed-CRS errors,
    test-vrt-pipelines.R:213)."""
    a = warp.assign_cells(tiny_images.limit(6), datagen.TILE_RES)
    b = warp.warp_to_grid(a, 8, 8)  # same cells, different grid
    mixed = a.unionByName(b)
    with pytest.raises(Exception, match="grid|codec|PythonException|disagree"):
        composite.composite(mixed, "median").collect()


def test_unknown_distance_errors():
    X = np.ones((3, 2, 1))
    with pytest.raises(KeyError):
        composite.xoid_mb(X, composite._nanmedian_stat, distance_type="nope")


@given(st.integers(0, 2**32 - 1), st.integers(2, 12), st.integers(1, 3),
       st.integers(1, 4), st.integers(2, 5), st.sampled_from(
           ["mean", "sum", "min", "max", "mosaic", "first",
            "geomean", "mean_db"]))
@settings(max_examples=60, deadline=None)
def test_incremental_merge_algebra_equals_stack(seed, T, B, n_parts, px,
                                                reducer):
    """PROPERTY: for ANY scene set, ANY NaN pattern and ANY partition
    split, accumulating per part then merging partials finalizes to the
    stack kernel's answer — the algebraic core of composite_incremental
    (associativity/commutativity of every accumulator family)."""
    import pandas as pd

    from vrtility_spark import composite as C
    rng = np.random.default_rng(seed)
    stack = rng.uniform(0.5, 1000.0, size=(T, B, px, px))
    stack[rng.random(stack.shape) < 0.3] = np.nan
    stack[:, :, 0, 0] = np.nan  # an all-invalid pixel
    t_ns = np.sort(rng.choice(10**6, size=T, replace=False)).astype(np.int64)

    class Row:
        w, h = px, px
        fmt = "rawf32"
        nodata = float("nan")
        band_nodata = None

    bounds = sorted(rng.integers(0, T + 1, size=n_parts - 1).tolist())
    parts, prev = [], 0
    for b in bounds + [T]:
        parts.append(list(range(prev, b)))
        prev = b
    a1s, a2s = [], []
    for idxs in parts:
        if not idxs:
            continue
        acc = C._CellAcc(reducer, Row(), cap=16)
        for t in idxs:
            acc.add(stack[t].astype(np.float64), t_ns[t],
                    pd.Timestamp(t_ns[t]), f"c{t}")
        a1s.append(acc.acc1)
        a2s.append(acc.acc2)
    m1, m2 = C._merge_accs(reducer, a1s, a2s)
    got = C._finalize(reducer, m1, m2)

    fn = {"mean": C.mean_t, "sum": C.sum_t, "min": C.min_t, "max": C.max_t,
          "mosaic": C.mosaic_t, "first": C.first_t, "geomean": C.geomean_t,
          "mean_db": C.mean_db_t}[reducer]
    import warnings
    with np.errstate(all="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want = fn(stack)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9,
                               equal_nan=True)


@given(st.integers(1, 2), st.integers(0, 1000),
       st.lists(st.floats(-1e4, 1e4, allow_nan=False),
                min_size=36, max_size=36))
@settings(max_examples=100, deadline=None)
def test_morphology_properties(r, seed, vals):
    """Duality erode(-A) = -dilate(A), ordering erode <= dilate, and
    open/close idempotence — for every generated array, with NaN holes
    injected by the seed."""
    from vrtility_spark import morphology
    A = np.asarray(vals).reshape(1, 6, 6)
    rng = np.random.default_rng(seed)
    A[rng.random(A.shape) < 0.2] = np.nan
    pad = morphology.pad_for("open", r)
    P = np.pad(A, ((0, 0), (pad, pad), (pad, pad)),
               constant_values=np.nan)
    er = morphology.morph_np(P, "erode", r)
    di = morphology.morph_np(P, "dilate", r)
    np.testing.assert_array_equal(
        er, -morphology.morph_np(-P, "dilate", r))
    both = np.isfinite(er) & np.isfinite(di)
    assert (er[both] <= di[both]).all()
    op1 = morphology.morph_np(P, "open", r)
    P2 = np.pad(op1, ((0, 0), (pad, pad), (pad, pad)),
                constant_values=np.nan)
    np.testing.assert_array_equal(morphology.morph_np(P2, "open", r), op1)


@given(st.integers(2, 8), st.integers(0, 1000), st.integers(2, 5))
@settings(max_examples=100, deadline=None)
def test_mk_matches_naive_property(T, seed, hw):
    """Vectorized Mann-Kendall/Sen == the per-pixel double loop for
    random stacks with NaN holes, value ties and time ties."""
    from tests.test_mktrend import _naive_mk
    from vrtility_spark import mktrend
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, max(2, T - 1), T).astype(float))
    stack = np.round(rng.normal(0, 5, (T, 1, hw, hw)))
    stack[rng.random(stack.shape) < 0.3] = np.nan
    np.testing.assert_allclose(
        mktrend.mk_np(ts, stack), _naive_mk(ts, stack),
        rtol=1e-10, atol=1e-10, equal_nan=True)


@given(st.integers(1, 4), st.integers(0, 1000))
@settings(max_examples=60, deadline=None)
def test_chips_lossless_property(chips_per_side, seed):
    """Chips always reassemble to the exact tile, and valid_frac means
    the all-bands-valid fraction — for every generated tile."""
    from vrtility_spark import chips
    rng = np.random.default_rng(seed)
    chip = 4
    n = chips_per_side * chip
    arr = rng.integers(0, 100, (2, n, n)).astype(np.uint16)
    got = chips.chip_rows_np(arr, 0.0, chip)
    assert len(got) == chips_per_side ** 2
    back = np.zeros_like(arr)
    for cx, cy, block, vf in got:
        back[:, cy * chip:(cy + 1) * chip,
             cx * chip:(cx + 1) * chip] = block
        want_vf = float((block != 0).all(axis=0).mean())
        assert vf == want_vf
    np.testing.assert_array_equal(back, arr)


@given(st.floats(0.0, 1.0), st.integers(0, 2**31 - 1))
@settings(max_examples=200, deadline=None)
def test_sampling_threshold_membership_property(fraction, key):
    """The hash-range membership rule agrees between the Column
    expression's semantics and a direct hashlib recomputation for any
    fraction and key — incl. the saturated-bound edge."""
    import hashlib
    from vrtility_spark import sampling
    thr = sampling._hex_bound(round(fraction * sampling._BUCKETS))
    hx = hashlib.md5(f"0|{key}".encode()).hexdigest()[:8]
    member = hx < thr
    if fraction == 1.0:
        assert member          # 'g' sorts above every hex digest
    if fraction == 0.0:
        assert not member
    # membership is monotone in the fraction
    thr_hi = sampling._hex_bound(
        round(min(1.0, fraction + 0.25) * sampling._BUCKETS))
    assert (hx < thr_hi) or not member


# ------------------------------------------------- structural gates ----

def test_stack_guards_live_in_the_shared_reader():
    """Structural gate: the group profile guard (``nodata.nunique`` /
    ``band_nodata_keys`` calls, comparisons against ``_profile_key``)
    and the stack-budget check (ordering comparisons against
    ``max_stack_bytes``) appear only in composite's shared cell-stack
    helpers — a new grouped-map operator must not bring back a private
    copy of either."""
    import ast
    import pathlib

    allowed = {("composite.py", "_check_profile"),
               ("composite.py", "_check_scene_profile"),
               ("composite.py", "cell_stack")}

    def name(node):
        return getattr(node, "attr", getattr(node, "id", None))

    def is_guard(node):
        if isinstance(node, ast.Call):
            f = node.func
            return (name(f) == "band_nodata_keys"
                    or (name(f) == "nunique"
                        and name(getattr(f, "value", None)) == "nodata"))
        if isinstance(node, ast.Compare):
            sides = [node.left, *node.comparators]
            if any(isinstance(s, ast.Call) and name(s.func) == "_profile_key"
                   for s in sides):
                return True
            return (any(name(s) == "max_stack_bytes" for s in sides)
                    and any(isinstance(o, (ast.Gt, ast.GtE, ast.Lt, ast.LtE))
                            for o in node.ops))
        return False

    pkg = pathlib.Path(composite.__file__).parent
    found = []
    for path in sorted(pkg.glob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if is_guard(node) and (path.name, owner) not in allowed:
                    found.append(f"{path.name}:{node.lineno} in {owner}")
    assert not found, ("profile/budget guard outside composite.cell_stack "
                       f"and its helpers: {found}")
