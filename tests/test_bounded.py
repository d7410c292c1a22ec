"""Bounded-memory composite (the R/tiling.R:41-64 twin).

The reference sizes its processing tiles so the full time stack fits a
RAM budget. The engine's three answers, each pinned here:

1. decomposable reducers run INCREMENTALLY (per-partition running
   accumulators, no (T,B,H,W) stack) — results must equal the stack
   path exactly;
2. holistic reducers carry a stack-size guard that fails loudly,
   naming the escape hatches, before a worker OOMs;
3. `split_to_child_cells` shrinks groups 4^k-fold spatially before the
   shuffle, and `assemble_child_tiles` reassembles composited children
   into the byte-identical parent tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from vrtility_spark import codec, composite, datagen, masks, schema, warp


def _celled(spark, tiny_images):
    return warp.assign_cells(tiny_images, datagen.TILE_RES)


def _rows_key(pdf):
    pdf = pdf.copy()
    pdf["bytes"] = pdf["bytes"].map(bytes)
    pdf["band_nodata"] = pdf["band_nodata"].map(
        lambda v: None if v is None else tuple(v))
    return pdf.sort_values("cell_id").reset_index(drop=True)


@pytest.mark.parametrize("reducer", sorted(composite.DECOMPOSABLE))
def test_incremental_matches_stack(spark, tiny_images, reducer):
    """auto-routed incremental composite == forced stack path, byte
    for byte, including masking fused via scene_fn, n_scenes,
    datetime_median, nodata metadata and caption rollup."""
    celled = _celled(spark, tiny_images)
    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES)
    inc = composite.composite(celled, reducer, scene_fn=fn).toPandas()
    stk = composite.composite(celled, reducer, scene_fn=fn, mode="stack",
                              compute_dtype="float64").toPandas()
    a, b = _rows_key(inc), _rows_key(stk)
    assert list(a.cell_id) == list(b.cell_id)
    for col in ("bytes", "w", "h", "fmt", "n_scenes", "datetime_median",
                "nodata", "band_nodata", "caption_agg"):
        assert list(a[col]) == list(b[col]), (reducer, col)


def test_incremental_flush_on_cap_and_caption_overflow(spark, tiny_images):
    """A partition holding more cells than max_active_cells flushes
    partial rows early — the merge must absorb multiple partials per
    cell; caption overflow must render identically to the stack path."""
    celled = _celled(spark, tiny_images)
    inc = composite.composite_incremental(
        celled, "mean", caption_cap=2, max_active_cells=1).toPandas()
    # byte-bound flush path: a ~one-accumulator budget forces a flush
    # after nearly every scene — result must be identical
    inc_b = composite.composite_incremental(
        celled, "mean", caption_cap=2, max_active_bytes=50_000).toPandas()
    stk = composite.composite(celled, "mean", mode="stack",
                              compute_dtype="float64",
                              caption_cap=2).toPandas()
    a, b = _rows_key(inc), _rows_key(stk)
    assert list(a.bytes) == list(b.bytes)
    assert list(a.caption_agg) == list(b.caption_agg)
    assert a.caption_agg.str.contains(r"\+3 more").all()  # 5 scenes, cap 2
    c = _rows_key(inc_b)
    assert list(c.bytes) == list(b.bytes)
    assert list(c.caption_agg) == list(b.caption_agg)


def test_incremental_per_band_nodata(spark):
    """Per-band sentinels flow through the incremental path: each plane
    masks ITS OWN sentinel before accumulating."""
    from test_perband import _mixed_pdf
    df = schema.images_df(spark, _mixed_pdf())
    celled = warp.assign_cells(df, datagen.TILE_RES)
    inc = composite.composite(celled, "mean").toPandas()
    stk = composite.composite(celled, "mean", mode="stack",
                              compute_dtype="float64").toPandas()
    assert bytes(inc.bytes.iloc[0]) == bytes(stk.bytes.iloc[0])
    assert list(inc.band_nodata.iloc[0]) == [-9999.0, 0.0, 0.0]


def _stack_ops():
    """The eight grouped time-stack operators, each as
    ``(input, run(df, max_stack_bytes))``; input ``"scenes"`` is the
    raw scene table, ``"celled"`` the cell-assigned one and
    ``"periods"`` quarterly composites."""
    from vrtility_spark import (breaks, feather, harmonic, mktrend,
                                timeseries, trend)
    return {
        "composite": ("celled", lambda df, b: composite.composite(
            df, "median", max_stack_bytes=b)),
        "singleband_m2m": ("celled", lambda df, b: timeseries.singleband_m2m(
            df, lambda X: X, max_stack_bytes=b)),
        "gapfill_periods": ("periods", lambda df, b:
                            timeseries.gapfill_periods(df, max_stack_bytes=b)),
        "trend_stack": ("celled", lambda df, b: trend.trend_stack(
            df, max_stack_bytes=b)),
        "harmonic_stack": ("celled", lambda df, b: harmonic.harmonic_stack(
            df, max_stack_bytes=b)),
        "mk_trend": ("celled", lambda df, b: mktrend.mk_trend(
            df, max_stack_bytes=b)),
        "breaks_stack": ("celled", lambda df, b: breaks.breaks_stack(
            df, max_stack_bytes=b)),
        "feather_mosaic": ("scenes", lambda df, b: feather.feather_mosaic(
            df, datagen.TILE_RES, 16, max_stack_bytes=b)),
    }


@pytest.mark.parametrize("op", sorted(_stack_ops()))
def test_stack_guards_raise_loudly(spark, tiny_images, op):
    """Every grouped time-stack operator reads its cells through
    composite.cell_stack, so each fails loudly on a stack over the
    budget (naming the escape hatches, not OOMing) and on a cell whose
    scenes disagree on band_nodata (not silently mis-masking)."""
    from pyspark.sql import functions as F
    kind, run = _stack_ops()[op]
    df = {"scenes": tiny_images, "celled": _celled(spark, tiny_images),
          "periods": composite.composite_by_period(
              _celled(spark, tiny_images), "median", period="month")}[kind]
    order = "period" if kind == "periods" else "datetime"

    with pytest.raises(Exception) as ei:
        run(df, 64).collect()
    msg = str(ei.value)
    assert "max_stack_bytes" in msg and "split_to_child_cells" in msg
    if op == "composite":
        assert "DECOMPOSABLE" in msg
        # the same input under the same budget passes incrementally
        ok = composite.composite(df, "mean", max_stack_bytes=64)
        assert ok.count() > 0

    # the earliest rows of every cell get shifted per-band sentinels
    first = df.agg(F.min(order)).first()[0]
    mixed = df.withColumn("band_nodata", F.when(
        F.col(order) == F.lit(first),
        F.transform("band_nodata", lambda x: x + 1.0))
        .otherwise(F.col("band_nodata")))
    with pytest.raises(Exception, match="disagree"):
        run(mixed, composite.MAX_STACK_BYTES).collect()


def test_split_compose_assemble_equals_direct(spark, tiny_images):
    """The spatial escape hatch end to end: split scenes into 4 child
    cells (groups now fit a budget the direct stack exceeds), composite
    each child under that budget, reassemble — byte-identical to the
    unguarded direct composite."""
    celled = _celled(spark, tiny_images)
    direct = composite.composite(celled, "median",
                                 compute_dtype="float64").toPandas()

    sub = composite.split_to_child_cells(celled, k=1)
    child = composite.composite(sub, "median", compute_dtype="float64",
                                max_stack_bytes=16_000)  # child stack
    # 5x5x8x8x8B = 12.8 kB fits; the direct 16x16 stack (51.2 kB) won't
    back = composite.assemble_child_tiles(child, k=1).toPandas()

    a, b = _rows_key(direct), _rows_key(back)
    assert list(a.cell_id) == list(b.cell_id)
    for col in ("bytes", "w", "h", "fmt", "n_scenes", "datetime_median",
                "nodata", "band_nodata", "caption_agg"):
        assert list(a[col]) == list(b[col]), col


def test_assemble_fills_missing_children_with_sentinel(spark, tiny_images):
    """A parent with an absent child tile reassembles with the sentinel
    in that quadrant (regrid convention: row 0 = ymin edge)."""
    celled = _celled(spark, tiny_images)
    sub = composite.split_to_child_cells(celled, k=1)
    child = composite.composite(sub, "median")
    one_parent = child.toPandas().sort_values("cell_id").iloc[:3]
    # keep 3 of the 4 children of the lowest parent
    from vrtility_spark import cells
    parents = cells.parent_np(one_parent.cell_id.to_numpy(), 1)
    keep = one_parent[parents == parents[0]]
    assert len(keep) >= 2
    back = composite.assemble_child_tiles(
        spark.createDataFrame(keep), k=1).toPandas()
    row = back.iloc[0]
    arr = codec.decode(row.bytes, row.w, row.h, row.fmt)
    # at least one quadrant is all-sentinel (nodata == 0 here)
    h2, w2 = row.h // 2, row.w // 2
    quads = [arr[:, dy * h2:(dy + 1) * h2, dx * w2:(dx + 1) * w2]
             for dy in (0, 1) for dx in (0, 1)]
    assert any((q == 0).all() for q in quads)


def test_incremental_plan_is_partial_aggregated(spark, tiny_images):
    """Plan pin: the decomposable path must accumulate MAP-SIDE —
    an Arrow map stage BEFORE the one exchange, and the grouped merge
    after it. (Root-first formatted plan: merge < exchange < map.)"""
    from vrtility_spark.storage import explain_str
    celled = _celled(spark, tiny_images)
    plan = explain_str(composite.composite(celled, "mean"))
    i_merge = plan.index("FlatMapGroupsInPandas")
    i_ex = plan.index("Exchange")
    i_map = plan.index("MapInPandas")
    assert i_merge < i_ex < i_map, plan
    assert plan.count(") Exchange") == 1


def test_group_size_metrics_calibrate_guard(spark, tiny_images):
    """The lineage group-size histogram gives the RAM guard observed
    data: the decoded-stack estimate derived from measured payload
    bytes exactly predicts where the guard trips."""
    from vrtility_spark import lineage
    celled = _celled(spark, tiny_images)
    m = lineage.group_size_metrics(celled).toPandas()
    assert {"n_scenes", "payload_bytes", "max_scene_bytes"} <= set(m.columns)
    # uint16 payloads composited in float64: decoded stack = 4x payload
    est_max = int((m.payload_bytes * 4).max())
    with pytest.raises(Exception, match="max_stack_bytes"):
        composite.composite(celled, "median", compute_dtype="float64",
                            max_stack_bytes=est_max - 1).collect()
    assert composite.composite(celled, "median", compute_dtype="float64",
                               max_stack_bytes=est_max).count() > 0


def test_composite_auto_picks_nsplits_from_budget(spark, tiny_images):
    """composite_auto measures the largest group, derives k, and the
    split->composite->assemble result equals the direct composite —
    the automatic-nsplits behavior of the reference's tiling policy."""
    celled = _celled(spark, tiny_images)
    direct = composite.composite(celled, "median",
                                 compute_dtype="float64").toPandas()
    # largest group: 5 scenes x 5x16x16 px x float64 = 51.2 kB
    # -> k=1 under a 16 kB budget (12.8 kB fits)
    auto = composite.composite_auto(celled, "median",
                                    compute_dtype="float64",
                                    max_stack_bytes=16_000).toPandas()
    a, b = _rows_key(direct), _rows_key(auto)
    assert list(a.cell_id) == list(b.cell_id)
    assert list(a.bytes) == list(b.bytes)
    assert (b.w == 16).all()  # reassembled to full tiles

    # ample budget -> k=0, plain stack path, same result
    plain = composite.composite_auto(celled, "median",
                                     compute_dtype="float64").toPandas()
    assert list(_rows_key(plain).bytes) == list(a.bytes)

    # decomposable reducer: incremental regardless of budget
    inc = composite.composite_auto(celled, "mean", max_stack_bytes=1)
    assert inc.count() == len(a)


def test_incremental_geomean_negative_values_match_stack(spark):
    """geomean over int16 payloads with NEGATIVE observations: the
    stack path's nanmean excludes NaN logs (negative values) but keeps
    log(0) = -inf; the incremental accumulator must do exactly that."""
    from test_perband import _mixed_pdf
    pdf = _mixed_pdf(n_scenes=4, seed=9)
    # inject negatives (not the sentinel) into the DN plane
    rows = []
    for i, r in pdf.iterrows():
        arr = codec.decode(r.bytes, 8, 8, "raw16s").copy()
        arr[1, ::3, ::2] = -5 - i
        r = r.copy()
        r.bytes = codec.encode(arr, "raw16s")
        rows.append(r)
    df = schema.images_df(spark, pd.DataFrame(rows))
    celled = warp.assign_cells(df, datagen.TILE_RES)
    inc = composite.composite(celled, "geomean").toPandas()
    stk = composite.composite(celled, "geomean", mode="stack",
                              compute_dtype="float64").toPandas()
    assert bytes(inc.bytes.iloc[0]) == bytes(stk.bytes.iloc[0])


def test_incremental_nan_nodata_profile(spark, tiny_images):
    """rawf32 frames carry a NaN sentinel: the incremental path's
    profile key must treat NaN nodata as EQUAL across scenes (NaN !=
    NaN would reject every valid derived-band group) and match the
    stack path byte for byte."""
    from vrtility_spark import bands
    derived = bands.derived_band(tiny_images, "NDVI",
                                 "(B08 - B04) / (B08 + B04)")
    celled = warp.assign_cells(derived, datagen.TILE_RES)
    inc = composite.composite(celled, "mean").toPandas()
    stk = composite.composite(celled, "mean", mode="stack",
                              compute_dtype="float64").toPandas()
    assert len(inc) == len(stk) == 12
    a, b = _rows_key(inc), _rows_key(stk)
    assert list(a.bytes) == list(b.bytes)


def test_incremental_mixed_nodata_profiles_one_flush(spark, tiny_images_pdf):
    """One partition holding BOTH NaN-sentinel (rawf32) cells and
    numeric-nodata (raw16) cells must flush cleanly: the partial rows'
    `nodata double` column would otherwise mix the profile key's
    "nan" STRING with floats — Arrow rejects (or silently coerces,
    version-dependent) a str in a double column."""
    pdf = tiny_images_pdf.copy()
    west = pdf.xmin == 0.0
    for i in pdf.index[west]:
        r = pdf.loc[i]
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt).astype(np.float32)
        arr[arr == r.nodata] = np.nan
        pdf.loc[i, "bytes"] = codec.encode(arr, "rawf32")
        pdf.loc[i, "fmt"] = "rawf32"
        pdf.loc[i, "nodata"] = np.nan
    df = schema.images_df(spark, pdf).coalesce(1)
    celled = warp.assign_cells(df, datagen.TILE_RES)
    inc = composite.composite(celled, "mean").toPandas()
    stk = composite.composite(celled, "mean", mode="stack",
                              compute_dtype="float64").toPandas()
    assert len(inc) == len(stk) == 12
    a, b = _rows_key(inc), _rows_key(stk)
    assert list(a.bytes) == list(b.bytes)
    # NaN-sentinel cells really took the NaN path end to end
    assert a.nodata.isna().sum() == 6 and b.nodata.isna().sum() == 6


def _mixed_band_celled(spark, tiny_images):
    """Three scenes of one cell, the second with one plane of three."""
    pdf = tiny_images.toPandas().iloc[:3].copy()
    # drop two planes from the second scene's payload only
    r = pdf.iloc[1]
    arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
    pdf.loc[pdf.index[1], "bytes"] = codec.encode(arr[:1], r.fmt)
    pdf["band_scale"] = None
    pdf["band_offset"] = None
    pdf["band_nodata"] = None
    df = schema.images_df(spark, pdf).coalesce(1)
    return warp.assign_cells(df, datagen.TILE_RES)


def test_incremental_mixed_band_count_raises(spark, tiny_images):
    """A scene with a different plane count in the same cell must fail
    LOUDLY on the incremental path (numpy broadcasting would otherwise
    silently smear one plane across all accumulator bands)."""
    import pytest as _pt
    celled = _mixed_band_celled(spark, tiny_images)
    with _pt.raises(Exception, match="band counts|accumulator"):
        composite.composite(celled, "mean").collect()


def test_stack_mixed_band_count_raises(spark, tiny_images):
    """The holistic twin of the test above: the stack reader must not
    broadcast a 1-plane scene over the other scenes' bands."""
    import pytest as _pt
    celled = _mixed_band_celled(spark, tiny_images)
    with _pt.raises(Exception, match="band counts"):
        composite.composite(celled, "median").collect()


def test_incremental_cross_partition_band_nodata_disagreement(spark):
    """band_nodata disagreement must raise even when each input
    partition is internally consistent (the merge re-checks)."""
    import pytest as _pt
    from test_perband import _mixed_pdf
    a = _mixed_pdf(n_scenes=2, seed=1)
    b = _mixed_pdf(n_scenes=2, seed=2)
    b["image_id"] = ["bx_0", "bx_1"]
    b["band_nodata"] = [[-9999.0, 0.0, 1.0]] * 2  # disagrees with a
    import pandas as pd
    df = schema.images_df(spark, pd.concat([a, b], ignore_index=True)) \
        .repartition(4, "image_id")
    celled = warp.assign_cells(df, datagen.TILE_RES)
    with _pt.raises(Exception, match="band_nodata|disagree"):
        composite.composite(celled, "mean").collect()


def test_split_guard_rejects_res_overflow(spark, tiny_images):
    """Children past MAX_RES cannot be encoded — the split must refuse
    instead of silently corrupting cell ids."""
    import pytest as _pt
    from vrtility_spark import cells
    celled = _celled(spark, tiny_images)
    # fabricate res-13 cell ids directly
    pdf = celled.toPandas().iloc[:1].copy()
    zone, res, ix, iy = (int(v[0]) for v in
                         cells.decode_np(pdf.cell_id.to_numpy()))
    pdf["cell_id"] = int(cells.encode_np(zone, cells.MAX_RES, ix, iy))
    df = spark.createDataFrame(pdf)
    with _pt.raises(Exception, match="MAX_RES"):
        composite.split_to_child_cells(df, 1).collect()


def test_composite_auto_mixed_tile_sizes_caps_k(spark, tiny_images):
    """With mixed tile sizes, composite_auto's k must divide EVERY
    tile (min power-of-two factor across the table), not just the
    smallest — a 24px tile caps k at 3 even if a 32px tile allows 5."""
    import pandas as pd
    pdf = tiny_images.toPandas().copy()
    # shrink one ZONE's tiles to 12x12 (pow2 factor 4) — sizes stay
    # uniform within each cell, mixed across the table
    rows = []
    for _, r in pdf.iterrows():
        r = r.copy()
        if r.zone == 30:
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)[:, :12, :12]
            r.bytes = codec.encode(np.ascontiguousarray(arr), r.fmt)
            r.w = r.h = 12
        rows.append(r)
    df = schema.images_df(spark, pd.DataFrame(rows))
    celled = warp.assign_cells(df, datagen.TILE_RES)
    # ample budget: k=0, runs unsplit
    out = composite.composite_auto(celled, "median",
                                   compute_dtype="float64",
                                   max_stack_bytes=10**9)
    assert out.count() > 0
    # tight budget: largest 16px group (51.2 kB) forces k=2 (3.2 kB
    # children) — 12 is divisible by 4 too, so the plan is valid for
    # EVERY tile and the reassembled result equals the direct one
    auto = composite.composite_auto(celled, "median",
                                    compute_dtype="float64",
                                    max_stack_bytes=4000).toPandas()
    direct = composite.composite(celled, "median",
                                 compute_dtype="float64").toPandas()
    a, b = _rows_key(direct), _rows_key(auto)
    assert list(a.cell_id) == list(b.cell_id)
    assert list(a.bytes) == list(b.bytes)


def test_composite_auto_per_cell_adaptive_split(spark, tiny_images):
    """Per-cell routing: duplicating one tile's scenes 4x pushes only
    THAT cell over budget — plan_splits gives it _k=1 and every cold
    cell _k=0 (no global 4^k split tax), and the routed union equals
    the direct composite byte for byte."""
    pdf = tiny_images.toPandas()
    sel = ((pdf.zone == pdf.zone.iloc[0]) & (pdf.xmin == pdf.xmin.min())
           & (pdf.ymin == pdf.ymin.min()))
    extra = []
    for rep in range(3):
        dup = pdf[sel].copy()
        dup["image_id"] = dup.image_id + f"_dup{rep}"
        extra.append(dup)
    df = schema.images_df(spark, pd.concat([pdf, *extra],
                                           ignore_index=True))
    celled = _celled(spark, df)
    # hot cell: 20 scenes x 5x16x16 px x f64 = 204.8 kB -> k=1 under a
    # 60 kB budget (51.2 kB children); cold cells: 51.2 kB -> k=0
    plan = composite.plan_splits(celled, compute_dtype="float64",
                                 max_stack_bytes=60_000).toPandas()
    assert (plan._k == 1).sum() == 1
    assert (plan._k == 0).sum() == len(plan) - 1
    direct = composite.composite(celled, "median",
                                 compute_dtype="float64").toPandas()
    auto = composite.composite_auto(celled, "median",
                                    compute_dtype="float64",
                                    max_stack_bytes=60_000).toPandas()
    a, b = _rows_key(direct), _rows_key(auto)
    assert list(a.cell_id) == list(b.cell_id)
    assert list(a.bytes) == list(b.bytes)
    assert list(a.n_scenes) == list(b.n_scenes)
    assert list(a.caption_agg) == list(b.caption_agg)


def test_incremental_partials_shuffle_volume(spark, tiny_images):
    """The O-claim of BENCH/PLANS.md as an executable gate: stage 1 of
    the incremental composite emits at most partitions x cells partial
    rows (no early flush at these sizes) — the shuffle moves partials,
    not scenes, so its volume is independent of scenes per cell."""
    n_parts = 2
    celled = _celled(spark, tiny_images).repartition(n_parts)
    part = composite.incremental_partials(celled, "mean")
    n_partials = part.count()
    n_cells = celled.select("cell_id").distinct().count()
    n_scenes = celled.count()
    assert n_partials <= n_parts * n_cells
    # 5 scenes/cell across 2 partitions: strictly fewer partial rows
    # than scene rows must cross the exchange
    assert n_partials < n_scenes


def test_pipeline_budget_mode(spark, tiny_images):
    """mode='budget' is reachable from the Pipeline API (and thus
    bundles): routes through composite_auto and equals the plain
    composite."""
    from vrtility_spark.pipeline import Pipeline
    via = (Pipeline(tiny_images)
           .warp(cell_res=datagen.TILE_RES)
           .composite("median", mode="budget", max_stack_bytes=16_000)
           .df.toPandas())
    direct = composite.composite(
        _celled(spark, tiny_images), "median").toPandas()
    a, b = _rows_key(direct), _rows_key(via)
    assert list(a.cell_id) == list(b.cell_id)
    assert list(a.bytes) == list(b.bytes)
