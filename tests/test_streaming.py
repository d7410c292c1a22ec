from __future__ import annotations

import os

from vrtility_spark import datagen, schema, streaming, warp
from vrtility_spark.composite import composite
from vrtility_spark.lineage import SnapshotTable
from vrtility_spark.masks import vrt_set_maskfun


def test_scene_stream_composites(spark, tiny_images, tmp_path):
    land = str(tmp_path / "landing")
    tbl_dir = str(tmp_path / "stream_tbl")
    # two scene drops: zone 30 first, the rest later
    tiny_images.where("zone = 30").write.parquet(land)
    tiny_images.where("zone != 30").write.mode("append").parquet(land)

    q = streaming.composite_stream(spark, land, tbl_dir, reducer="median")
    q.awaitTermination(240)

    tbl = SnapshotTable(tbl_dir)
    got = tbl.read(spark).select("cell_id", "caption_agg").toPandas()
    # streamed result == batch result (micro-batching is an execution
    # detail, not a semantics change — the async≡sync invariant)
    batch = composite(
        warp.assign_cells(vrt_set_maskfun(tiny_images, "int",
                                          datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "median") \
        .select("cell_id", "caption_agg").toPandas()
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, batch.values))
    assert os.path.isdir(tbl_dir + "/_stream_checkpoint")


def test_replayed_batch_still_upserts_composites(spark, tiny_images, tmp_path):
    """At-least-once replay: if a crash lands between the scenes commit
    and the composite commit, the replayed batch must still recompute
    and upsert composites for its cells (only the scenes append is
    skipped) — otherwise those cells stay stale forever."""
    from vrtility_spark.warp import assign_cells

    tbl_dir = str(tmp_path / "replay_tbl")
    sub = tiny_images.where("zone = 30")
    proc = streaming.make_batch_processor(spark, tbl_dir, reducer="median")

    # simulate the crash: scenes committed with the batch tag, but the
    # composite commit never happened
    scenes_tbl = SnapshotTable(os.path.join(tbl_dir, "scenes"))
    scenes_tbl.commit(assign_cells(sub, datagen.TILE_RES), "cell_id", tag="7")
    assert SnapshotTable(tbl_dir).current_manifest() is None

    proc(sub, 7)  # the replay

    got = SnapshotTable(tbl_dir).read(spark) \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    batch = composite(
        warp.assign_cells(vrt_set_maskfun(sub, "int",
                                          datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "median") \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, batch.values))
    # and the scenes log was NOT double-appended
    n = scenes_tbl.read(spark).count()
    assert n == sub.count()


def test_stateful_running_mean(spark, tiny_images, tiny_images_pdf, tmp_path):
    """applyInPandasWithState: state survives across two stream runs;
    the final running mean equals the batch mean composite exactly."""
    import numpy as np

    from vrtility_spark import codec
    land = str(tmp_path / "land2")
    out = str(tmp_path / "running")
    sub = tiny_images.where("zone = 30")
    sub.where("datetime < '2024-06-01'").write.parquet(land)
    q = streaming.stateful_running_mean(spark, land, out_path=out)
    q.awaitTermination(240)
    sub.where("datetime >= '2024-06-01'").write.mode("append").parquet(land)
    q2 = streaming.stateful_running_mean(spark, land, out_path=out)
    q2.awaitTermination(240)

    res = spark.read.parquet(out).toPandas()
    # latest update per cell = all 5 scenes folded in
    latest = res.sort_values("n_scenes").groupby("cell_id").last().reset_index()
    assert (latest.n_scenes == 5).all() and len(latest) == 4

    batch = composite(
        warp.assign_cells(vrt_set_maskfun(sub, "int", datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "mean", compute_dtype="float64") \
        .toPandas()
    for _, b in batch.iterrows():
        s = latest[latest.cell_id == b.cell_id].iloc[0]
        a1 = codec.decode(b.bytes, b.w, b.h, b.fmt)
        a2 = codec.decode(s.bytes, s.w, s.h, s.fmt)
        # batch composite keeps the SCL plane; the running mean holds
        # only the data planes — compare those
        np.testing.assert_array_equal(a1[: a2.shape[0]], a2)


def test_running_mean_rejects_profile_drift(spark, tiny_images_pdf, tmp_path):
    """A streamed scene whose layout (same byte count, different
    (nb, h, w)) or payload profile (fmt/nodata) disagrees with the
    accumulated state must fail loudly — silently folding it in would
    pixel-misalign the running sums or mis-encode the emitted mean."""
    import numpy as np
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from vrtility_spark import codec, schema

    base = tiny_images_pdf[tiny_images_pdf.image_id.str.startswith("Z30_0_0")]
    first = base.iloc[[0]]

    def run(drift_fn, land_name):
        land = str(tmp_path / land_name)
        out = str(tmp_path / (land_name + "_out"))
        schema.images_df(spark, first).write.parquet(land)
        q = streaming.stateful_running_mean(spark, land, out_path=out)
        q.awaitTermination(240)
        drifted = base.iloc[[1]].copy()
        drift_fn(drifted)
        schema.images_df(spark, drifted).write.mode("append").parquet(land)
        q2 = streaming.stateful_running_mean(spark, land, out_path=out)
        with pytest.raises(StreamingQueryException):
            q2.awaitTermination(240)
            if q2.exception() is not None:
                raise q2.exception()

    def relayout(pdf):
        r = pdf.iloc[0]
        arr = codec.decode(r.bytes, int(r.w), int(r.h), r.fmt)
        nb, h, w = arr.shape
        pdf.loc[pdf.index[0], "bytes"] = codec.encode(
            arr.reshape(nb, h // 2, w * 2), r.fmt)
        pdf.loc[pdf.index[0], "w"] = w * 2
        pdf.loc[pdf.index[0], "h"] = h // 2

    def refmt(pdf):
        r = pdf.iloc[0]
        arr = codec.decode(r.bytes, int(r.w), int(r.h), r.fmt)
        pdf.loc[pdf.index[0], "bytes"] = codec.encode(
            arr.astype(np.float32), "rawf32")
        pdf.loc[pdf.index[0], "fmt"] = "rawf32"

    run(relayout, "drift_shape")
    run(refmt, "drift_fmt")


def test_stream_correct_when_cell_spans_batches(spark, tiny_images, tmp_path):
    """A cell's scenes split across micro-batches must still produce
    ONE composite per cell equal to the batch run — the case file
    boundaries don't respect cells. Forced here with one-row files and
    max_files_per_batch=2 (5 scenes per cell → ≥3 batches each)."""
    land = str(tmp_path / "landing_split")
    tbl_dir = str(tmp_path / "split_tbl")
    sub = tiny_images.where("zone = 30")
    # explicit partition count: repartition(col) alone is AQE-coalesced
    # to ONE file on tiny data, which would silently undo the split
    sub.repartition(8, "image_id").write.parquet(land)

    q = streaming.composite_stream(spark, land, tbl_dir, reducer="median",
                                   max_files_per_batch=2)
    q.awaitTermination(300)

    got = SnapshotTable(tbl_dir).read(spark) \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    batch = composite(
        warp.assign_cells(vrt_set_maskfun(sub, "int",
                                          datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "median") \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    assert len(got) == len(batch)  # exactly one row per cell
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, batch.values))


def test_scene_arrival_windowed_stats(spark, tiny_images, tmp_path):
    """Watermark + tumbling window: finalized (window, zone) aggregates
    match the batch computation exactly; windows newer than the 30-day
    watermark are withheld (late data could still arrive)."""
    import pandas as pd
    from pyspark.sql import functions as F

    land = str(tmp_path / "landing_w")
    out = str(tmp_path / "win_stats")
    tiny_images.write.parquet(land)

    q = streaming.scene_arrival_stats(spark, land, out)
    q.awaitTermination(240)

    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0
    batch = (tiny_images.groupBy(F.window("datetime", "7 days"), "zone")
             .agg(F.count("*").alias("n_scenes"))
             .select(F.col("window.start").alias("win_start"), "zone",
                     "n_scenes").toPandas())
    max_dt = tiny_images.agg(F.max("datetime")).collect()[0][0]
    # append mode: emitted == finalized == window end <= watermark
    assert (got.win_end <= max_dt - pd.Timedelta(days=30)).all()
    merged = got.merge(batch, on=["win_start", "zone"], suffixes=("", "_b"))
    assert len(merged) == len(got)
    assert (merged.n_scenes == merged.n_scenes_b).all()


def test_stream_regrid_unaligned_equals_batch(spark, tmp_path):
    """Streaming over UNALIGNED footprints (general-warp path): scenes
    with quarter-tile offsets, split across micro-batches, must end in
    the same per-cell composites as one batch regrid+composite run —
    including cells whose scenes arrive in different batches."""
    from vrtility_spark.masks import make_scene_maskfun
    from vrtility_spark.warp import regrid_to_cells

    land = str(tmp_path / "landing_rg")
    tbl_dir = str(tmp_path / "rg_tbl")
    pdf = datagen.offset_images_pandas()
    sub = schema.images_df(spark, pdf)
    sub.repartition(6, "image_id").write.parquet(land)

    q = streaming.composite_stream(spark, land, tbl_dir, reducer="median",
                                   max_files_per_batch=2, regrid=(16, 16))
    q.awaitTermination(300)

    got = SnapshotTable(tbl_dir).read(spark) \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    tiles = regrid_to_cells(
        sub, datagen.TILE_RES, 16, 16, resampling="nearest",
        scene_fn=make_scene_maskfun("int", datagen.S2_MASK_VALUES))
    batch = composite(tiles, "median") \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    assert len(got) == len(batch)
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, batch.values))


def test_stream_regrid_history_scan_prunes(spark, tmp_path):
    """The regrid streaming path's history re-read must prune AT THE
    SCAN: the scenes log is cover-exploded and partitioned by cover
    cell, so `affected cells` becomes PartitionFilters on cell_id —
    bytes read scale with the batch's footprint, not history size."""
    import os

    from vrtility_spark.lineage import SnapshotTable as ST
    from vrtility_spark.storage import explain_str

    land = str(tmp_path / "landing_pr")
    tbl_dir = str(tmp_path / "pr_tbl")
    sub = schema.images_df(spark, datagen.offset_images_pandas())
    sub.repartition(4, "image_id").write.parquet(land)
    q = streaming.composite_stream(spark, land, tbl_dir, reducer="median",
                                   max_files_per_batch=2, regrid=(16, 16))
    q.awaitTermination(300)

    scenes = ST(os.path.join(tbl_dir, "scenes"))
    some = scenes.read(spark).select("cell_id").distinct().limit(3).collect()
    hist = streaming.regrid_history(spark, scenes,
                                    [r.cell_id for r in some])
    plan = explain_str(hist)
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "cell_id" in seg[1][:300], plan
    # and the pruned read returns exactly the requested cells
    got = {r.cell_id for r in hist.select("cell_id").distinct().collect()}
    assert got == {r.cell_id for r in some}


def test_stream_incremental_reducer_equals_batch(spark, tiny_images, tmp_path):
    """Streaming with a DECOMPOSABLE reducer routes each per-batch
    recompute through the incremental (partial-accumulator) composite —
    final state must still equal one batch run, byte for byte."""
    land = str(tmp_path / "landing_inc")
    tbl_dir = str(tmp_path / "inc_tbl")
    tiny_images.repartition(5, "image_id").write.parquet(land)

    q = streaming.composite_stream(spark, land, tbl_dir, reducer="mean",
                                   max_files_per_batch=2)
    q.awaitTermination(240)

    got = SnapshotTable(tbl_dir).read(spark) \
        .select("cell_id", "n_scenes", "bytes", "caption_agg").toPandas()
    batch = composite(
        warp.assign_cells(vrt_set_maskfun(tiny_images, "int",
                                          datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "mean") \
        .select("cell_id", "n_scenes", "bytes", "caption_agg").toPandas()
    key = lambda d: sorted((int(r.cell_id), int(r.n_scenes),
                            bytes(r.bytes), r.caption_agg)
                           for _, r in d.iterrows())
    assert key(got) == key(batch)


def test_stream_regrid_semi_join_past_isin_cap(spark, tmp_path):
    """A batch whose cover set exceeds max_isin_cells must route the
    history re-read through the broadcast semi-join instead of a giant
    driver-side isin literal — and still converge to the exact batch
    result."""
    from vrtility_spark.masks import make_scene_maskfun
    from vrtility_spark.warp import regrid_to_cells

    land = str(tmp_path / "landing_cap")
    tbl_dir = str(tmp_path / "cap_tbl")
    pdf = datagen.offset_images_pandas()
    sub = schema.images_df(spark, pdf)
    sub.repartition(6, "image_id").write.parquet(land)

    # every offset batch covers >1 cell, so cap=1 forces the semi-join
    # path on every single batch
    q = streaming.composite_stream(spark, land, tbl_dir, reducer="median",
                                   max_files_per_batch=2, regrid=(16, 16),
                                   max_isin_cells=1)
    q.awaitTermination(300)

    got = SnapshotTable(tbl_dir).read(spark) \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    tiles = regrid_to_cells(
        sub, datagen.TILE_RES, 16, 16, resampling="nearest",
        scene_fn=make_scene_maskfun("int", datagen.S2_MASK_VALUES))
    batch = composite(tiles, "median") \
        .select("cell_id", "n_scenes", "caption_agg").toPandas()
    assert len(got) == len(batch)
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, batch.values))


def test_stateful_running_trend_equals_batch(spark, tiny_images, tmp_path):
    """Streaming trend state survives across two stream runs; the final
    emitted tile equals the batch incremental trend over the same
    masked scenes (f32-cast parity — both sides are the identical
    sufficient-statistics algebra, folded in different order)."""
    import numpy as np

    from vrtility_spark import codec, masks, trend
    land = str(tmp_path / "land_trend")
    out = str(tmp_path / "running_trend")
    sub = tiny_images.where("zone = 30")
    sub.where("datetime < '2024-06-01'").write.parquet(land)
    q = streaming.stateful_running_trend(spark, land, out_path=out)
    q.awaitTermination(240)
    sub.where("datetime >= '2024-06-01'").write.mode("append").parquet(land)
    q2 = streaming.stateful_running_trend(spark, land, out_path=out)
    q2.awaitTermination(240)

    res = spark.read.parquet(out).toPandas()
    latest = res.sort_values("n_scenes").groupby("cell_id").last() \
        .reset_index()
    assert (latest.n_scenes == 5).all() and len(latest) == 4

    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES,
                                  drop_mask_band=True)
    batch = trend.trend(
        warp.assign_cells(sub, datagen.TILE_RES), scene_fn=fn).toPandas()
    assert set(batch.cell_id) == set(latest.cell_id)
    for _, b in batch.iterrows():
        s = latest[latest.cell_id == b.cell_id].iloc[0]
        a1 = codec.decode(b.bytes, b.w, b.h, b.fmt).astype(np.float64)
        a2 = codec.decode(s.bytes, s.w, s.h, s.fmt).astype(np.float64)
        assert a1.shape == a2.shape  # 3 planes per data band, no SCL
        np.testing.assert_allclose(
            np.where(a1 == -9999.0, np.nan, a1),
            np.where(a2 == -9999.0, np.nan, a2),
            rtol=1e-5, atol=1e-5, equal_nan=True)


def test_stateful_running_harmonic_equals_batch(spark, tiny_images,
                                                tmp_path):
    """Streaming harmonic state survives across two stream runs; the
    final tile equals the batch incremental harmonic over the same
    masked scenes (both sides fold the same normal-equation blocks)."""
    import numpy as np

    from vrtility_spark import codec, harmonic, masks
    land = str(tmp_path / "land_harm")
    out = str(tmp_path / "running_harm")
    sub = tiny_images.where("zone = 30")
    sub.where("datetime < '2024-06-01'").write.parquet(land)
    q = streaming.stateful_running_harmonic(spark, land, out_path=out)
    q.awaitTermination(240)
    sub.where("datetime >= '2024-06-01'").write.mode("append") \
        .parquet(land)
    q2 = streaming.stateful_running_harmonic(spark, land, out_path=out)
    q2.awaitTermination(240)

    res = spark.read.parquet(out).toPandas()
    latest = res.sort_values("n_scenes").groupby("cell_id").last() \
        .reset_index()
    assert (latest.n_scenes == 5).all() and len(latest) == 4

    fn = masks.make_scene_maskfun("int", datagen.S2_MASK_VALUES,
                                  drop_mask_band=True)
    batch = harmonic.harmonic(
        warp.assign_cells(sub, datagen.TILE_RES), scene_fn=fn).toPandas()
    assert set(batch.cell_id) == set(latest.cell_id)
    F = harmonic.n_params(1) + 2 * 1 + 2
    for _, b in batch.iterrows():
        s = latest[latest.cell_id == b.cell_id].iloc[0]
        a1 = codec.decode(b.bytes, b.w, b.h, b.fmt).astype(np.float64)
        a2 = codec.decode(s.bytes, s.w, s.h, s.fmt).astype(np.float64)
        assert a1.shape == a2.shape and a1.shape[0] % F == 0
        x = np.where(a1 == -9999.0, np.nan, a1)
        y = np.where(a2 == -9999.0, np.nan, a2)
        # both-finite parity; threshold flips possible on the tiny
        # ill-conditioned fixture (see test_harmonic), must stay rare
        both = np.isfinite(x) & np.isfinite(y)
        np.testing.assert_allclose(x[both], y[both], rtol=5e-4,
                                   atol=5e-4)
        assert (np.isfinite(x) != np.isfinite(y)).mean() < 0.02


def test_streaming_chip_export(spark, tiny_images, tmp_path):
    """Training-chip export is a stateless narrow map, so it runs
    under Structured Streaming unchanged: stream composite tiles in,
    slice to chips + hash-split, land parquet — and the streamed chip
    set is byte-identical to the batch path."""
    from vrtility_spark import chips, sampling
    comp = composite(
        warp.assign_cells(vrt_set_maskfun(tiny_images, "int",
                                          datagen.S2_MASK_VALUES),
                          datagen.TILE_RES), "median")
    tiles_dir = str(tmp_path / "tiles")
    comp.write.parquet(tiles_dir)
    out_dir = str(tmp_path / "chips_out")
    ck = str(tmp_path / "chips_ck")
    stream = spark.readStream.schema(comp.schema).parquet(tiles_dir)
    chipped = sampling.assign_splits(
        chips.make_chips(stream, chip=8),
        ["cell_id", "chip_x", "chip_y"], {"train": 0.8, "val": 0.2})
    q = (chipped.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = sorted((r.cell_id, r.chip_x, r.chip_y, bytes(r.bytes), r.split)
                 for r in spark.read.parquet(out_dir).collect())
    want = sorted((r.cell_id, r.chip_x, r.chip_y, bytes(r.bytes), r.split)
                  for r in sampling.assign_splits(
                      chips.make_chips(comp, chip=8),
                      ["cell_id", "chip_x", "chip_y"],
                      {"train": 0.8, "val": 0.2}).collect())
    assert got == want and len(got) == 12 * 4
