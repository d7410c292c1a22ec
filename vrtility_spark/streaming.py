"""Structured-Streaming scene ingestion (optional extension).

The reference is batch-only (SURVEY.md §2.8): its only incremental
behaviors are retry/backoff and async tile completion. This module is
the *optional* streaming demo scoped there: scene-arrival micro-batching
— new scene files appear in a directory, each micro-batch is masked,
cell-assigned, and folded into per-cell composites via ``foreachBatch``
into a snapshot table (exactly-once per batch through the snapshot
manifest chain).

Design notes for real deployments:
- a file-source stream over the landing prefix; watermark on
  ``datetime`` bounds state for windowed variants;
- ``foreachBatch`` + SnapshotTable keeps the sink idempotent/resumable
  (each batch is one atomic snapshot with per-partition lineage);
- per-cell *incremental* composites for decomposable reducers
  (mean/min/max/sum via running aggregates); order-sensitive reducers
  (median, medoid) recompute per affected cell from the batch's cells —
  correct because a cell's scenes arrive together per tile drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vrtility_spark import datagen
from vrtility_spark.composite import composite
from vrtility_spark.lineage import SnapshotTable
from vrtility_spark.masks import vrt_set_maskfun
from vrtility_spark.schema import IMAGE_SCHEMA
from vrtility_spark.warp import assign_cells


def read_scene_stream(spark: SparkSession, input_dir: str,
                      max_files_per_batch: int = 32) -> DataFrame:
    """File-source stream of scene rows (parquet drops)."""
    return (spark.readStream.schema(IMAGE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_batch)
            .parquet(input_dir)
            .withWatermark("datetime", "30 days"))


def scene_arrival_stats(spark: SparkSession, input_dir: str, out_path: str,
                        window_days: int = 7,
                        checkpoint_dir: str | None = None):
    """Watermarked tumbling-window aggregation over the scene stream:
    per (acquisition window, zone) scene counts and cloud stats. The
    30-day watermark (read_scene_stream) bounds state for late-arriving
    scenes — reprocessed archives routinely deliver scenes weeks out of
    order; windows older than the watermark finalize and evict.
    Append-mode sink: each window row is written exactly once, when it
    finalizes."""
    from pyspark.sql import functions as SF
    stream = read_scene_stream(spark, input_dir)
    agg = (stream.groupBy(SF.window("datetime", f"{int(window_days)} days"),
                          "zone")
           .agg(SF.count("*").alias("n_scenes"),
                SF.avg("cloud_cover").alias("avg_cloud"),
                SF.approx_count_distinct("image_id").alias("n_images")))
    out = agg.select(SF.col("window.start").alias("win_start"),
                     SF.col("window.end").alias("win_end"),
                     "zone", "n_scenes",
                     SF.round("avg_cloud", 4).alias("avg_cloud"), "n_images")
    return (out.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation",
                    checkpoint_dir or out_path + "/_ckpt")
            .outputMode("append")
            .trigger(availableNow=True).start())


RUNNING_SCHEMA = ("cell_id long, n_scenes int, bytes binary, w int, h int, "
                  "fmt string, nodata double")
_STATE_SCHEMA = ("count int, sums binary, valid binary, w int, h int, "
                 "nodata double, fmt string")


def _masked_scene(row, vals):
    """Decode + int-mask one streamed scene row, honoring per-band
    ``band_nodata`` exactly like the batch scene_fn path
    (codec.row_band_meta + masks.apply_mask_np) — the stateful
    operators' parity with their batch twins depends on masking the
    same pixels."""
    import numpy as np

    from vrtility_spark import codec as C
    from vrtility_spark import masks as M
    arr = C.decode(row.bytes, row.w, row.h, row.fmt)
    nd = C.row_band_meta(row, len(arr), "band_nodata", row.nodata)
    nd_data = nd[:-1] if isinstance(nd, np.ndarray) else nd
    m01 = M.build_intmask_np(arr[-1], vals)
    return C.to_float_masked(M.apply_mask_np(arr[:-1], m01, nd_data),
                             nd_data)


def _check_state_shape(data, ref_shape, cell):
    """A scene whose plane layout disagrees with the accumulated state
    would broadcast into the wrong bands — fail loudly instead (the
    batch partials raise the same way)."""
    if ref_shape is not None and data.shape != ref_shape:
        raise ValueError(
            f"cell {cell}: streamed scene planes {data.shape} disagree "
            f"with the accumulated state {ref_shape} (mixed band "
            "counts); normalize band layout first")


def stateful_running_mean(spark: SparkSession, input_dir: str,
                          cell_res: int = datagen.TILE_RES,
                          mask_values=None,
                          checkpoint_dir: str | None = None,
                          out_path: str | None = None):
    """Custom stateful operator: per-cell *running* nodata-aware mean
    composite over an unbounded scene stream, via
    ``applyInPandasWithState`` — state per cell holds the float64 sum
    planes + per-pixel valid counts, so each arriving scene folds in
    incrementally (no recompute over history).

    This is the decomposable-reducer streaming path; order-sensitive
    reducers (median/medoid) use :func:`composite_stream`'s
    per-batch recompute instead.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    vals = datagen.S2_MASK_VALUES if mask_values is None else mask_values

    def update(key, pdfs, state):
        import numpy as np

        from vrtility_spark import codec as C
        from vrtility_spark import masks as M
        if state.exists:
            count, sums_b, valid_b, w, h, nodata, fmt = state.get
            sums = np.frombuffer(sums_b, dtype="<f8").copy()
            valid = np.frombuffer(valid_b, dtype="<i4").copy()
        else:
            count, sums, valid, w, h = 0, None, None, None, None
            nodata = fmt = None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                data = _masked_scene(row, vals)
                if sums is None:
                    w, h = int(row.w), int(row.h)
                    nodata, fmt = C.nodata_scalar(row.nodata), row.fmt
                    sums = np.zeros(data.size, dtype="<f8")
                    valid = np.zeros(data.size, dtype="<i4")
                else:
                    _check_state_shape(
                        data, (sums.size // (w * h), h, w), int(key[0]))
                    row_nd = C.nodata_scalar(row.nodata)
                    if (row.fmt, row_nd) != (fmt, nodata) \
                            and not (np.isnan(row_nd) and np.isnan(nodata)
                                     and row.fmt == fmt):
                        raise ValueError(
                            f"cell {int(key[0])}: streamed scene "
                            f"fmt/nodata ({row.fmt}, {row.nodata}) "
                            f"disagree with the accumulated state "
                            f"({fmt}, {nodata}); the emitted composite "
                            "is encoded with the state's profile — "
                            "normalize payload profile first")
                ok = ~np.isnan(data)
                sums += np.where(ok, data, 0.0).ravel()
                valid += ok.ravel().astype("<i4")
                count += 1
        state.update((count, sums.tobytes(), valid.tobytes(), w, h,
                      nodata, fmt))
        nb = sums.size // (w * h)
        with np.errstate(invalid="ignore"):
            mean = (sums / np.maximum(valid, 1)).reshape(nb, h, w)
        mean[valid.reshape(nb, h, w) == 0] = np.nan
        payload = C.encode(C.from_float(mean, nodata, C.dtype_for(fmt)), fmt)
        yield pd.DataFrame([{
            "cell_id": int(key[0]), "n_scenes": int(count), "bytes": payload,
            "w": w, "h": h, "fmt": fmt, "nodata": nodata}])

    stream = read_scene_stream(spark, input_dir)
    celled = assign_cells(stream, cell_res)
    updated = celled.groupBy("cell_id").applyInPandasWithState(
        update, RUNNING_SCHEMA, _STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if out_path:
            batch_df.write.mode("append").parquet(out_path)

    return (updated.writeStream.foreachBatch(sink)
            .option("checkpointLocation",
                    checkpoint_dir or (out_path or "/tmp/vrt_state") + "/_ckpt")
            .outputMode("update")
            .trigger(availableNow=True).start())


TREND_STREAM_SCHEMA = ("cell_id long, n_scenes int, bytes binary, w int, "
                       "h int, fmt string, nodata double")
_TREND_STATE_SCHEMA = "count int, acc binary, nb int, w int, h int"


def stateful_running_trend(spark: SparkSession, input_dir: str,
                           cell_res: int = datagen.TILE_RES,
                           mask_values=None,
                           checkpoint_dir: str | None = None,
                           out_path: str | None = None):
    """Streaming twin of :func:`vrtility_spark.trend.trend`: per-cell
    per-pixel OLS trend over an unbounded scene stream via
    ``applyInPandasWithState`` — state per cell is the same (5, B, H,
    W) sufficient-statistics block the batch incremental path shuffles
    (n, Σt, Σt², Σy, Σt·y), so every arriving scene folds in O(1) and
    the emitted tile is always the trend over the full history. No
    recompute, no history read: the decomposable algebra IS the
    streaming state. Output planes per data band: slope / intercept /
    n_obs (rawf32, -9999 sentinel), mask plane dropped (matching
    :func:`stateful_running_mean`)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    vals = datagen.S2_MASK_VALUES if mask_values is None else mask_values

    def update(key, pdfs, state):
        import numpy as np

        from vrtility_spark import codec as C
        from vrtility_spark import masks as M
        from vrtility_spark import trend as TR
        if state.exists:
            count, acc_b, nb, w, h = state.get
            acc = np.frombuffer(acc_b, dtype="<f8") \
                .reshape(5, nb, h, w).copy()
        else:
            count, acc, nb, w, h = 0, None, None, None, None
        nodata = TR.OUT_NODATA
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                data = _masked_scene(row, vals)
                if acc is None:
                    nb, h, w = data.shape
                    acc = np.zeros((5, nb, h, w))
                else:
                    _check_state_shape(data, acc.shape[1:], int(key[0]))
                t = float(TR.t_years(
                    np.int64(pd.Timestamp(row.datetime).value)))
                ok = ~np.isnan(data)
                y = np.where(ok, data, 0.0)
                acc[0] += ok
                acc[1] += t * ok
                acc[2] += (t * t) * ok
                acc[3] += y
                acc[4] += t * y
                count += 1
        state.update((count, acc.astype("<f8").tobytes(), nb, w, h))
        planes = TR.trend_finalize(acc)
        payload = C.encode(
            C.from_float(planes, nodata, "float32"), "rawf32")
        yield pd.DataFrame([{
            "cell_id": int(key[0]), "n_scenes": int(count),
            "bytes": payload, "w": w, "h": h, "fmt": "rawf32",
            "nodata": nodata}])

    stream = read_scene_stream(spark, input_dir)
    celled = assign_cells(stream, cell_res)
    updated = celled.groupBy("cell_id").applyInPandasWithState(
        update, TREND_STREAM_SCHEMA, _TREND_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if out_path:
            batch_df.write.mode("append").parquet(out_path)

    return (updated.writeStream.foreachBatch(sink)
            .option("checkpointLocation",
                    checkpoint_dir or (out_path or "/tmp/vrt_trend")
                    + "/_ckpt")
            .outputMode("update")
            .trigger(availableNow=True).start())


def stateful_running_harmonic(spark: SparkSession, input_dir: str,
                              n_harmonics: int = 1,
                              period_years: float = 1.0,
                              cell_res: int = datagen.TILE_RES,
                              mask_values=None,
                              checkpoint_dir: str | None = None,
                              out_path: str | None = None):
    """Streaming twin of :func:`vrtility_spark.harmonic.harmonic`:
    the per-cell state is the same ``(q, B, H, W)`` normal-equation
    block the batch incremental path shuffles (XᵀX triangle, Xᵀy,
    Σy²), so each arriving scene folds in O(1) and the emitted tile is
    always the seasonal fit over the full history — streaming
    phenology with no history read and no recompute. Output planes
    per data band follow harmonic_finalize (intercept, slope,
    sin/cos/amp/phase per harmonic, rmse, n_obs); mask plane dropped
    like the other stateful operators."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    vals = datagen.S2_MASK_VALUES if mask_values is None else mask_values
    K, P = int(n_harmonics), float(period_years)

    def update(key, pdfs, state):
        import numpy as np

        from vrtility_spark import codec as C
        from vrtility_spark import harmonic as HA
        from vrtility_spark import masks as M
        from vrtility_spark import trend as TR
        p_ = HA.n_params(K)
        q = HA._acc_rows(p_)
        if state.exists:
            count, acc_b, nb, w, h = state.get
            acc = np.frombuffer(acc_b, dtype="<f8") \
                .reshape(q, nb, h, w).copy()
        else:
            count, acc, nb, w, h = 0, None, None, None, None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                data = _masked_scene(row, vals)
                if acc is None:
                    nb, h, w = data.shape
                    acc = np.zeros((q, nb, h, w))
                else:
                    _check_state_shape(data, acc.shape[1:], int(key[0]))
                t = float(TR.t_years(
                    np.int64(pd.Timestamp(row.datetime).value)))
                x = HA.design_np(np.array([t]), K, P)[0]
                ok = ~np.isnan(data)
                okf = ok.astype(np.float64)
                y = np.where(ok, data, 0.0)
                idx = 0
                for i in range(p_):
                    for j in range(i, p_):
                        acc[idx] += (x[i] * x[j]) * okf
                        idx += 1
                for i in range(p_):
                    acc[idx] += x[i] * y
                    idx += 1
                acc[idx] += y * y
                count += 1
        state.update((count, acc.astype("<f8").tobytes(), nb, w, h))
        planes = HA.harmonic_finalize(acc, K)
        payload = C.encode(
            C.from_float(planes, TR.OUT_NODATA, "float32"), "rawf32")
        yield pd.DataFrame([{
            "cell_id": int(key[0]), "n_scenes": int(count),
            "bytes": payload, "w": w, "h": h, "fmt": "rawf32",
            "nodata": TR.OUT_NODATA}])

    stream = read_scene_stream(spark, input_dir)
    celled = assign_cells(stream, cell_res)
    updated = celled.groupBy("cell_id").applyInPandasWithState(
        update, TREND_STREAM_SCHEMA, _TREND_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if out_path:
            batch_df.write.mode("append").parquet(out_path)

    return (updated.writeStream.foreachBatch(sink)
            .option("checkpointLocation",
                    checkpoint_dir or (out_path or "/tmp/vrt_harm")
                    + "/_ckpt")
            .outputMode("update")
            .trigger(availableNow=True).start())


def composite_stream(spark: SparkSession, input_dir: str, table_dir: str,
                     reducer: str = "median", cell_res: int = datagen.TILE_RES,
                     mask_values=None, checkpoint_dir: str | None = None,
                     max_files_per_batch: int = 32,
                     regrid: tuple[int, int] | None = None,
                     regrid_resampling: str | dict = "nearest",
                     max_isin_cells: int = 4096):
    """Stream scenes → masked per-cell composites, correct under ANY
    micro-batch split.

    A cell's scenes can land in different micro-batches (file
    boundaries don't respect cells), and order-sensitive reducers
    (median/medoid) can't fold in increments. So each batch:

    1. appends its raw scenes to a ``scenes`` snapshot table
       (per-cell lineage);
    2. recomputes composites for the batch's AFFECTED cells only,
       from the full scene history of those cells (semi-join — at
       scale, dynamic partition pruning limits the history read);
    3. upserts them into the composite table —
       :meth:`SnapshotTable.read` supersedes older snapshots per
       partition, so the final state equals a single batch run
       regardless of how files were micro-batched.

    Returns the StreamingQuery (caller awaits/stops);
    ``trigger(availableNow=True)`` gives drain-and-stop semantics.
    """
    process_batch = make_batch_processor(spark, table_dir, reducer,
                                         cell_res, mask_values, regrid,
                                         regrid_resampling, max_isin_cells)
    stream = read_scene_stream(spark, input_dir, max_files_per_batch)
    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation",
                      checkpoint_dir or table_dir + "/_stream_checkpoint")
              .trigger(availableNow=True))
    return writer.start()


def make_batch_processor(spark: SparkSession, table_dir: str,
                         reducer: str = "median",
                         cell_res: int = datagen.TILE_RES,
                         mask_values=None,
                         regrid: tuple[int, int] | None = None,
                         regrid_resampling: str | dict = "nearest",
                         max_isin_cells: int = 4096):
    """The foreachBatch body of :func:`composite_stream`, exposed so
    the at-least-once replay path (crash between the scenes commit and
    the composite commit) is directly testable.

    ``regrid=(out_w, out_h)`` switches the per-batch recompute to the
    GENERAL warp (:func:`vrtility_spark.warp.regrid_to_cells`): the
    scenes snapshot stores one row per (scene, COVER cell) partitioned
    by the cover cell, so a batch's history re-read is a
    partition-pruned scan of exactly the affected cells
    (:func:`regrid_history`) — no re-derivation of ``cells_cover``
    over all history — and tiles regrid per stored cover row
    (``precelled``, masks fused) before compositing."""
    import os as _os

    from vrtility_spark.masks import make_scene_maskfun
    from vrtility_spark.warp import cells_cover, regrid_to_cells
    tbl = SnapshotTable(table_dir)
    scenes_tbl = SnapshotTable(_os.path.join(table_dir, "scenes"))
    vals = datagen.S2_MASK_VALUES if mask_values is None else mask_values

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch is at-least-once: a crash between the scenes
        # commit and the stream checkpoint replays the batch. The batch
        # id is committed as an idempotency tag — a replayed batch
        # skips ONLY the scenes append (the non-idempotent step); the
        # composite recompute + upsert always runs, because a crash
        # between the scenes commit and the composite commit would
        # otherwise leave the replayed batch's cells stale forever.
        # The upsert itself is idempotent (newest snapshot wins per
        # cell), so re-running it on replay is safe.
        if regrid is None:
            celled_new = assign_cells(batch_df, cell_res)
            if str(batch_id) not in scenes_tbl.tags():
                scenes_tbl.commit(celled_new, "cell_id", tag=str(batch_id))
            affected = celled_new.select("cell_id").distinct()
            history = scenes_tbl.read(spark) \
                .join(affected, "cell_id", "left_semi")
            masked = vrt_set_maskfun(history, "int", vals)
            tbl.commit(composite(masked, reducer), "cell_id", upsert=True)
            return
        # general-warp path: the scenes log is COVER-EXPLODED (one row
        # per scene x covered cell, partitioned by that cell), so
        # "every scene overlapping the affected cells" is a pruned
        # scan of the affected partitions — bytes read scale with the
        # batch's footprint, not with history size
        celled_new = cells_cover(batch_df, cell_res, out_col="cell_id")
        if str(batch_id) not in scenes_tbl.tags():
            scenes_tbl.commit(celled_new, "cell_id", tag=str(batch_id))
        affected = celled_new.select("cell_id").distinct()
        # bounded driver-side cell list: limit(cap+1) returns ALL ids
        # when the cover set fits the cap (the common, batch-bounded
        # case — a pruned isin scan); a pathological batch covering
        # more cells than the cap routes through a broadcast semi-join
        # instead of building a multi-million-literal driver list
        sample = affected.limit(max_isin_cells + 1).collect()
        if len(sample) <= max_isin_cells:
            relevant = regrid_history(spark, scenes_tbl,
                                      [r.cell_id for r in sample])
        else:
            relevant = regrid_history(spark, scenes_tbl, affected)
        # regrid_resampling defaults to 'nearest' (deterministic under
        # replay); pass the batch pipeline's choice (e.g. 'bilinear')
        # to keep streamed == batch for a bilinear batch run
        tiles = regrid_to_cells(relevant, cell_res, *regrid,
                                resampling=regrid_resampling,
                                scene_fn=make_scene_maskfun("int", vals),
                                precelled=True)
        tbl.commit(composite(tiles, reducer), "cell_id", upsert=True)

    return process_batch


def regrid_history(spark: SparkSession, scenes_tbl: SnapshotTable,
                   affected) -> DataFrame:
    """Scan-pruned history read for the regrid streaming path: the
    scenes snapshot stores one row per (scene, cover cell) PARTITIONED
    BY the cover cell, so re-reading the history relevant to a batch is
    `cell_id IN (affected)` — a PartitionFilters-pruned scan whose
    bytes scale with the batch's cover set, not with total history
    (plan-pinned in tests/test_streaming.py).

    ``affected`` is either a driver-side id list (the common case —
    static partition pruning) or a ``cell_id`` DataFrame for cover sets
    past the isin cap — a broadcast LEFT SEMI join, which Spark's
    dynamic partition pruning can still push to the partitioned scan."""
    from pyspark.sql import functions as SF
    hist = scenes_tbl.read(spark)
    if isinstance(affected, DataFrame):
        return hist.join(SF.broadcast(affected.select("cell_id").distinct()),
                         "cell_id", "left_semi")
    return hist.where(
        SF.col("cell_id").isin([int(c) for c in affected]))
