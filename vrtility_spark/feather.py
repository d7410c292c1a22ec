"""Feathered (seamline-blended) mosaics — distance-weighted scene
blending, the standard cure for visible seams where adjacent scenes
meet (gdalwarp's cutline blending / gdal_merge feathering family).

A plain mosaic/mean composite switches abruptly from one scene's
radiometry to the next at footprint boundaries; feathering blends
overlapping observations with weights that fall to ~0 at each scene's
own edge, so every seam becomes a ``cap_px``-wide linear ramp:

``out = Σ_t w_t·y_t / Σ_t w_t``  with
``w_t = clip(dist_to_scene_t_footprint_edge_in_output_px, 0.25, cap_px)``

The distance is ANALYTIC: scenes in this engine are axis-aligned
rectangles (the collection bbox model the reference shares,
R/vrt-warp.R target-grid geometry), so distance-to-edge is a closed
form over the pixel-center coordinates — no EDT raster pass, no halo
exchange, and a scene's true edge stays its edge even when the scene
straddles many cells (the footprint is snapshotted BEFORE the regrid
explode rewrites bbox columns to the cell box).  The 0.25-px floor
guarantees every valid observation keeps nonzero weight, so the blend
is defined wherever ANY scene has data (no separate fallback branch),
and interior pixels of fully-covering scenes all sit at ``cap_px``
(equal weights → plain mean, zero radiometric bias away from seams).
Masked (cloud) pixels carry no weight — holes inside a scene fall
back to whatever other scenes see there.

Spark-first shape: footprint snapshot (4 literal columns) →
:func:`warp.regrid_to_cells` (expression-only cover explode + narrow
Arrow map, no shuffle) → ONE cell-keyed grouped blend (the composite
shuffle).  Identical cost profile to ``regrid + composite``: the
weights are recomputed per (cell, scene) from six scalars instead of
shipping a weight plane through the shuffle.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrtility_spark import codec
from vrtility_spark.composite import (
    CAPTION_CAP, COMPOSITE_SCHEMA, MAX_STACK_BYTES, _caption_agg,
    _empty_frame, _median_datetime, cell_stack)

#: minimum weight for a valid pixel (output-pixel units): keeps every
#: valid observation in the blend even exactly on a footprint edge
W_FLOOR = 0.25


def feather_weights_np(cell_x0: float, cell_y0: float, size: float,
                       w: int, h: int, fp_bbox, cap_px: float
                       ) -> np.ndarray:
    """Analytic feather weights on a cell's ``(h, w)`` output grid for
    a scene with footprint ``fp_bbox = (xmin, ymin, xmax, ymax)`` in
    map units: distance from each pixel CENTER to the nearest
    footprint edge, in output pixels, clipped to ``[W_FLOOR, cap_px]``
    (symmetric in y, so row orientation is irrelevant)."""
    fxmin, fymin, fxmax, fymax = (float(v) for v in fp_bbox)
    px = size / w
    py = size / h
    xs = cell_x0 + (np.arange(w) + 0.5) * px
    ys = cell_y0 + (np.arange(h) + 0.5) * py
    dx = np.minimum(xs - fxmin, fxmax - xs) / px
    dy = np.minimum(ys - fymin, fymax - ys) / py
    d = np.minimum(dx[None, :], dy[:, None])
    return np.clip(d, W_FLOOR, float(cap_px))


def feather_blend_np(stack: np.ndarray, wts: np.ndarray) -> np.ndarray:
    """Weighted blend of a NaN-masked ``(T, B, H, W)`` stack with
    per-scene weight planes ``(T, H, W)`` → ``(B, H, W)``; NaN where
    no scene contributes a valid pixel."""
    if wts.shape != (stack.shape[0],) + stack.shape[2:]:
        raise ValueError(f"weights {wts.shape} do not match stack "
                         f"{stack.shape}")
    V = np.isfinite(stack)
    W = wts[:, None] * V
    num = (W * np.where(V, stack, 0.0)).sum(axis=0)
    den = W.sum(axis=0)
    with np.errstate(invalid="ignore"):
        out = np.divide(num, den, out=np.full_like(num, np.nan),
                        where=den > 0)
    return out


# no leading underscore: itertuples() would rename such columns
_FP_COLS = ("fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax")


def feather_mosaic(scenes: DataFrame, res: int, out_w: int,
                   out_h: int | None = None, cap_px: float = 8.0,
                   resampling: str | dict = "bilinear",
                   scene_fn=None, mask_plane: bool = True,
                   key: str = "cell_id",
                   caption_cap: int = CAPTION_CAP,
                   max_stack_bytes: int | None = MAX_STACK_BYTES
                   ) -> DataFrame:
    """Scenes with arbitrary rectangular footprints → one feathered
    composite tile per covering cell (COMPOSITE_SCHEMA — chains
    anywhere a composite does, values re-encoded in the input
    format). Each cell's tiles are read through
    :func:`composite.cell_stack` (its group rules apply)."""
    from vrtility_spark.cells import cell_size
    from vrtility_spark.warp import regrid_to_cells
    if cap_px < W_FLOOR:
        raise ValueError(f"cap_px must be >= {W_FLOOR}, got {cap_px}")
    out_h = out_w if out_h is None else out_h
    size = cell_size(res)
    snap = scenes
    for c, src in zip(_FP_COLS, ("xmin", "ymin", "xmax", "ymax")):
        snap = snap.withColumn(c, F.col(src).cast("double"))
    tiles = regrid_to_cells(snap, res, out_w, out_h,
                            resampling=resampling,
                            mask_plane=mask_plane, scene_fn=scene_fn)

    def blend(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, stack, nd = cell_stack(pdf, key,
                                    max_stack_bytes=max_stack_bytes)
        if stack is None:
            return _empty_frame(COMPOSITE_SCHEMA)
        first = pdf.iloc[0]
        w, h, fmt = int(first.w), int(first.h), first.fmt
        # the regrid stage rewrote xmin/ymin to the CELL origin
        cx0, cy0 = float(first.xmin), float(first.ymin)
        wts = np.stack([feather_weights_np(
            cx0, cy0, size, w, h,
            (r.fp_xmin, r.fp_ymin, r.fp_xmax, r.fp_ymax), cap_px)
            for r in pdf.itertuples(index=False)])
        out = feather_blend_np(stack, wts)
        return pd.DataFrame([{
            "cell_id": int(first[key]),
            "bytes": codec.encode(
                codec.from_float(out, nd, codec.dtype_for(fmt)), fmt),
            "w": w, "h": h, "fmt": fmt, "n_scenes": len(pdf),
            "datetime_median": _median_datetime(pdf["datetime"]),
            "nodata": float(first.nodata),
            "band_nodata": None if np.isscalar(nd) else list(nd),
            "caption_agg": _caption_agg(pdf.caption.tolist(), len(pdf),
                                        caption_cap),
        }])

    return tiles.groupBy(key).applyInPandas(blend,
                                            schema=COMPOSITE_SCHEMA)
