"""Overview pyramids — multi-resolution tile levels, built distributed.

The reference ships its results as COGs whose embedded overview levels
GDAL builds at write time (``COPY_SRC_OVERVIEWS`` plumbing,
/root/reference/R/gdal-options.R:124-146; the COG driver runs gdaladdo
internally).  On one machine that is an afterthought; at 100 TB the
pyramid IS a distributed computation — level ``l`` holds ``4^-l`` of
the base data and must be reduced level-by-level, never gathered.

Spark-first plan (one shuffle per level, geometrically shrinking):

    level l+1 = tiles(level l)
                  .groupBy(parent_col(cell_id, 1))
                  .applyInPandas(assemble 2x2 children -> (B, 2h, 2w)
                                 canvas -> factor-2 block reduce -> (B, h, w))

Every level is a REAL cell table at ``res - l`` — the same pixel grid
contract as :func:`composite.composite` output — so every cell-keyed
operator (focal filters, kNN, spatial joins, further composites) works
on any level unchanged.  Total pyramid cost is a geometric series:
``sum_l 4^-l < 4/3`` of one pass over the base level, and each level's
shuffle moves only the PREVIOUS level's bytes.  Missing children leave
NaN holes that ``average``/``min``/``max``/``mode`` simply skip (the
GDAL ``-ro`` average-over-valid semantics), so sparse oceans cost
nothing.

Pixel-grid convention matches :func:`composite.split_to_child_cells` /
``assemble_child_tiles``: pixel row 0 is the ymin edge, child (dx, dy)
= (ix % 2, iy % 2) occupies canvas block [dy*h:(dy+1)*h, dx*w:(dx+1)*w].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vrtility_spark import cells, codec, composite

OVERVIEW_METHODS = ("average", "nearest", "min", "max", "mode")


# ------------------------------------------------------ NumPy kernels ----

def _block_view(A: np.ndarray) -> np.ndarray:
    """(B, 2H, 2W) -> (B, H, W, 4): the four samples of each 2x2 block."""
    B, H2, W2 = A.shape
    return (A.reshape(B, H2 // 2, 2, W2 // 2, 2)
            .transpose(0, 1, 3, 2, 4).reshape(B, H2 // 2, W2 // 2, 4))


def _mode4(S: np.ndarray) -> np.ndarray:
    """Mode of each length-4 sample vector (NaN = missing): the most
    frequent finite value, ties broken toward the SMALLEST value
    (deterministic, engine-independent); all-NaN -> NaN.  Used for
    class planes (SCL/Fmask/QA) where averaging codes is meaningless —
    the categorical twin of warp's class-plane nearest rule
    (warp.CLASS_BAND_NAMES)."""
    V = np.sort(S, axis=-1)  # NaNs sort to the end; values ascending
    # count occurrences of each sorted sample among the four
    eq = (V[..., :, None] == V[..., None, :])
    counts = eq.sum(axis=-1)
    counts = np.where(np.isnan(V), -1, counts)  # NaN never wins
    # argmax returns the FIRST maximal index = smallest value on ties
    idx = counts.argmax(axis=-1)
    out = np.take_along_axis(V, idx[..., None], axis=-1)[..., 0]
    out[np.isnan(V).all(axis=-1)] = np.nan
    return out


def downsample2_np(A: np.ndarray, method) -> np.ndarray:
    """Factor-2 block reduce of a NaN-masked ``(B, 2H, 2W)`` float array
    to ``(B, H, W)``.  ``method`` is one name from
    :data:`OVERVIEW_METHODS` applied to every plane, or a length-B list
    of names (per-plane — e.g. ``["average", ..., "mode"]`` to keep the
    trailing class plane categorical).

    NaN-aware: a block reduces over its valid samples only; an all-NaN
    block stays NaN (``nearest`` picks the block's (row 0, col 0)
    sample even if other samples are valid — it is a positional pick,
    exactly GDAL's nearest)."""
    B, H2, W2 = A.shape
    if H2 % 2 or W2 % 2:
        raise ValueError(f"downsample2_np: {H2}x{W2} is not even-sized")
    if isinstance(method, str):
        methods = [method] * B
    else:
        methods = list(method)
        if len(methods) != B:
            raise ValueError(
                f"downsample2_np: {len(methods)} methods for {B} planes")
    for m in methods:
        if m not in OVERVIEW_METHODS:
            raise KeyError(
                f"unknown overview method {m!r}; known: {OVERVIEW_METHODS}")
    out = np.empty((B, H2 // 2, W2 // 2), dtype=np.float64)
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN blocks
        for b, m in enumerate(methods):
            if m == "nearest":
                out[b] = A[b, ::2, ::2]
                continue
            S = _block_view(A[b:b + 1])[0]  # (H, W, 4)
            if m == "average":
                out[b] = np.nanmean(S, axis=-1)
            elif m == "min":
                out[b] = np.nanmin(S, axis=-1)
            elif m == "max":
                out[b] = np.nanmax(S, axis=-1)
            else:  # mode
                out[b] = _mode4(S)
    return out


# ------------------------------------------------- distributed driver ----

_REQUIRED = ("bytes", "w", "h", "fmt", "nodata")


def build_level(df: DataFrame, method="average",
                key: str = "cell_id") -> DataFrame:
    """One overview level up: reduce every 2x2 block of sibling tiles at
    res ``r`` to their parent tile at res ``r - 1`` (same pixel
    dimensions, half the ground resolution).

    Input: any one-row-per-cell tile table (composite output, a
    previous overview level).  Output schema == input schema with
    ``cell_id`` replaced by the parent id; pass-through metadata comes
    from the representative child (most ``n_scenes``, lowest cell id on
    ties — the :func:`composite.assemble_child_tiles` rule), except:

    * ``n_scenes`` (if present) SUMS over children — the count of
      scenes contributing anywhere under this overview tile;
    * bbox columns (``xmin``/``ymin``/``xmax``/``ymax``, if present)
      take the children's envelope.

    One shuffle, keyed by the parent cell — group memory is bounded by
    4 child tiles + 1 canvas regardless of data volume.
    """
    names = [f.name for f in df.schema.fields]
    for req in (key,) + _REQUIRED:
        if req not in names:
            raise ValueError(f"build_level input is missing column {req!r}")
    if isinstance(method, str) and method not in OVERVIEW_METHODS:
        raise KeyError(
            f"unknown overview method {method!r}; known: {OVERVIEW_METHODS}")
    mk = method if isinstance(method, str) else list(method)
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema.fields])
    has_scenes = "n_scenes" in names
    bbox = [c for c in ("xmin", "ymin", "xmax", "ymax") if c in names]

    def reduce_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > 4 or pdf[key].nunique() != len(pdf):
            raise ValueError(
                f"build_level: parent group holds {len(pdf)} rows over "
                f"{pdf[key].nunique()} cells; input must be one row per "
                "cell — composite first")
        # sibling profile agreement (the cell-stack rule): tiles at one
        # res share the pixel grid, and every tile in the 2x2 group is
        # decoded with the FIRST child's sentinel while the output
        # row's passthrough metadata comes from a possibly different
        # representative child — disagreeing sentinels would silently
        # mis-mask instead of erroring
        composite._check_profile(pdf, key, "sibling tiles")
        first = pdf.iloc[0]
        w, h, fmt = int(first.w), int(first.h), first.fmt
        zone, res, _, _ = (int(v) for v in
                           cells.decode_np(int(first[key])))
        if res < 1:
            raise ValueError(
                "build_level: tiles are at res 0 — no coarser level exists")
        canvas = None
        nd = None
        nb = None
        for row in pdf.itertuples(index=False):
            arr = codec.decode(row.bytes, w, h, fmt)
            if canvas is None:
                nb = len(arr)
                nd = codec.row_band_meta(row, nb, "band_nodata",
                                         codec.nodata_scalar(row.nodata))
                canvas = np.full((nb, 2 * h, 2 * w), np.nan,
                                 dtype=np.float64)
            elif len(arr) != nb:
                raise ValueError(
                    f"build_level: sibling tile has {len(arr)} bands, "
                    f"first has {nb}; normalize band layout first")
            _, _, ix, iy = (int(v) for v in
                            cells.decode_np(int(getattr(row, key))))
            dy, dx = iy % 2, ix % 2
            canvas[:, dy * h:(dy + 1) * h, dx * w:(dx + 1) * w] = (
                codec.to_float_masked(arr, nd))
        out = downsample2_np(canvas, mk)
        payload = codec.from_float(out, nd, codec.dtype_for(fmt))
        order = (pdf.sort_values(["n_scenes", key],
                                 ascending=[False, True])
                 if has_scenes else pdf.sort_values(key))
        pick = order.iloc[0]
        res_row = {n: pick[n] for n in names}
        _, _, ix0, iy0 = (int(v) for v in cells.decode_np(int(first[key])))
        res_row[key] = int(cells.encode_np(zone, res - 1, ix0 // 2,
                                           iy0 // 2))
        res_row["bytes"] = codec.encode(payload, fmt)
        if has_scenes:
            res_row["n_scenes"] = int(pdf.n_scenes.sum())
        for c in bbox:
            res_row[c] = (float(pdf[c].min()) if c in ("xmin", "ymin")
                          else float(pdf[c].max()))
        return pd.DataFrame([res_row], columns=names)

    return (df.groupBy(cells.parent_col(F.col(key), 1).alias("_parent"))
            .applyInPandas(reduce_block, schema=out_schema))


def build_pyramid(df: DataFrame, levels: int, method="average",
                  key: str = "cell_id",
                  include_base: bool = True) -> DataFrame:
    """The full pyramid as ONE table with a ``level`` column (0 = the
    input resolution, ``l`` = ``2^l``x coarser).  Level ``l`` is built
    from level ``l - 1`` — each step shuffles 4x fewer bytes than the
    last, so the whole pyramid costs < 4/3 of one base pass.

    ``include_base=False`` returns only levels 1..``levels`` (the
    overview-file shape); either way the per-level tile tables are
    plain cell tables usable by every other operator.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    cur = df
    out = df.withColumn("level", F.lit(0)) if include_base else None
    for lvl in range(1, int(levels) + 1):
        cur = build_level(cur, method=method, key=key)
        tagged = cur.withColumn("level", F.lit(lvl))
        out = tagged if out is None else out.unionByName(tagged)
    return out
