#!/usr/bin/env python
"""Generate ``_oracle_constants.py``: DuckDB constants-table oracles for
the image payload driver queries (composites, hampel, terrain,
hydrology, ...), computed WITHOUT Spark.

The pixel kernels have no SQL twin, so these queries pin against
VALUES tables instead: expected rows are derived here from the
deterministic ``datagen`` fixtures (fixed seeds, sf-independent) through the NumPy kernels — the same kernels whose
correctness is independently loop-oracle-gated in ``tests/`` (e.g.
``oracle.composite_stack``, hypothesis properties for hampel). The
constants therefore verify the DISTRIBUTED plumbing — grouping, scene
ordering, codec round-trips, caption passthrough, schema — byte-for-
byte, while kernel math stays pytest-verified.

Regenerate after any intentional fixture/kernel change:

    python tools/gen_oracle_constants.py
"""

from __future__ import annotations

import hashlib
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vrtility_spark import (  # noqa: E402
    cells, codec, composite, datagen, masks, timeseries,
)

CAP = composite.CAPTION_CAP


def _round_half_up(x: float, n: int) -> float:
    # Spark's F.round is BigDecimal HALF_UP on the double's shortest
    # decimal repr — mirror that, not numpy's half-even
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP))


def _grouped_fixture(profile: str = "s2"):
    pdf = datagen.images_pandas(profile=profile, nx=2, ny=2, w=16, h=16)
    cx = (pdf.xmin + pdf.xmax) / 2
    cy = (pdf.ymin + pdf.ymax) / 2
    pdf = pdf.assign(cell_id=cells.xy_to_cell_np(
        pdf.zone.values, cx.values, cy.values, datagen.TILE_RES))
    return pdf


def _masked_stack(grp, nd, maskfun: str = "int"):
    vals = (datagen.S2_MASK_VALUES if maskfun == "int"
            else datagen.HLS_MASK_BITS)
    stack = []
    for r in grp.itertuples(index=False):
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        m01 = (masks.build_intmask_np(arr[-1], vals) if maskfun == "int"
               else masks.build_bitmask_np(arr[-1], vals))
        data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
        full = np.concatenate([data, arr[-1:]])
        stack.append(codec.to_float_masked(full, nd).astype(np.float32))
    return np.stack(stack)


def _caption_agg(caps):
    caps = sorted(caps)
    if len(caps) > CAP:
        return "|".join(caps[:CAP]) + f"|+{len(caps) - CAP} more"
    return "|".join(caps)


def image_composite_rows(reducer: str):
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS[reducer](_masked_stack(grp, nd))
        payload = codec.encode(codec.from_float(out, nd, "uint16"), "raw16")
        dts = grp.datetime.sort_values().reset_index(drop=True)
        med_dt = dts.iloc[len(dts) // 2]  # odd count in this fixture
        agg = _caption_agg(grp.caption.tolist())
        row = {
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        }
        if reducer == "median":
            row["dt_med"] = f"{med_dt:%Y-%m-%d}"
        rows.append(row)
    return rows


def image_remedian_rows(batch=3):
    """Remedian cascade replicated Spark-free: scenes per cell in the
    SAME deterministic (datetime, image_id) order the engine sorts,
    masked f64, driven through the same cascade accumulator (whose
    kernel math is independently gated by the expansion-oracle and
    exact-regime tests in tests/test_remedian.py), f32 cast, uint16
    round trip."""
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values(["datetime", "image_id"], kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        first = next(grp.itertuples(index=False))
        acc = composite._RemedianAcc(batch, first, composite.CAPTION_CAP)
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            acc.add(codec.to_float_masked(full, nd), r.datetime, r.caption)
        with np.errstate(all="ignore"):
            out = acc.result().astype(np.float32)
        payload = codec.encode(codec.from_float(out, nd, "uint16"),
                               "raw16")
        agg = _caption_agg(grp.caption.tolist())
        rows.append({
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_std_rows():
    """Temporal std composite replicated Spark-free through the
    incremental path's exact arithmetic: f64 stack (u16 values are
    exact in f32, so the cast back is lossless) → one-pass
    (n, Σy, Σy²) std — order-independent exact sums — → f32 cast
    (compute_dtype honored at the incremental output) → uint16."""
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            out = composite.REDUCERS["std"](
                _masked_stack(grp, nd).astype(np.float64))
        payload = codec.encode(
            codec.from_float(out.astype(np.float32), nd, "uint16"),
            "raw16")
        agg = _caption_agg(grp.caption.tolist())
        rows.append({
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_budget_rows():
    """Hot-cell fixture for the per-cell budget router: the scenes of
    the MINIMUM cell are duplicated (10 scenes vs 5 elsewhere), so
    under a 30 kB float32 budget exactly that cell splits (k=1) while
    every other cell runs unsplit — expected rows are the plain
    per-cell medians of the duplicated fixture (duplicating every
    member of a multiset leaves its median unchanged; n_scenes and the
    caption rollup do change)."""
    import pandas as pd
    pdf = _grouped_fixture()
    hot = int(pdf.cell_id.min())
    dups = pdf[pdf.cell_id == hot].copy()
    dups["image_id"] = dups.image_id + "_dup"
    pdf = pd.concat([pdf, dups], ignore_index=True)
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        payload = codec.encode(codec.from_float(out, nd, "uint16"), "raw16")
        dts = grp.datetime.sort_values().reset_index(drop=True)
        n_dt = len(dts)
        if n_dt % 2 == 1:
            med_dt = dts.iloc[n_dt // 2]
        else:  # duplicated-cell even count: interpolate (equal middles)
            lo, hi = dts.iloc[n_dt // 2 - 1], dts.iloc[n_dt // 2]
            med_dt = lo + (hi - lo) / 2
        agg = _caption_agg(grp.caption.tolist())
        rows.append({
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "dt_med": f"{med_dt:%Y-%m-%d}",
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_focal_rows():
    """Masked median composite → focal mean (radius 1, mask-preserving)
    replicated without Spark: per-zone 2x2 tile mosaics are assembled
    into one array, reduced with focal.focal_np (whose kernel math is
    loop-oracle-gated in tests/test_focal.py), and cropped back to
    tiles — so the constants pin the HALO EXCHANGE (edge strips crossing
    tile boundaries through the shuffle) byte-for-byte."""
    from vrtility_spark import focal

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    r = 1
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2 * r, gx * w + 2 * r), np.nan)
        P[:, r:-r, r:-r] = G
        out = focal.focal_np(P, "mean", r)
        out = np.where(np.isnan(G), np.nan, out)  # fill=False
        for cid, ix, iy in lst:
            tile = out[:, (iy - y0) * h:(iy - y0 + 1) * h,
                       (ix - x0) * w:(ix - x0 + 1) * w]
            nd, n_scenes, agg = meta[cid]
            payload = codec.encode(codec.from_float(tile, nd, "uint16"),
                                   "raw16")
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_morphology_rows():
    """Masked median composite → morphological OPEN (radius 1, square
    element, mask-preserving) replicated without Spark: per-zone 2x2
    tile mosaics are assembled into one array, padded by the fused
    ``2r`` halo, reduced with morphology.morph_np (kernel math
    loop-oracle-gated in tests/test_morphology.py), and cropped back to
    tiles — pinning the single fused erode→dilate halo exchange
    byte-for-byte."""
    from vrtility_spark import morphology

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    r = 1
    pad = morphology.pad_for("open", r)
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2 * pad, gx * w + 2 * pad), np.nan)
        P[:, pad:-pad, pad:-pad] = G
        out = morphology.morph_np(P, "open", r, "square")
        out = np.where(np.isnan(G), np.nan, out)  # fill=False
        for cid, ix, iy in lst:
            tile = out[:, (iy - y0) * h:(iy - y0 + 1) * h,
                       (ix - x0) * w:(ix - x0 + 1) * w]
            nd, n_scenes, agg = meta[cid]
            payload = codec.encode(codec.from_float(tile, nd, "uint16"),
                                   "raw16")
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_overview_rows():
    """Masked median composite → 1-level overview pyramid replicated
    without Spark: per-cell median tiles (level 0) plus, per zone, the
    2x2 children assembled and factor-2 block-reduced with
    overviews.downsample2_np (loop-oracle-gated in tests/
    test_overviews.py) — average for data bands, mode for the SCL
    class plane.  Pins the parent-keyed level shuffle: n_scenes SUMS
    over children, caption passes through from the representative
    child (most scenes, lowest cell id on ties)."""
    from vrtility_spark import overviews

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
        payload = codec.encode(tiles[int(cell_id)], "raw16")
        rows.append({
            "level": 0, "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(
                meta[int(cell_id)][2].encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    for zone, lst in sorted(by_zone.items()):
        nd = meta[lst[0][0]][0]
        nb = tiles[lst[0][0]].shape[0]
        canvas = np.full((nb, 2 * h, 2 * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], nd)
            dy, dx = iy % 2, ix % 2
            canvas[:, dy * h:(dy + 1) * h, dx * w:(dx + 1) * w] = A
        method = ["average"] * (nb - 1) + ["mode"]
        out = overviews.downsample2_np(canvas, method)
        payload = codec.encode(codec.from_float(out, nd, "uint16"),
                               "raw16")
        pick = sorted(lst, key=lambda t: (-meta[t[0]][1], t[0]))[0]
        _, res, ix0, iy0 = (int(v) for v in cells.decode_np(lst[0][0]))
        parent = int(cells.encode_np(zone, res - 1, ix0 // 2, iy0 // 2))
        rows.append({
            "level": 1, "cell_id": parent,
            "n_scenes": sum(meta[c][1] for c, _, _ in lst),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(
                meta[pick[0]][2].encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return sorted(rows, key=lambda d: (d["level"], d["cell_id"]))


def image_hillshade_rows(md: bool = False):
    """Masked median composite → hillshade (Horn 3x3, sun at 315/45;
    ``md=True`` → the multidirectional Mark-1992 blend)
    replicated without Spark: per-zone mosaics assembled, padded,
    reduced with terrain.hillshade_np (kernels loop-/closed-form-gated
    in tests/test_terrain.py), cropped back to tiles and run through
    the exact rawf32/-9999 encode round-trip — pinning the halo
    exchange AND the float payload re-typing byte-for-byte.  The
    checksum is sum(round(v, 3)) over valid pixels in float64 (order-
    stable: identical element order both sides) plus the -9999 count."""
    from vrtility_spark import terrain

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2, gx * w + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        hs = (terrain.hillshade_md_np(P, sx, sy) if md
              else terrain.hillshade_np(P, sx, sy))
        for cid, ix, iy in lst:
            tile = hs[:, (iy - y0) * h:(iy - y0 + 1) * h,
                      (ix - x0) * w:(ix - x0 + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            nd_, n_scenes, agg = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                # raw f64 sum of identically-ordered rounded values:
                # bitwise deterministic, no final rounding needed
                "hs_sum": float(np.round(valid, 3).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_texture_rows(metric="contrast", radius=1, levels=8,
                       lo=0.0, hi=8000.0):
    """Masked median composite → GLCM texture (Haralick metric over
    the symmetric 4-direction co-occurrence matrix, radius-1 window,
    8 levels on [0, 8000)) replicated without Spark: per-zone mosaics
    assembled, padded by radius + offset reach, reduced with
    texture.glcm_np (kernel Counter-oracle-gated in
    tests/test_texture.py), masked back to the input footprint
    (fill=False), cropped to tiles and run through the exact
    rawf32/-9999 encode round-trip — pinning the widened halo
    exchange byte-for-byte."""
    from vrtility_spark import texture

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    reach = int(radius) + 1          # offset reach 1 for OFFSETS_4
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2 * reach, gx * w + 2 * reach), np.nan)
        P[:, reach:-reach, reach:-reach] = G
        tx = texture.glcm_np(P, radius, levels, lo, hi, metric)
        tx = np.where(np.isnan(G), np.nan, tx)  # fill=False footprint
        for cid, ix, iy in lst:
            tile = tx[:, (iy - y0) * h:(iy - y0 + 1) * h,
                      (ix - x0) * w:(ix - x0 + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            nd_, n_scenes, agg = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "tx_sum": float(np.round(valid, 3).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def semantic_dedup_rows(k=3, tau=0.9995, n_dups=6, iters=15, seed=0):
    """SemDeDup replayed Spark-free with cluster.py's own kernels:
    md5-hash-ranked training sample (the fit_kmeans_vectors order),
    deterministic Lloyd, FOLD-ORDER assignment / cosine twins of the
    distributed expression math (cluster.assign_fold_np / fold_dot_np
    — F.aggregate folds sequentially, np.sum is pairwise), union-find
    keep-min-id — pinning the whole fit/assign/pair/CC pipeline."""
    import hashlib as _hl
    from vrtility_spark import cluster

    pdf = datagen.embeddings_pandas(n=240, d=12, n_clusters=3, seed=7)
    recs = pdf[["doc_id", "embedding"]].to_dict("records")
    for i in range(n_dups):
        recs.append({"doc_id": 240 + i,
                     "embedding": list(recs[i]["embedding"])})
    ids = np.array([r["doc_id"] for r in recs], dtype=np.int64)
    X = np.asarray([r["embedding"] for r in recs], dtype=np.float64)

    # fit sample: md5("seed:doc_id")[:8 hex] rank, (rank, id) order
    ranks = np.array([int(_hl.md5(f"{seed}:{i}".encode())
                          .hexdigest()[:8], 16) for i in ids])
    order = np.lexsort((ids, ranks))
    C = cluster.train_kmeans_np(X[order], k, iters=iters, seed=seed)

    lab = cluster.assign_fold_np(X, C)
    norms = np.array([cluster.fold_norm_np(v) for v in X])
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n = len(ids)
    for a in range(n):
        for b in range(a + 1, n):
            if lab[a] != lab[b]:
                continue
            den = norms[a] * norms[b]
            if den <= 0:
                continue
            if cluster.fold_dot_np(X[a], X[b]) / den >= tau:
                ra, rb = find(int(ids[a])), find(int(ids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    losers = {i for i in parent if find(i) != i}
    return [{"doc_id": int(i), "cluster": int(lab[j])}
            for j, i in enumerate(ids) if int(i) not in losers]


def image_kmeans_rows(k=4, n_per_tile=64, iters=10, seed=0):
    """Masked median composite → unsupervised k-means classification
    replicated without Spark via cluster.py's OWN kernels (sampling,
    Lloyd, assignment — each loop-/property-gated in
    tests/test_cluster.py): sample every composite tile in
    (cell_id, draw) order exactly as cluster.sample_pixels sorts its
    collected rows, train the deterministic codebook, classify each
    tile — pinning the broadcast-assign plumbing byte-for-byte.
    uint16 features make Lloyd's sums exact, so the fit is
    partitioning-invariant by construction."""
    from vrtility_spark import cluster

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    samp = []
    for cid in sorted(tiles):
        A = codec.to_float_masked(tiles[cid], meta[cid][0])
        samp.append(cluster.sample_tile_np(A, cid, n_per_tile, seed))
    X = np.concatenate(samp)
    C = cluster.train_kmeans_np(X, k, iters=iters, seed=seed)
    rows = []
    for cid in sorted(tiles):
        A = codec.to_float_masked(tiles[cid], meta[cid][0])
        payload = codec.encode(cluster.classify_tile_np(A, C), "raw16")
        nd_, n_scenes, agg = meta[cid]
        rows.append({
            "cell_id": cid, "n_scenes": n_scenes,
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_topocorrect_rows(azimuth=135.0, altitude=50.0, c=0.5):
    """Masked median composite → topographic C-correction replicated
    without Spark: band 0 of each per-zone mosaic plays the DEM,
    illumination (cos i) computed with terrain.illumination_np over
    the padded mosaic (the same halo-exchange pinning as hillshade),
    ROUND-TRIPPED through the rawf32/-9999 encode exactly as the
    distributed illum table is, then Teillet's ρ·(cosθz+c)/(cos i+c)
    (kernel closed-form-gated in tests/test_algebra.py) through the
    final rawf32 re-typing."""
    from vrtility_spark import terrain

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    cosz = float(np.sin(np.radians(altitude)))
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        G = np.full((1, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A[:1]
        P = np.full((1, gy * h + 2, gx * w + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        il = terrain.illumination_np(P, sx, sy, azimuth=azimuth,
                                     altitude=altitude)
        for cid, ix, iy in lst:
            il_tile = il[:, (iy - y0) * h:(iy - y0 + 1) * h,
                         (ix - x0) * w:(ix - x0 + 1) * w]
            # the distributed illum table is a rawf32/-9999 payload:
            # replicate that round trip before the correction
            il_rt = codec.to_float_masked(
                codec.decode(codec.encode(
                    codec.from_float(il_tile, -9999.0, "float32"),
                    "rawf32"), w, h, "rawf32"), -9999.0)
            nd_, n_scenes, agg = meta[cid]
            A = codec.to_float_masked(tiles[cid], nd_)
            den = il_rt + c
            with np.errstate(invalid="ignore", divide="ignore"):
                out = A * (cosz + c) / den
            out = np.where(den == 0, np.nan, out)
            payload = codec.encode(
                codec.from_float(out, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "corr_sum": float(np.round(valid, 3).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_stretch_rows():
    """Masked median composite → percent-cut stretch (F7,
    stretch.stretch pct_cut=(2,98)) replicated without Spark: the
    collection-global per-band bounds are type-7 quantiles over EVERY
    valid composite pixel of every cell in every zone
    (np.quantile(method='linear') — identical to the engine's exact
    integer histogram, pinned in tests/test_stretch.py), then each
    tile runs the normalize + rawf32/-9999 encode round-trip and the
    usual float-payload checksums."""
    from vrtility_spark import stretch as stretch_mod

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    masked = {cid: codec.to_float_masked(tiles[cid], meta[cid][0])
              for cid in tiles}
    nb = next(iter(masked.values())).shape[0]
    allpix = np.concatenate(
        [m.reshape(nb, -1) for m in masked.values()], axis=1)
    lo = np.array([np.quantile(b[np.isfinite(b)], 0.02, method="linear")
                   for b in allpix])
    hi = np.array([np.quantile(b[np.isfinite(b)], 0.98, method="linear")
                   for b in allpix])
    rows = []
    for cid, A in masked.items():
        out = stretch_mod.stretch_np(A, lo, hi)
        payload = codec.encode(
            codec.from_float(out, -9999.0, "float32"), "rawf32")
        dec = codec.decode(payload, A.shape[2], A.shape[1],
                           "rawf32").astype(np.float64)
        valid = dec[dec != -9999.0]
        _nd, n_scenes, agg = meta[cid]
        rows.append({
            "cell_id": cid, "n_scenes": n_scenes,
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "st_sum": float(np.round(valid, 3).sum()),
            "nodata_px": int((dec == -9999.0).sum()),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def rasterize_rows():
    """Fixture AOIs burned into 16x16 tiles at the tile res, replicated
    without Spark: cover cells from cover_bbox_np, pixel-center PIP per
    part, merge=max — the same kernels the engine ships
    (loop-oracle-gated in tests/test_rasterize.py).  Pins the
    vector→raster direction: burned-pixel counts per covered cell."""
    from vrtility_spark import rasterize
    from vrtility_spark.join import parse_wkt_polygon, points_in_polygon_np

    w = h = 16
    agg: dict[int, list] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone = int(a.srs.split(":")[1])
        for cid in cells.cover_bbox_np(zone, a.xmin, a.ymin,
                                       a.xmax, a.ymax, datagen.TILE_RES):
            agg.setdefault(int(cid), []).append(a.geom_wkt)
    rows = []
    for cid, wkts in sorted(agg.items()):
        _, res, ix, iy = (int(v) for v in cells.decode_np(cid))
        size = cells.cell_size(res)
        gx, gy = rasterize._pixel_centers(w, h, ix * size, iy * size,
                                          size)
        canvas = np.zeros((h, w))
        for wkt in wkts:
            canvas[points_in_polygon_np(
                gx, gy, parse_wkt_polygon(wkt))] = 1.0
        rows.append({
            "cell_id": cid, "n_parts": len(wkts),
            "payload_len": w * h * 4,
            "burned_px": int(canvas.sum()),
        })
    return rows


def image_allocation_rows(max_dist=4.0):
    """Fixture AOIs burned with per-feature values (len(aoi_id) —
    distinct per feature) → Euclidean allocation: every pixel within
    max_dist of a burned pixel labeled with its nearest seed's burn
    value (ties: min d², northernmost, leftmost — the separable-carry
    rule, walk-oracle-gated in tests/test_proximity.py). Replicated
    Spark-free: the same PIP burn per covered cell, per-zone mosaics
    over the covered-cell bounding grid (absent cells NaN = void),
    allocation_np on the r-padded mosaic, cropped to tiles through
    the rawf32/-9999 round trip."""
    from vrtility_spark import proximity, rasterize
    from vrtility_spark.join import parse_wkt_polygon, \
        points_in_polygon_np

    w = h = 16
    r = int(np.ceil(max_dist))
    agg: dict[int, list] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone = int(a.srs.split(":")[1])
        for cid in cells.cover_bbox_np(zone, a.xmin, a.ymin,
                                       a.xmax, a.ymax,
                                       datagen.TILE_RES):
            agg.setdefault(int(cid), []).append(
                (a.geom_wkt, float(len(a.aoi_id))))
    tiles: dict[int, np.ndarray] = {}
    nparts: dict[int, int] = {}
    for cid, parts in agg.items():
        _, res, ix, iy = (int(v) for v in cells.decode_np(cid))
        size = cells.cell_size(res)
        gx, gy = rasterize._pixel_centers(w, h, ix * size, iy * size,
                                          size)
        canvas = np.full((h, w), np.nan)
        for wkt, bv in parts:
            hit = points_in_polygon_np(gx, gy, parse_wkt_polygon(wkt))
            canvas[hit] = np.fmax(canvas[hit], bv)   # merge=max
        tiles[cid] = canvas
        nparts[cid] = len(parts)
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    burns = tuple(sorted({bv for parts in agg.values()
                          for _w, bv in parts}))
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gw = max(ix for _, ix, _ in lst) - x0 + 1
        gh = max(iy for _, _, iy in lst) - y0 + 1
        G = np.full((gh * h + 2 * r, gw * w + 2 * r), np.nan)
        for cid, ix, iy in lst:
            G[r + (iy - y0) * h:r + (iy - y0 + 1) * h,
              r + (ix - x0) * w:r + (ix - x0 + 1) * w] = tiles[cid]
        alloc = proximity.allocation_np(G, G, burns, max_dist)
        for cid, ix, iy in lst:
            tile = alloc[r + (iy - y0) * h:r + (iy - y0 + 1) * h,
                         r + (ix - x0) * w:r + (ix - x0 + 1) * w][None]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32")
            rows.append({
                "cell_id": cid, "n_parts": nparts[cid],
                "payload_len": len(payload),
                "alloc_sum": int(np.asarray(
                    dec[dec != -9999.0], np.int64).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_periodic_rows():
    """Quarterly masked median composites replicated Spark-free: the
    fixture's scenes grouped by (cell, calendar quarter) through the
    same masked-stack median machinery — pins the synthetic
    (cell, period) group key route (grouping changes, pixel math and
    captions must not)."""
    pdf = _grouped_fixture()
    pdf = pdf.assign(_q=pdf.datetime.dt.year * 4
                     + pdf.datetime.dt.quarter - 1)
    rows = []
    for (cell_id, q), grp in pdf.groupby(["cell_id", "_q"]):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        payload = codec.encode(codec.from_float(out, nd, "uint16"),
                               "raw16")
        agg = _caption_agg(grp.caption.tolist())
        rows.append({
            "cell_id": int(cell_id),
            "period": f"{q // 4:04d}Q{q % 4 + 1}",
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return sorted(rows, key=lambda d: (d["cell_id"], d["period"]))


def image_anomaly_rows():
    """Per-scene z-score anomaly replicated Spark-free with every
    quantization round trip the chain performs: masked u16 scenes →
    f64 one-pass mean/std → f32 cast → u16 climatology → f32 diff
    payload → ratio (std==0 → NaN) → f32 payload; checksummed with
    the same round-3 valid-pixel sum as the query UDF."""
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        scenes = {}
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            scenes[r.image_id] = codec.to_float_masked(full, nd)
        stack = np.stack(list(scenes.values()))
        with np.errstate(all="ignore"):
            Bm = codec.to_float_masked(codec.from_float(
                composite.REDUCERS["mean"](stack).astype(np.float32),
                nd, "uint16"), nd)
            Bs = codec.to_float_masked(codec.from_float(
                composite.REDUCERS["std"](stack).astype(np.float32),
                nd, "uint16"), nd)
        for iid, A in scenes.items():
            with np.errstate(invalid="ignore", divide="ignore"):
                d32 = codec.from_float(A - Bm, -9999.0, "float32")
                A2 = codec.to_float_masked(d32.astype(np.float64),
                                           -9999.0)
                z = A2 / Bs
                z[Bs == 0] = np.nan
            payload = codec.encode(
                codec.from_float(z, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, 16, 16, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            rows.append({
                "cell_id": int(cell_id), "image_id": iid,
                "payload_len": len(payload),
                "z_sum": float(np.round(valid, 3).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: (d["cell_id"], d["image_id"]))


def image_phash_rows(max_hamming=2, n_bands=4):
    """Perceptual-hash dedup clusters replicated Spark-free: the same
    banded candidate set (band agreement, pigeonhole), the same exact
    Hamming refine, union-find closure, min-id representative."""
    import itertools
    pdf = datagen.with_near_duplicates(
        datagen.images_pandas(nx=2, ny=2, w=16, h=16))
    ph = dict(zip(pdf.image_id, pdf.phash))
    bits = 64 // n_bands
    mask = (1 << bits) - 1
    u64 = (1 << 64) - 1
    pairs = []
    for a, b in itertools.combinations(sorted(ph), 2):
        ha, hb = ph[a] & u64, ph[b] & u64
        if not any((ha >> (bits * i)) & mask == (hb >> (bits * i)) & mask
                   for i in range(n_bands)):
            continue
        if bin(ha ^ hb).count("1") <= max_hamming:
            pairs.append((a, b))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x] = parent[parent[x]]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in parent:
        comps.setdefault(find(x), []).append(x)
    rows = []
    for members in comps.values():
        rep = min(members)
        for m in members:
            rows.append({"image_id": m, "cluster_rep": rep,
                         "cluster_size": len(members)})
    return sorted(rows, key=lambda d: d["image_id"])


def image_gapfill_rows():
    """Quarterly composites → per-pixel LOCF across quarters,
    replicated Spark-free through the same payload round trips the
    engine performs (composite encode → gapfill decode/fill/encode);
    nodata_px before/after pin the fill geography per (cell, period)."""
    from vrtility_spark import timeseries
    pdf = _grouped_fixture()
    pdf = pdf.assign(_q=pdf.datetime.dt.year * 4
                     + pdf.datetime.dt.quarter - 1)
    rows = []
    for cell_id, cgrp in pdf.groupby("cell_id"):
        nd = np.asarray(cgrp.iloc[0].band_nodata, dtype=np.float64)
        periods, payloads, metas = [], [], []
        for q, grp in sorted(cgrp.groupby("_q"), key=lambda kv: kv[0]):
            grp = grp.sort_values("datetime", kind="mergesort")
            with np.errstate(all="ignore"):
                import warnings
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    out = composite.REDUCERS["median"](
                        _masked_stack(grp, nd))
            payloads.append(codec.encode(
                codec.from_float(out, nd, "uint16"), "raw16"))
            periods.append(f"{q // 4:04d}Q{q % 4 + 1}")
            metas.append(len(grp))
        stack = np.stack([
            codec.to_float_masked(codec.decode(b, 16, 16, "raw16"), nd)
            for b in payloads])
        P = stack.shape[0]
        before_nan = [int(np.isnan(stack[i]).sum()) for i in range(P)]
        filled = timeseries.locf_np(
            stack.reshape(P, -1)).reshape(stack.shape)
        for i in range(P):
            payload = codec.encode(
                codec.from_float(filled[i], nd, "uint16"), "raw16")
            rows.append({
                "cell_id": int(cell_id), "period": periods[i],
                "n_scenes": metas[i],
                "nodata_px_before": before_nan[i],
                "nodata_px_after": int(np.isnan(filled[i]).sum()),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
            })
    return sorted(rows, key=lambda d: (d["cell_id"], d["period"]))


def image_breaks_rows():
    """Per-pixel break detection replicated Spark-free: the masked
    fixture stack in FLOAT64, time in years since trend.TREND_EPOCH,
    breaks.breaks_np (independently gated by the naive per-candidate
    lstsq loop in tests/test_breaks.py), rawf32/-9999 round trip.
    Planes are BAND-major [break_t, magnitude, score, n_obs] x B;
    checksums stride plane families across bands."""
    from vrtility_spark import breaks
    from vrtility_spark import trend
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = []
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            stack.append(codec.to_float_masked(full, nd))  # f64
        stack = np.stack(stack)
        ts = trend.t_years(grp.datetime.values.astype("datetime64[ns]")
                           .astype(np.int64))
        planes = breaks.breaks_np(ts, stack, min_seg=2)
        payload = codec.encode(
            codec.from_float(planes, trend.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32")
        nb = dec.shape[0] // 4
        sums = []
        for which in range(4):
            pl = dec[which::4].astype(np.float64)
            assert pl.shape[0] == nb
            valid = pl[pl != -9999.0]
            sums.append(float(np.round(valid, 3).sum()))
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "bt_sum": sums[0], "mag_sum": sums[1],
            "score_sum": sums[2], "nobs_sum": sums[3],
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_trend_rows():
    """Per-pixel OLS trend replicated Spark-free: the masked fixture
    stack in FLOAT64 (trend accumulates f64, unlike the composites'
    f32 compute default), time in years since trend.TREND_EPOCH, the
    same closed-form kernel (independently gated by the naive
    per-pixel polyfit oracle in tests/test_trend.py), encoded through
    the same rawf32/-9999 round trip, checksummed per plane family in
    payload order."""
    from vrtility_spark import trend
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = []
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            stack.append(codec.to_float_masked(full, nd))  # f64, no cast
        stack = np.stack(stack)
        ts = trend.t_years(grp.datetime.values.astype("datetime64[ns]")
                           .astype(np.int64))
        planes = trend.trend_np(ts, stack)
        payload = codec.encode(
            codec.from_float(planes, trend.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32")
        nb3 = dec.shape[0] // 3
        sums = []
        for which in range(3):
            pl = dec[which * nb3:(which + 1) * nb3].astype(np.float64)
            valid = pl[pl != -9999.0]
            sums.append(float(np.round(valid, 3).sum()))
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "dt_min": grp.datetime.min().strftime("%Y-%m-%d %H:%M:%S"),
            "dt_max": grp.datetime.max().strftime("%Y-%m-%d %H:%M:%S"),
            "slope_sum": sums[0], "icept_sum": sums[1],
            "nobs_sum": sums[2],
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_quality_mosaic_rows():
    """Quality mosaic (qmosaic:0) replicated Spark-free: the masked
    fixture stack in the composite path's float32 compute dtype,
    composite.qmosaic_t(0) (kernel naive-loop + coherence gated in
    tests/test_composite.py), uint16 round trip, shared checksum."""
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = _masked_stack(grp, nd)
        out = composite.qmosaic_t(0)(stack)
        payload = codec.encode(
            codec.from_float(out.astype(np.float64), nd, "uint16"),
            "raw16")
        rows.append({
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(
                _caption_agg(grp.caption.tolist()).encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_mk_trend_rows():
    """Per-pixel Mann–Kendall + Theil–Sen replicated Spark-free: the
    masked fixture stack in FLOAT64, time in years since
    trend.TREND_EPOCH, the same vectorized kernel (independently gated
    by the naive per-pixel double-loop oracle in tests/test_mktrend.py),
    encoded through the same rawf32/-9999 round trip, checksummed per
    plane family (sen / tau / z / n_obs) in payload order."""
    from vrtility_spark import mktrend, trend

    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = []
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            stack.append(codec.to_float_masked(full, nd))
        stack = np.stack(stack)
        ts = trend.t_years(grp.datetime.values.astype("datetime64[ns]")
                           .astype(np.int64))
        planes = mktrend.mk_np(ts, stack)
        payload = codec.encode(
            codec.from_float(planes, trend.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32")
        nb4 = dec.shape[0] // 4
        sums = []
        for which in range(4):
            pl = dec[which * nb4:(which + 1) * nb4].astype(np.float64)
            valid = pl[pl != -9999.0]
            sums.append(float(np.round(valid, 3).sum()))
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "sen_sum": sums[0], "tau_sum": sums[1],
            "z_sum": sums[2], "nobs_sum": sums[3],
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def train_chips_rows(chip=8, min_valid=0.99,
                     weights=None, seed=0):
    """Masked median composite → training-chip export replicated
    Spark-free: per-cell median tiles (the shared masked-stack
    machinery), uint16/raw16 round trip, chips.chip_rows_np slicing
    (gated against manual slicing in tests/test_chips.py), the
    all-bands-valid fraction filter, and the md5 hash-range split
    recomputed with hashlib from the same thresholds
    sampling._thresholds emits — pinning slicing, filter and split
    assignment in one row set."""
    from vrtility_spark import chips as chips_mod
    from vrtility_spark import sampling

    weights = weights or {"train": 0.8, "val": 0.2}
    thresholds = sampling._thresholds(weights)
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tile = codec.from_float(out, nd, "uint16")
        for cx, cy, block, vf in chips_mod.chip_rows_np(tile, nd, chip):
            if vf < min_valid:
                continue
            hx = hashlib.md5(
                f"{seed}|{int(cell_id)}|{cx}|{cy}".encode()
            ).hexdigest()[:8]
            split = next((name for name, bound in thresholds[:-1]
                          if hx < bound), thresholds[-1][0])
            payload = codec.encode(block, "raw16")
            rows.append({
                "cell_id": int(cell_id), "chip_x": cx, "chip_y": cy,
                "split": split, "payload_len": len(payload),
                "valid_frac": round(vf, 6),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
            })
    return sorted(rows, key=lambda d: (d["cell_id"], d["chip_y"],
                                       d["chip_x"]))


def embedding_pca_rows(n=150, d=10, k=3):
    """Distributed PCA replicated Spark-free: the integer-valued
    embedding fixture keeps (Σx, ΣxxT) exact in f64, so the covariance
    — and hence the deterministic cyclic-Jacobi eigensolve (LAPACK-free
    by design, tests/test_pca.py gates it against np.linalg.eigh) —
    is bit-identical at any partitioning/core count; projections in
    long form (doc_id, dim, value) rounded to 6 dp."""
    from vrtility_spark import pca

    pdf = datagen.embeddings_pandas(n=n, d=d)
    X = np.stack(pdf.embedding.to_numpy())
    mean = X.mean(axis=0)
    cov = (X.T @ X) / len(X) - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    _, vecs = pca.jacobi_eigh(cov)
    Y = (X - mean) @ vecs[:k].T
    rows = []
    for i, did in enumerate(pdf.doc_id):
        for dim in range(k):
            rows.append({"doc_id": int(did), "dim": dim,
                         "value": float(np.round(Y[i, dim], 6))})
    return rows


def image_change_rows():
    """Early-epoch vs late-epoch median composites combined as a
    normalized difference, replicated Spark-free: per-cell medians over
    the date subsets (the same masked-stack machinery the other image
    oracles pin), uint16 round-trip, algebra.algebra_np('ndiff')
    (kernel loop-gated in tests/test_algebra.py), float32/-9999
    round-trip, then the shared rawf32 checksum."""
    from vrtility_spark import algebra

    pdf = _grouped_fixture()
    cut = pd.Timestamp("2024-05-15")
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        tiles = {}
        for name, sub in (("early", grp[grp.datetime <= cut]),
                          ("late", grp[grp.datetime > cut])):
            with np.errstate(all="ignore"):
                import warnings
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    out = composite.REDUCERS["median"](
                        _masked_stack(sub, nd))
            tiles[name] = codec.to_float_masked(
                codec.from_float(out, nd, "uint16"), nd)
        ch = algebra.algebra_np(tiles["early"], tiles["late"], "ndiff")
        payload = codec.encode(
            codec.from_float(ch, -9999.0, "float32"), "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32").astype(np.float64)
        valid = dec[dec != -9999.0]
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": int((grp.datetime <= cut).sum()),
            "payload_len": len(payload),
            "ch_sum": float(np.round(valid, 3).sum()),
            "nodata_px": int((dec == -9999.0).sum()),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_unmix_rows():
    """Masked median composite → linear spectral unmixing against the
    documented EXAMPLE_ENDMEMBERS set (data planes 0-3, the trailing
    SCL plane dropped), replicated Spark-free: per-cell medians over
    the masked stack, uint16 round-trip, unmix.unmix_np (kernel gated
    against a per-pixel lstsq loop in tests/test_unmix.py),
    float32/-9999 round-trip, shared rawf32 checksums."""
    from vrtility_spark import unmix

    E = np.asarray(unmix.EXAMPLE_ENDMEMBERS, dtype=np.float64)
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                comp = composite.REDUCERS["median"](
                    _masked_stack(grp, nd))
        A = codec.to_float_masked(
            codec.from_float(comp, nd, "uint16"), nd)
        out = unmix.unmix_np(A[:4], E)
        payload = codec.encode(
            codec.from_float(out, -9999.0, "float32"), "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32").astype(np.float64)
        valid = dec[dec != -9999.0]
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "frac_sum": float(np.round(valid, 3).sum()),
            "nodata_px": int((dec == -9999.0).sum()),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def zonal_rows():
    """Masked median composite → zonal statistics per AOI polygon,
    replicated without Spark: each fixture AOI part is reduced over
    the composite tiles its bbox touches with zonal.zonal_partials_np
    (loop-oracle-gated in tests/test_zonal.py), partials merged per
    (aoi_id, band) exactly as the engine's groupBy does — integer
    moments are exact in f64, so the merge order cannot matter."""
    from vrtility_spark import zonal
    from vrtility_spark.join import parse_wkt_polygon

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.to_float_masked(
            codec.from_float(out, nd, "uint16"), nd)
    agg: dict[tuple, list] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone_a = int(a.srs.split(":")[1])
        ring = parse_wkt_polygon(a.geom_wkt)
        for cid, A in tiles.items():
            zone, res, ix, iy = (int(v) for v in cells.decode_np(cid))
            if zone != zone_a:
                continue
            size = cells.cell_size(res)
            x0, y0 = ix * size, iy * size
            if (x0 + size <= a.xmin or x0 >= a.xmax
                    or y0 + size <= a.ymin or y0 >= a.ymax):
                continue
            for b, p in enumerate(zonal.zonal_partials_np(
                    A, ring, x0, y0, x0 + size, y0 + size)):
                if p[0] == 0:
                    continue
                c = agg.setdefault((a.aoi_id, b),
                                   [0, 0, 0.0, 0.0, np.inf, -np.inf])
                c[0] += p[0]; c[1] += p[1]; c[2] += p[2]; c[3] += p[3]
                c[4] = min(c[4], p[4]); c[5] = max(c[5], p[5])
    rows = []
    for (aoi_id, band), (n_in, nv, s, s2, mn, mx) in sorted(agg.items()):
        mean = s / nv if nv else None
        std = (float(np.sqrt(max(0.0, s2 / nv - mean * mean)))
               if nv else None)
        rows.append({
            "aoi_id": aoi_id, "band": band, "px_count": n_in,
            "valid_count": nv, "px_sum": s if nv else 0.0,
            "mean_r": None if nv == 0 else _round_half_up(mean, 6),
            "std_r": None if nv == 0 else _round_half_up(std, 6),
            "px_min": None if nv == 0 else mn,
            "px_max": None if nv == 0 else mx,
        })
    return rows


def zonal_histogram_rows(lo=0.0, hi=8192.0, nbins=16):
    """Long-form per-(AOI, band, bin) histogram over the composite
    tiles, replicated Spark-free with zonal.histogram_np (loop-gated in
    tests/test_zonal.py) — same tiles and AOI cover rule as
    zonal_rows."""
    from vrtility_spark import zonal
    from vrtility_spark.join import parse_wkt_polygon

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.to_float_masked(
            codec.from_float(out, nd, "uint16"), nd)
    agg: dict[tuple, int] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone_a = int(a.srs.split(":")[1])
        ring = parse_wkt_polygon(a.geom_wkt)
        for cid, A in tiles.items():
            zone, res, ix, iy = (int(v) for v in cells.decode_np(cid))
            if zone != zone_a:
                continue
            size = cells.cell_size(res)
            x0, y0 = ix * size, iy * size
            if (x0 + size <= a.xmin or x0 >= a.xmax
                    or y0 + size <= a.ymin or y0 >= a.ymax):
                continue
            hb = zonal.histogram_np(A, ring, x0, y0, x0 + size,
                                    y0 + size, lo, hi, nbins)
            for b in range(hb.shape[0]):
                for k in range(nbins):
                    if hb[b, k]:
                        key = (a.aoi_id, b, k)
                        agg[key] = agg.get(key, 0) + int(hb[b, k])
    return [{"aoi_id": aid, "band": b, "bin": k, "cnt": c}
            for (aid, b, k), c in sorted(agg.items())]


def zonal_majority_rows():
    """Per-(AOI, band) modal class value over the classified median
    composite, replicated Spark-free: the same tiles as zonal_rows,
    band 0 digitized with algebra.classify_np through the rawf32 round
    trip, exact value counts per covered tile (zonal.value_counts_np,
    loop-gated in tests/test_zonal.py) merged per AOI, argmax with
    ties to the smallest value."""
    from vrtility_spark import algebra, zonal
    from vrtility_spark.join import parse_wkt_polygon

    breaks = [1500.0, 2500.0, 3500.0, 4500.0]
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            med = composite.REDUCERS["median"](_masked_stack(grp, nd))
        plane = codec.to_float_masked(
            codec.from_float(med, nd, "uint16"), nd)[0]
        cls = algebra.classify_np(plane[None], breaks)
        enc = codec.encode(
            codec.from_float(cls, -9999.0, "float32"), "rawf32")
        tiles[int(cell_id)] = codec.to_float_masked(
            codec.decode(enc, plane.shape[1], plane.shape[0], "rawf32"),
            -9999.0)
    agg: dict[tuple, int] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone_a = int(a.srs.split(":")[1])
        ring = parse_wkt_polygon(a.geom_wkt)
        for cid, A in tiles.items():
            zone, res, ix, iy = (int(v) for v in cells.decode_np(cid))
            if zone != zone_a:
                continue
            size = cells.cell_size(res)
            x0, y0 = ix * size, iy * size
            if (x0 + size <= a.xmin or x0 >= a.xmax
                    or y0 + size <= a.ymin or y0 >= a.ymax):
                continue
            for b, v, c in zonal.value_counts_np(
                    A, ring, x0, y0, x0 + size, y0 + size):
                key = (a.aoi_id, b, v)
                agg[key] = agg.get(key, 0) + c
    best: dict[tuple, tuple] = {}
    totals: dict[tuple, int] = {}
    for (aid, b, v), c in agg.items():
        totals[(aid, b)] = totals.get((aid, b), 0) + c
        cur = best.get((aid, b))
        if cur is None or c > cur[1] or (c == cur[1] and v < cur[0]):
            best[(aid, b)] = (v, c)
    return [{"aoi_id": aid, "band": b, "value": v, "cnt": c,
             "total": totals[(aid, b)]}
            for (aid, b), (v, c) in sorted(best.items())]


def image_hls_rows():
    """HLS profile: int16 storage, per-band sentinels -9999, bitmask
    Fmask plane — mean composite through the per-band metadata path."""
    pdf = _grouped_fixture(profile="hls")
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["mean"](
                    _masked_stack(grp, nd, maskfun="bit"))
        payload = codec.encode(codec.from_float(out, nd, "int16"), "raw16s")
        agg = _caption_agg(grp.caption.tolist())
        rows.append({
            "cell_id": int(cell_id), "n_scenes": len(grp),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<i2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_regrid_rows():
    """Offset-footprint fixture → mask → regrid (nearest, per-cell
    16x16) → median composite, replicated without Spark via the same
    NumPy kernels the pytest oracles gate (tests/test_regrid.py)."""
    from vrtility_spark.cells import cover_bbox_np, decode_np
    from vrtility_spark.warp import sample_plane_masked

    pdf = datagen.offset_images_pandas()
    size = datagen.TILE_SPAN
    tiles: dict[int, list] = {}
    for r in pdf.itertuples(index=False):
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        nd = np.asarray(r.band_nodata, dtype=np.float64)
        m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
        data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
        masked = np.concatenate([data, arr[-1:]])
        res_x = (r.xmax - r.xmin) / r.w
        for cid in cover_bbox_np(r.zone, r.xmin, r.ymin, r.xmax, r.ymax,
                                 datagen.TILE_RES):
            _, _, ix, iy = decode_np(cid)
            cx0, cy0 = float(ix) * size, float(iy) * size
            fx = (cx0 + (np.arange(16) + 0.5) * (size / 16)
                  - r.xmin) / res_x - 0.5
            fy = (cy0 + (np.arange(16) + 0.5) * (size / 16)
                  - r.ymin) / res_x - 0.5
            planes = []
            for b in range(len(masked)):
                if b == len(masked) - 1:  # class plane: nearest on raw
                    p = sample_plane_masked(
                        masked[b].astype(np.float64), fy, fx, "nearest")
                else:
                    p = sample_plane_masked(
                        codec.to_float_masked(masked[b][None],
                                              float(nd[b]))[0],
                        fy, fx, "nearest")
                planes.append(codec.from_float(p[None], float(nd[b]),
                                               "uint16")[0])
            tiles.setdefault(int(cid), []).append(
                (r.datetime, r.caption, np.stack(planes), nd))
    rows = []
    for cid, entries in tiles.items():
        entries.sort(key=lambda e: e[0])
        nd = entries[0][3]
        stack = np.stack([codec.to_float_masked(e[2], nd).astype(np.float32)
                          for e in entries])
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](stack)
        payload = codec.encode(codec.from_float(out, nd, "uint16"), "raw16")
        agg = _caption_agg([e[1] for e in entries])
        rows.append({
            "cell_id": cid, "n_scenes": len(entries),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_psnr_rows():
    """Per-scene-vs-median fidelity replicated Spark-free: masked
    scenes (the vrt_set_maskfun uint16 payloads), the f32-compute
    median composite through the uint16 round trip, scored per band
    with quality.psnr_np (loop-gated in tests/test_quality.py)."""
    from vrtility_spark import quality

    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                comp = composite.REDUCERS["median"](_masked_stack(grp, nd))
        ref = codec.to_float_masked(
            codec.from_float(comp, nd, "uint16"), nd)
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            A = codec.to_float_masked(full, nd)
            for bi, (n, mse, psnr, ident) in enumerate(
                    quality.psnr_np(A, ref)):
                rows.append({
                    "image_id": r.image_id,
                    "cell_id": int(cell_id), "band": bi, "n": int(n),
                    "mse": _round_half_up(mse, 4) if np.isfinite(mse)
                    else float("nan"),
                    "psnr": _round_half_up(psnr, 4)
                    if np.isfinite(psnr) else float("nan"),
                    "identical": int(ident),
                })
    return sorted(rows, key=lambda d: (d["cell_id"], d["image_id"],
                                       d["band"]))


def image_coregister_rows():
    """Planted-misalignment co-registration replicated Spark-free:
    masked scenes (uint16, the vrt_set_maskfun payload), planted
    month-derived (dy, dx) rolls via coregister.shift_np through the
    uint16 round trip (apply_shifts' encode), median-composite
    reference (f32 compute like the distributed composite), then
    coregister.register_np (both kernels loop-gated in
    tests/test_coregister.py)."""
    from vrtility_spark import coregister

    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                comp = composite.REDUCERS["median"](_masked_stack(grp, nd))
        ref = codec.to_float_masked(
            codec.from_float(comp, nd, "uint16"), nd)[0]
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            A = codec.to_float_masked(full, nd)
            month = int(r.image_id[-4:-2])
            pdy = month % 5 - 2
            pdx = (month * 3) % 5 - 2
            S = coregister.shift_np(A, pdy, pdx)
            # apply_shifts' payload round trip
            A2 = codec.to_float_masked(
                codec.from_float(S, nd, "uint16"), nd)
            dy, dx, peak, n = coregister.register_np(ref, A2[0], 3)
            rows.append({
                "image_id": r.image_id, "cell_id": int(cell_id),
                "dy": _round_half_up(dy, 4),
                "dx": _round_half_up(dx, 4),
                "peak": _round_half_up(peak, 4),
                "n_overlap": int(n),
            })
    return sorted(rows, key=lambda d: (d["cell_id"], d["image_id"]))


def image_feather_rows():
    """Offset-footprint fixture → mask → regrid (nearest) → FEATHERED
    blend (feather.feather_weights_np / feather_blend_np, both gated
    by per-pixel loops in tests/test_feather.py): analytic
    distance-to-footprint-edge weights (cap 4 px), float64 blend,
    uint16 round-trip. Scene order (datetime, image_id) matches the
    distributed sort so float accumulation order is identical."""
    from vrtility_spark import feather
    from vrtility_spark.cells import cover_bbox_np, decode_np
    from vrtility_spark.warp import sample_plane_masked

    pdf = datagen.offset_images_pandas()
    size = datagen.TILE_SPAN
    cap = 4.0
    tiles: dict[int, list] = {}
    for r in pdf.itertuples(index=False):
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        nd = np.asarray(r.band_nodata, dtype=np.float64)
        m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
        data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
        masked = np.concatenate([data, arr[-1:]])
        res_x = (r.xmax - r.xmin) / r.w
        for cid in cover_bbox_np(r.zone, r.xmin, r.ymin, r.xmax, r.ymax,
                                 datagen.TILE_RES):
            _, _, ix, iy = decode_np(cid)
            cx0, cy0 = float(ix) * size, float(iy) * size
            if not (cx0 < r.xmax and cx0 + size > r.xmin
                    and cy0 < r.ymax and cy0 + size > r.ymin):
                continue
            fx = (cx0 + (np.arange(16) + 0.5) * (size / 16)
                  - r.xmin) / res_x - 0.5
            fy = (cy0 + (np.arange(16) + 0.5) * (size / 16)
                  - r.ymin) / res_x - 0.5
            planes = []
            for b in range(len(masked)):
                if b == len(masked) - 1:  # class plane: nearest raw
                    p = sample_plane_masked(
                        masked[b].astype(np.float64), fy, fx, "nearest")
                else:
                    p = sample_plane_masked(
                        codec.to_float_masked(masked[b][None],
                                              float(nd[b]))[0],
                        fy, fx, "nearest")
                planes.append(codec.from_float(p[None], float(nd[b]),
                                               "uint16")[0])
            wts = feather.feather_weights_np(
                cx0, cy0, size, 16, 16,
                (r.xmin, r.ymin, r.xmax, r.ymax), cap)
            tiles.setdefault(int(cid), []).append(
                (r.datetime, r.image_id, r.caption,
                 np.stack(planes), nd, wts))
    rows = []
    for cid, entries in tiles.items():
        entries.sort(key=lambda e: (e[0], e[1]))
        nd = entries[0][4]
        stack = np.stack([codec.to_float_masked(e[3], nd)
                          for e in entries])  # f64 — the blend dtype
        wts = np.stack([e[5] for e in entries])
        out = feather.feather_blend_np(stack, wts)
        payload = codec.encode(codec.from_float(out, nd, "uint16"),
                               "raw16")
        agg = _caption_agg([e[2] for e in entries])
        rows.append({
            "cell_id": cid, "n_scenes": len(entries),
            "payload_len": len(payload),
            "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
            "pix_sum": int(np.frombuffer(payload, "<u2")
                           .astype(np.int64).sum()),
        })
    return rows


def image_hampel_rows():
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort") \
            .reset_index(drop=True)
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        Tn, B, H, W = stack.shape
        filt = np.stack([
            timeseries.hampel_np(stack[:, b].reshape(Tn, H * W), 1, 2.0)
            .reshape(Tn, H, W) for b in range(B)], axis=1)
        for t in range(Tn):
            payload = codec.encode(
                codec.from_float(filt[t], nodata, "uint16"), "raw16")
            rows.append({
                "image_id": grp.image_id.iloc[t], "cell_id": int(cell_id),
                "dt": f"{grp.datetime.iloc[t]:%Y-%m-%d}",
                "payload_len": len(payload),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
                "caption": grp.caption.iloc[t],
            })
    return rows


def image_decompose_rows(period: int = 2):
    """Per-timestep classical seasonal decomposition replicated
    without Spark: per-cell stacks run through
    timeseries.decompose_np for all three components
    (closed-form-gated in tests/test_timeseries.py), each encoded
    through the exact rawf32/-9999 round trip.  Checksums are
    sum(round(v, 3)) per component plus the trend/resid nodata count
    (they share the window geography; seasonal stays tiled)."""
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort") \
            .reset_index(drop=True)
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        Tn, B, H, W = stack.shape
        comps = {}
        for name in ("trend", "seasonal", "resid"):
            comps[name] = np.stack([
                timeseries.decompose_np(
                    stack[:, b].reshape(Tn, H * W), period, name)
                .reshape(Tn, H, W) for b in range(B)], axis=1)
        for t in range(Tn):
            row = {"image_id": grp.image_id.iloc[t],
                   "cell_id": int(cell_id),
                   "dt": f"{grp.datetime.iloc[t]:%Y-%m-%d}"}
            for name, short in (("trend", "tr"), ("seasonal", "se"),
                                ("resid", "re")):
                payload = codec.encode(
                    codec.from_float(comps[name][t], -9999.0,
                                     "float32"), "rawf32")
                dec = codec.decode(payload, W, H, "rawf32") \
                    .astype(np.float64)
                valid = dec[dec != -9999.0]
                row[f"{short}_sum"] = float(np.round(valid, 3).sum())
                row["payload_len"] = len(payload)
                row["nodata_px"] = int((dec == -9999.0).sum())
            rows.append({k: row[k] for k in
                         ("image_id", "cell_id", "dt", "payload_len",
                          "tr_sum", "se_sum", "re_sum", "nodata_px")})
    return sorted(rows, key=lambda d: (d["cell_id"], d["dt"],
                                       d["image_id"]))


def image_whittaker_rows():
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort") \
            .reset_index(drop=True)
        nodata = float(grp.nodata.iloc[0])
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nodata)
            for r in grp.itertuples(index=False)])
        Tn, B, H, W = stack.shape
        filt = np.stack([
            timeseries.whittaker_np(stack[:, b].reshape(Tn, H * W), 5.0, 2)
            .reshape(Tn, H, W) for b in range(B)], axis=1)
        for t in range(Tn):
            payload = codec.encode(
                codec.from_float(filt[t], nodata, "uint16"), "raw16")
            rows.append({
                "image_id": grp.image_id.iloc[t], "cell_id": int(cell_id),
                "dt": f"{grp.datetime.iloc[t]:%Y-%m-%d}",
                "payload_len": len(payload),
                "pix_sum": int(np.frombuffer(payload, "<u2")
                               .astype(np.int64).sum()),
                "caption": grp.caption.iloc[t],
            })
    return rows


def _median_zone_mosaics(h: int = 16, w: int = 16):
    """Shared preamble of the terrain/hydrology/shadow constants: the
    masked-median composite tiles assembled into per-zone mosaics.
    Returns ``(zones, meta)`` where ``zones`` is a sorted list of
    ``(zone, cells, G)`` — ``cells`` = ``[(cell_id, jx, jy), ...]``
    with zone-normalized tile offsets, ``G`` the (nb, gy*h, gx*w)
    NaN-masked mosaic — and ``meta[cell_id] = (band_nodata,
    n_scenes)``. One home for the composite convention, so every
    mosaic-replicated oracle stays consistent by construction."""
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    zones = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        cells_norm = []
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
            cells_norm.append((cid, ix - x0, iy - y0))
        zones.append((zone, cells_norm, G))
    return zones, meta


def image_flowdir_rows():
    """Masked median composite → D8 flow direction replicated without
    Spark: per-zone mosaics padded and reduced with
    terrain.flow_direction_np (loop-/closed-form-gated in
    tests/test_terrain.py), cropped back to tiles through the exact
    rawf32/-9999 round trip. Codes are small exact floats, so the
    checksum is their plain sum plus sink and nodata counts."""
    from vrtility_spark import terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        fd = terrain.flow_direction_np(P, sx, sy)
        for cid, jx, jy in lst:
            tile = fd[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "code_sum": int(valid.sum()),
                "sink_px": int((valid == 0.0).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_flowacc_rows(stream_threshold: float = 5.0):
    """Masked median composite → D8 flowdir → flow accumulation
    replicated without Spark: per-zone mosaics padded, coded with
    terrain.flow_direction_np, and accumulated with
    hydrology.flow_accumulation_np (walk-oracle-gated in
    tests/test_hydrology.py), cropped back to tiles through the exact
    rawf32/-9999 round trip. Counts are exact small integers, so the
    checksums are their plain sum, the max, the stream-pixel count at
    the threshold, and the nodata count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        acc = hydrology.flow_accumulation_np(
            terrain.flow_direction_np(P, sx, sy))
        for cid, jx, jy in lst:
            tile = acc[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "acc_sum": int(valid.sum()),
                "acc_max": int(valid.max()) if valid.size else 0,
                "stream_px": int((valid >= stream_threshold).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_flowlength_rows():
    """Masked median composite → D8 flowdir → downstream flow length
    replicated without Spark: per-zone mosaics coded with
    terrain.flow_direction_np and measured with
    hydrology.flow_length_np (walk-oracle-gated in
    tests/test_hydrology.py), cropped back to tiles through the exact
    rawf32/-9999 round trip.  The packed-step-count design makes the
    distributed sums exact integers, so these constants pin the
    cross-tile pointer jumping bit-for-bit.  Checksums are
    sum(round(v, 3)) in f64 over valid pixels, the rounded max, and
    the nodata count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        fl = hydrology.flow_length_np(
            terrain.flow_direction_np(P, sx, sy), sx, sy)
        for cid, jx, jy in lst:
            tile = fl[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "len_sum": float(np.round(valid, 3).sum()),
                "len_max": (float(np.round(valid, 3).max())
                            if valid.size else 0.0),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def _ws_outlet_list():
    """Deterministic pour points for the watershed oracle/query: one
    mid-tile outlet per (zone, tile) of the 2x2 fixture grid
    (id = zone·100 + tx·10 + ty), a duplicate of zone-tile (0,0)'s
    pixel with id 9999 (must LOSE the smallest-id tie) and one
    far-off-coverage point per zone (inert)."""
    from vrtility_spark import datagen
    pxs = cells.cell_size(datagen.TILE_RES) / 16
    pts = []
    for zone in (30, 31, 27):
        for tx in range(2):
            for ty in range(2):
                x = (tx * 16 + 8 + 0.5) * pxs
                y = (ty * 16 + 8 + 0.5) * pxs
                pts.append((zone * 100 + tx * 10 + ty, zone, x, y))
        pts.append((9999, zone, (8 + 0.5) * pxs, (8 + 0.5) * pxs))
        pts.append((8888, zone, (7 * 16 + 1.5) * pxs, (7 * 16 + 2.5) * pxs))
    return pts


def image_watershed_rows():
    """Masked median composite → D8 flowdir → watershed from pour
    points replicated without Spark: per-zone mosaics coded with
    terrain.flow_direction_np, outlets burned as forced sinks and
    labeled with hydrology.watershed_np (composed-kernel-gated in
    tests/test_hydrology.py).  Checksums are the exact int sum of the
    labels, the labeled-pixel count, and the nodata count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    pxs = size / w
    zones, meta = _median_zone_mosaics(h, w)
    by_zone_pts: dict[int, list] = {}
    for oid, zone, x, y in _ws_outlet_list():
        by_zone_pts.setdefault(zone, []).append((oid, x, y))
    rows = []
    for zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        codes = terrain.flow_direction_np(P, sx, sy)
        pixels, ids = [], []
        for oid, x, y in by_zone_pts.get(zone, []):
            gx, gy = int(np.floor(x / pxs)), int(np.floor(y / pxs))
            if gy < G.shape[1] and gx < G.shape[2]:
                pixels.append((gy, gx))
                ids.append(oid)
        ws = hydrology.watershed_np(codes, pixels, ids)
        for cid, jx, jy in lst:
            tile = ws[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float64"), "rawf64")
            dec = codec.decode(payload, w, h, "rawf64").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "lab_sum": int(valid.sum()),
                "n_lab": int(valid.size),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_upstream_length_rows():
    """Masked median composite → D8 flowdir → UPSTREAM flow length
    replicated without Spark: per-zone mosaics coded with
    terrain.flow_direction_np and measured with
    hydrology.upstream_flow_length_np (relaxation-oracle-gated in
    tests/test_hydrology.py), cropped back to tiles through the exact
    rawf32/-9999 round trip.  Packed counts make the distributed
    wavefront exact, so these constants pin it bit-for-bit."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        fl = hydrology.upstream_flow_length_np(
            terrain.flow_direction_np(P, sx, sy), sx, sy)
        for cid, jx, jy in lst:
            tile = fl[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "len_sum": float(np.round(valid, 3).sum()),
                "len_max": (float(np.round(valid, 3).max())
                            if valid.size else 0.0),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_fillsinks_rows():
    """Masked median composite → depression filling replicated without
    Spark: per-zone mosaics filled with hydrology.fill_sinks_np
    (Jacobi-oracle-gated in tests/test_fillsinks_basins.py) — water
    drains off the mosaic border and into nodata, exactly the
    distributed operator's zone-edge/missing-neighbor outlet
    convention — cropped back to tiles through the exact rawf32/-9999
    round trip. Fill levels inherit the composite's .5 medians, so the
    checksums are the truncated sum AND the quarter-scaled truncated
    sum (pins the fractional part) plus the nodata count."""
    from vrtility_spark import hydrology

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        filled = hydrology.fill_sinks_np(G)
        for cid, jx, jy in lst:
            tile = filled[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "pix_sum": int(np.asarray(dec, np.int64).sum()),
                "pix4_sum": int(np.asarray(dec * 4.0, np.int64).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_costdist_rows(thr=6000.0, scale=1.0 / 256.0, offset=1.0):
    """Masked median composite → cost-distance accumulation replicated
    without Spark: per-zone mosaics run through
    costdist.cost_distance_np (Bellman-Ford-oracle-gated in
    tests/test_costdist.py) with friction = band0/256 + 1 and sources
    = band1 >= 6000, cropped back to tiles through the exact
    rawf32/-9999 round trip — absent neighbors contribute no paths,
    exactly the distributed operator's convention. Accumulated costs
    carry sqrt(2) parts, so the checksums are the truncated sum, the
    quarter-scaled truncated sum (pins the fractional part), the
    source-pixel count (acc == 0) and the nodata count."""
    from vrtility_spark import costdist

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        sv = G[1]
        cost = np.where(np.isfinite(sv), G[0] * scale + offset, np.nan)
        src = np.isfinite(sv) & (sv >= thr)
        acc = costdist.cost_distance_np(cost, src)
        plane = np.where(np.isfinite(acc), acc, np.nan)[None]
        for cid, jx, jy in lst:
            tile = plane[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "pix_sum": int(np.asarray(dec, np.int64).sum()),
                "pix4_sum": int(np.asarray(dec * 4.0, np.int64).sum()),
                "src_px": int((dec == 0.0).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def grid_kriging_rows(radius=60000.0, max_lag=60000.0, n_lags=8,
                      max_points=8):
    """Ordinary kriging of the deterministic demo point set replicated
    without Spark, INCLUDING the variogram autofit: the empirical
    semivariogram is the all-pairs quantized twin
    (kriging.variogram_pairs_naive, per zone, bins merged — exactly
    what the distributed decimal pair sum produces, oracle-gated in
    tests/test_kriging.py), fit_variogram_np picks the same
    deterministic WLS model, and each cover cell's surface comes from
    krige_np over its pid-sorted candidates — pinning the whole
    train→interpolate chain. Checksums as grid_idw."""
    from vrtility_spark import gridding, kriging

    res, w, h = datagen.TILE_RES, 16, 16
    size = cells.cell_size(res)
    pts = gridding.demo_grid_points()
    sum_d = np.zeros(n_lags)
    sum_dv2 = np.zeros(n_lags)
    cnt = np.zeros(n_lags, np.int64)
    for zone in sorted({p[1] for p in pts}):
        zp = [p for p in pts if p[1] == zone]
        sd, sv, c = kriging.variogram_pairs_naive(
            [p[2] for p in zp], [p[3] for p in zp],
            [p[4] for p in zp], max_lag, n_lags)
        sum_d += sd
        sum_dv2 += sv
        cnt += c
    with np.errstate(invalid="ignore"):
        mean_lags = np.where(cnt > 0, sum_d / np.maximum(cnt, 1),
                             np.nan)
        gamma = np.where(cnt > 0,
                         sum_dv2 / (2.0 * np.maximum(cnt, 1)), np.nan)
    vm = kriging.fit_variogram_np(mean_lags, gamma, cnt, "spherical")
    cover: dict[int, list] = {}
    for pid, zone, x, y, v in pts:
        for cid in cells.cover_bbox_np(zone, x - radius, y - radius,
                                       x + radius, y + radius, res):
            cover.setdefault(int(cid), []).append((pid, x, y, v))
    rows = []
    for cid, lst in sorted(cover.items()):
        lst = sorted(lst)  # pid order == the kernel's sort
        _z, _r, ix, iy = (int(t) for t in cells.decode_np(cid))
        surf = kriging.krige_np(
            [t[1] for t in lst], [t[2] for t in lst],
            [t[3] for t in lst], ix * size, iy * size, size, w, h,
            vm, radius, max_points)
        enc = codec.encode(
            codec.from_float(surf, kriging.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(enc, w, h, "rawf32").astype(np.float64)
        valid = dec[dec != kriging.OUT_NODATA]
        rows.append({
            "cell_id": cid, "n_points": len(lst),
            "payload_len": len(enc),
            "fsum": _round_half_up(float(np.round(valid, 3).sum()), 3),
            "nodata_px": int((dec == kriging.OUT_NODATA).sum()),
        })
    return rows


def image_costalloc_rows(thr=6000.0, scale=1.0 / 256.0, offset=1.0):
    """Masked median composite → cost distance with backlink →
    watershed walk on the backlink plane = cost ALLOCATION (ArcGIS
    CostAllocation as a composition): every reachable pixel labeled by
    the zone-global id of the source pixel its Dijkstra-predecessor
    walk reaches. Replicated without Spark via cost_distance_np +
    backlink_np + hydrology.basins_np (each oracle-gated in
    tests/test_costdist.py / test_fillsinks_basins.py) on per-zone
    mosaics, cropped through the exact rawf64/-9999 round trip.
    Labels are exact integers: checksums are the plain sum, the
    distinct-label count and the nodata count."""
    from vrtility_spark import costdist, hydrology

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        sv = G[1]
        cost = np.where(np.isfinite(sv), G[0] * scale + offset, np.nan)
        src = np.isfinite(sv) & (sv >= thr)
        acc = costdist.cost_distance_np(cost, src)
        bl = costdist.backlink_np(cost, acc)
        lab = hydrology.basins_np(bl[None])
        for cid, jx, jy in lst:
            tile = lab[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float64"), "rawf64")
            dec = codec.decode(payload, w, h, "rawf64")
            _nd, n_scenes = meta[cid]
            valid = dec[dec != -9999.0]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "lab_sum": int(np.asarray(dec, np.int64).sum()),
                "n_alloc": int(len(np.unique(valid))),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_otsu_rows(band=0):
    """Masked median composite → global exact histogram → Otsu cut →
    0/1 classify, replicated without Spark via threshold.py's OWN
    kernels (naive-oracle-gated in tests/test_threshold.py): the
    histogram merges every zone's band-0 values (exactly what the
    distributed value-count groupBy produces on integer payloads),
    otsu_np picks the cut, classify_np applies it per mosaic. Class
    planes are 0/1 ints: checksums are the pixel sum (= class-1
    count), the nodata count, and the shared threshold (round-6)."""
    from vrtility_spark import algebra, threshold

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    allv = np.concatenate([G[band][np.isfinite(G[band])]
                           for _z, _l, G in zones])
    u, c = threshold.histogram_naive(allv)
    t = threshold.otsu_np(u, c)
    rows = []
    for _zone, lst, G in zones:
        cls = algebra.classify_np(G[band][None],
                                  [float(np.nextafter(t, np.inf))])
        for cid, jx, jy in lst:
            tile = cls[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32")
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "pix_sum": int(np.asarray(dec[dec != -9999.0],
                                          np.int64).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
                "threshold": _round_half_up(t, 6),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_mlc_rows(breaks=(3000.0, 4500.0), band=1):
    """Masked median composite → threshold-derived training labels →
    supervised Gaussian ML classification replicated without Spark via
    supervised.py's OWN kernels (sufficient-statistic fit + einsum
    classify, each naive-oracle-gated in tests/test_supervised.py):
    labels = algebra.classify_np of band 1, the model is fitted
    GLOBALLY over every zone's labeled pixels (merged sufficient
    statistics — exact integer sums, so the distributed decimal agg
    reproduces them bit-for-bit), then every mosaic classifies against
    the one broadcast model and crops back to raw16 tiles. Class ids
    are small exact integers, so the checksums are the plain pixel
    sum and the nodata count."""
    from vrtility_spark import algebra, supervised

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    parts = []
    labs = {}
    for zone, _lst, G in zones:
        L = algebra.classify_np(G[band][None], list(breaks))[0]
        labs[zone] = L
        parts.append(supervised.tile_class_stats_np(G, L))
    model = supervised.fit_from_stats_np(supervised.merge_stats(parts))
    rows = []
    for zone, lst, G in zones:
        lab = supervised.classify_np(G, model)
        plane = np.where(np.isnan(lab), float(supervised.NODATA_CLASS),
                         lab)[None].astype(np.uint16)
        for cid, jx, jy in lst:
            tile = plane[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(tile, "raw16")
            dec = codec.decode(payload, w, h, "raw16")
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "pix_sum": int(np.asarray(dec, np.int64).sum()),
                "nodata_px": int(
                    (dec == supervised.NODATA_CLASS).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_streamorder_rows():
    """Masked median composite → D8 flowdir → Strahler stream order
    replicated without Spark: per-zone mosaics NaN-padded, coded with
    terrain.flow_direction_np, and ordered with
    hydrology.stream_order_np (recursive-oracle-gated in
    tests/test_streamorder.py), cropped back to tiles through the
    exact rawf32/-9999 round trip. Orders are small exact integers, so
    the checksums are their plain sum, the max, the headwater count
    (order 1), and the nodata count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        so = hydrology.stream_order_np(
            terrain.flow_direction_np(P, sx, sy))
        for cid, jx, jy in lst:
            tile = so[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "ord_sum": int(valid.sum()),
                "ord_max": int(valid.max()) if valid.size else 0,
                "head_px": int((valid == 1.0).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_ssim_rows():
    """Masked median composite → gaussian-smoothed twin → windowed
    SSIM map replicated without Spark: per-zone mosaics smoothed with
    focal_np exactly as Pipeline.focal('gaussian', radius=1) (incl.
    the per-tile uint16 re-encode round trip), then the stacked-pair
    halo exchange replayed as one ssim_np call (loop-oracle-gated in
    tests/test_quality.py) on the NaN-ring-padded mosaics, cropped
    back to tiles through the exact rawf32/-9999 round trip. SSIM
    values are deterministic f32, so the checksum is their rounded
    sum plus valid/nodata counts."""
    from vrtility_spark import focal, quality

    h = w = 16
    r = quality.SSIM_RADIUS
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        # gaussian smoothing exactly as the engine's focal verb
        P1 = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P1[:, 1:-1, 1:-1] = G
        sm = focal.focal_np(P1, "conv", 1, focal.gaussian_kernel(1),
                            normalize=True)
        sm = np.where(np.isnan(G), np.nan, sm)  # fill=False
        Gs = np.full_like(G, np.nan)
        for cid, jx, jy in lst:
            nd = meta[cid][0]
            t = sm[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            q = codec.from_float(t, nd, "uint16")
            Gs[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w] = \
                codec.to_float_masked(q, nd)
        PA = np.full((nb, G.shape[1] + 2 * r, G.shape[2] + 2 * r), np.nan)
        PB = np.full_like(PA, np.nan)
        PA[:, r:-r, r:-r] = Gs
        PB[:, r:-r, r:-r] = G
        smap = quality.ssim_np(PA, PB, r)
        for cid, jx, jy in lst:
            tile = smap[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "ssim_sum": round(float(valid.sum()), 4),
                "valid_px": int(valid.size),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_autocorr_rows():
    """Masked median composite → global Moran's I / Geary's C
    replicated without Spark: the per-zone mosaics feed
    autocorr._neighbor_sums (loop-oracle-gated in tests/
    test_autocorr.py) and the per-zone integer partials are combined
    globally with the EXACT Catalyst expression tree of
    autocorr.global_autocorr — every partial is an exact integer sum
    below 2⁵³, so the distributed result is bit-deterministic and the
    final doubles match bitwise before rounding."""
    from vrtility_spark import autocorr

    zones, _meta = _median_zone_mosaics()
    agg: dict[int, list] = {}
    for _zone, _lst, G in zones:
        P = np.full((G.shape[0], G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        C, S1, S2 = autocorr._neighbor_sums(P)
        A = P[:, 1:-1, 1:-1]
        for bi in range(P.shape[0]):
            m = np.isfinite(A[bi])
            x = A[bi][m]
            c, s1, s2 = C[bi][m], S1[bi][m], S2[bi][m]
            p = agg.setdefault(bi, [0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                                    0.0, 0.0])
            p[0] += int(m.sum())
            p[1] += float(x.sum())
            p[2] += float((x * x).sum())
            p[3] += float(c.sum())                 # s0
            p[4] += float((c * x).sum())           # scx
            p[5] += float((x * s1).sum())          # sxs1
            p[6] += float(s1.sum())                # ss1
            p[7] += float(s2.sum())                # ss2
            p[8] += float((c * x * x).sum())       # scx2
    rows = []
    for bi in sorted(agg):
        n, sm, sumsq, s0, scx, sxs1, ss1, ss2, scx2 = agg[bi]
        # mirror global_autocorr's Catalyst expressions term for term
        mu = sm / n
        zz = sumsq - n * mu * mu
        num_i = sxs1 - mu * (scx + ss1) + mu * mu * s0
        num_c = scx2 - 2.0 * sxs1 + ss2
        ok = s0 > 0 and zz > 0 and n > 1
        rows.append({
            "band": bi, "n": n, "s0": int(s0),
            "moran_i": (_round_half_up((n / s0) * num_i / zz, 6)
                        if ok else None),
            "geary_c": (_round_half_up(((n - 1.0) * num_c)
                                       / (2.0 * s0 * zz), 6)
                        if ok else None),
            "e_i": (_round_half_up(-1.0 / (n - 1.0), 6)
                    if n > 1 else None),
        })
    return rows


def image_hotspots_rows():
    """Masked median composite → Getis-Ord Gi* hot-spot z-score map
    replicated without Spark: global per-band moments combined over
    ALL zone mosaics exactly as autocorr.hotspots' driver-side closure
    (mean = Σx/n, population std), then gi_star_np (loop-oracle-gated
    in tests/test_autocorr.py) on each NaN-ring-padded mosaic, cropped
    back to tiles through the exact rawf32/-9999 round trip. Gi* is
    deterministic f32, so the checksum is the rounded sum of valid
    z-scores plus valid/nodata/hot counts (|z| ≥ 1.96)."""
    from vrtility_spark import autocorr

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    nb = zones[0][2].shape[0]
    n = np.zeros(nb)
    sm = np.zeros(nb)
    sq = np.zeros(nb)
    for _zone, _lst, G in zones:
        for bi in range(nb):
            v = G[bi][np.isfinite(G[bi])]
            n[bi] += v.size
            sm[bi] += float(v.sum())
            sq[bi] += float((v * v).sum())
    mean = np.zeros(nb)
    std = np.zeros(nb)
    for bi in range(nb):
        if n[bi] > 0:
            mean[bi] = sm[bi] / n[bi]
            std[bi] = float(np.sqrt(max(
                sq[bi] / n[bi] - (sm[bi] / n[bi]) ** 2, 0.0)))
    rows = []
    for _zone, lst, G in zones:
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        Z = autocorr.gi_star_np(P, n, mean, std)
        for cid, jx, jy in lst:
            tile = Z[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "z_sum": round(float(valid.sum()), 4),
                "hot_px": int((np.abs(valid) >= 1.96).sum()),
                "valid_px": int(valid.size),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_local_moran_rows():
    """Masked median composite → local Moran's I (LISA) cluster/outlier
    map replicated without Spark: global per-band moments combined over
    ALL zone mosaics exactly as autocorr.local_moran's driver-side
    closure (mean = Σx/n, population variance m2), then local_moran_np
    (loop-oracle-gated in tests/test_autocorr.py) on each NaN-ring-
    padded mosaic, cropped back to tiles through the exact
    rawf32/-9999 round trip. The payload stacks 2B planes (I_i values
    then quadrant codes), so the checksums are the rounded I sum, the
    four quadrant pixel counts, and the nodata count."""
    from vrtility_spark import autocorr

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    nb = zones[0][2].shape[0]
    n = np.zeros(nb)
    sm = np.zeros(nb)
    sq = np.zeros(nb)
    for _zone, _lst, G in zones:
        for bi in range(nb):
            v = G[bi][np.isfinite(G[bi])]
            n[bi] += v.size
            sm[bi] += float(v.sum())
            sq[bi] += float((v * v).sum())
    mean = np.zeros(nb)
    m2 = np.zeros(nb)
    for bi in range(nb):
        if n[bi] > 0:
            mean[bi] = sm[bi] / n[bi]
            m2[bi] = max(sq[bi] / n[bi] - (sm[bi] / n[bi]) ** 2, 0.0)
    rows = []
    for _zone, lst, G in zones:
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        Z = autocorr.local_moran_np(P, n, mean, m2)
        for cid, jx, jy in lst:
            tile = Z[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            li = dec[:nb][dec[:nb] != -9999.0]
            quad = dec[nb:]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "li_sum": round(float(li.sum()), 4),
                "hh_px": int((quad == 1.0).sum()),
                "ll_px": int((quad == 2.0).sum()),
                "hl_px": int((quad == 3.0).sum()),
                "lh_px": int((quad == 4.0).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def _epoch_composite_tiles(date_pred):
    """Masked median composite tiles of the fixture scenes passing
    ``date_pred(datetime) -> bool`` — per-cell float-masked arrays +
    (band_nodata, n_scenes) meta; the two-epoch preamble of the
    IR-MAD constants."""
    pdf = _grouped_fixture()
    pdf = pdf[pdf["datetime"].map(date_pred)]
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        enc = codec.from_float(out, nd, "uint16")
        tiles[int(cell_id)] = codec.to_float_masked(enc, nd)
        meta[int(cell_id)] = (nd, len(grp))
    return tiles, meta


def _decimal_moments(early, late, cids, model):
    """One Decimal-summed moments pass over per-tile blocks — the
    exact replay of the distributed DECIMAL(38,6) agg: both sides
    round the SHORTEST decimal repr of each per-tile double HALF_UP
    onto the 1e-6 grid, then sum exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    from vrtility_spark import mad

    q6 = Decimal("0.000001")
    acc = None
    for cid in cids:
        blk = mad.pair_moments_np(early[cid], late[cid], model)
        dec = [Decimal(repr(float(v))).quantize(
            q6, rounding=ROUND_HALF_UP) for v in blk]
        acc = dec if acc is None else [a + b for a, b in zip(acc, dec)]
    flat = np.array([float(v) for v in acc])
    nb2 = int(round((np.sqrt(9 + 8 * (flat.size - 1)) - 3) / 2))
    s0 = flat[0]
    s1 = flat[1:1 + nb2]
    s2 = np.zeros((nb2, nb2))
    iu = np.triu_indices(nb2)
    s2[iu] = flat[1 + nb2:]
    s2 = s2 + np.triu(s2, 1).T
    return s0, s1, s2, nb2 // 2


def image_irmad_rows():
    """Two epoch composites (months ≤ 4 vs ≥ 5) → IR-MAD change
    planes replicated without Spark: per-tile sufficient-statistic
    blocks from mad.pair_moments_np (loop-/identity-gated in tests/
    test_mad.py), summed with Python Decimal quantized HALF_UP at the
    same 1e-6 grid Spark's double→DECIMAL(38,6) cast uses (both sides
    round the SHORTEST decimal repr of the double), solved with the
    deterministic mad.solve_mad, applied with mad.mad_np, and cropped
    through the exact rawf32/-9999 round trip. Checksums: rounded MAD
    and χ² sums, χ²(B)>11.0705 (95 %) change count, valid/nodata
    counts."""
    from vrtility_spark import mad

    early, metaE = _epoch_composite_tiles(lambda d: d.month <= 4)
    late, _metaL = _epoch_composite_tiles(lambda d: d.month >= 5)
    cids = sorted(set(early) & set(late))
    model = None
    for _ in range(2):  # n_iter=1 -> two moments passes
        s0, s1, s2, nb = _decimal_moments(early, late, cids, model)
        model = mad.solve_mad(s0, s1, s2, nb)

    rows = []
    for cid in cids:
        planes = mad.mad_np(early[cid], late[cid], model)
        payload = codec.encode(
            codec.from_float(planes, -9999.0, "float32"), "rawf32")
        h, w = planes.shape[1], planes.shape[2]
        dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
        nb = model.nb
        madv = dec[:nb][dec[:nb] != -9999.0]
        chi2 = dec[nb][dec[nb] != -9999.0]
        rows.append({
            "cell_id": cid, "n_scenes": metaE[cid][1],
            "payload_len": len(payload),
            "mad_sum": round(float(madv.sum()), 4),
            "chi2_sum": round(float(chi2.sum()), 4),
            "change_px": int((chi2 > 11.0705).sum()),
            "valid_px": int(chi2.size),
            "nodata_px": int((dec[nb] == -9999.0).sum()),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_radcal_rows():
    """Epoch composites → IR-MAD-driven radiometric normalization
    replicated without Spark: the same Decimal-summed fit as
    image_irmad_rows, one extra χ²-weighted moments pass into
    mad.solve_radcal (closed-form-gated in tests/test_mad.py), the
    late epoch rewritten with mad.radcal_np through the exact
    rawf32/-9999 round trip. Checksums: rounded corrected-pixel sum
    per cell plus the global per-band gain/offset/corr coefficients
    repeated as literal columns (pinning the broadcast model
    itself)."""
    from vrtility_spark import mad

    early, _metaE = _epoch_composite_tiles(lambda d: d.month <= 4)
    late, metaL = _epoch_composite_tiles(lambda d: d.month >= 5)
    cids = sorted(set(early) & set(late))
    model = None
    for _ in range(2):  # n_iter=1
        s0, s1, s2, nb = _decimal_moments(early, late, cids, model)
        model = mad.solve_mad(s0, s1, s2, nb)
    s0, s1, s2, nb = _decimal_moments(early, late, cids, model)
    rc = mad.solve_radcal(s0, s1, s2, nb)
    rows = []
    for cid in cids:
        out = mad.radcal_np(late[cid], rc)
        payload = codec.encode(
            codec.from_float(out, -9999.0, "float32"), "rawf32")
        h, w = out.shape[1], out.shape[2]
        dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
        valid = dec[dec != -9999.0]
        rows.append({
            "cell_id": cid, "n_scenes": metaL[cid][1],
            "payload_len": len(payload),
            "pix_sum": round(float(valid.sum()), 4),
            "valid_px": int(valid.size),
            "nodata_px": int((dec == -9999.0).sum()),
            "gain0_r": round(float(rc.gain[0]), 6),
            "offset0_r": round(float(rc.offset[0]), 4),
            "corr0_r": round(float(rc.corr[0]), 6),
        })
    return sorted(rows, key=lambda d: d["cell_id"])


def zonal_percentile_rows():
    """Masked median composite → exact per-AOI interpolated
    percentiles replicated without Spark: the same composite tiles
    and bbox cover as zonal_rows, the per-(aoi, band) inside-pixel
    multiset rebuilt from zonal.value_counts_np (loop-gated in
    tests/test_zonal.py), quantiles via np.percentile(method=
    'linear') — the identical interpolation the engine's cumulative-
    window expressions implement."""
    from vrtility_spark import zonal
    from vrtility_spark.join import parse_wkt_polygon

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.to_float_masked(
            codec.from_float(out, nd, "uint16"), nd)
    vals: dict[tuple, list] = {}
    for a in datagen.aoi_pandas(nx=2, ny=2).itertuples(index=False):
        zone_a = int(a.srs.split(":")[1])
        ring = parse_wkt_polygon(a.geom_wkt)
        for cid, A in tiles.items():
            zone, res, ix, iy = (int(v) for v in cells.decode_np(cid))
            if zone != zone_a:
                continue
            size = cells.cell_size(res)
            x0, y0 = ix * size, iy * size
            if (x0 + size <= a.xmin or x0 >= a.xmax
                    or y0 + size <= a.ymin or y0 >= a.ymax):
                continue
            for b, v, c in zonal.value_counts_np(
                    A, ring, x0, y0, x0 + size, y0 + size):
                vals.setdefault((a.aoi_id, b), []).extend([v] * c)
    rows = []
    for (aoi_id, band), pix in sorted(vals.items()):
        arr = np.asarray(pix)
        for q in (0.25, 0.5, 0.75):
            rows.append({
                "aoi_id": aoi_id, "band": band, "q": q,
                "value_r": round(float(np.percentile(
                    arr, q * 100, method="linear")), 6),
                "total": int(arr.size),
            })
    return rows


def image_quality_rows():
    """Per-scene image quality statistics replicated without Spark:
    imagestats.quality_np (loop-/closed-form-gated in tests/
    test_imagestats.py) replayed over the nx=1 ny=1 fixture rows —
    every statistic is a deterministic function of one scene's pixels,
    so the constants pin the distributed Arrow pass row-for-row."""
    from vrtility_spark import imagestats

    pdf = datagen.images_pandas(nx=1, ny=1, w=16, h=16)
    rows = []
    for _, row in pdf.iterrows():
        arr = codec.decode(row["bytes"], int(row.w), int(row.h),
                           row.fmt)
        nd = np.asarray(row.band_nodata, dtype=np.float64)
        A = codec.to_float_masked(arr, nd)
        for bi, st in enumerate(
                imagestats.quality_np(A, 0.0, 65535.0, 0.02)):
            n_valid, vf, mean, std, blur, ent, dk, br = st
            rows.append({
                "image_id": row.image_id, "band": bi,
                "n_valid": n_valid,
                "valid_frac_r": round(vf, 6),
                "mean_r": round(mean, 4),
                "std_r": round(std, 4),
                "blur_r": round(blur, 2),
                "entropy_r": round(ent, 6),
                "dark_r": round(dk, 6),
                "bright_r": round(br, 6),
            })
    return sorted(rows, key=lambda d: (d["image_id"], d["band"]))


def image_basins_rows():
    """Masked median composite → D8 flowdir → watershed basins
    replicated without Spark: per-zone mosaics NaN-padded and coded
    with terrain.flow_direction_np, labeled with hydrology.basins_np
    (walk-oracle-gated in tests/test_fillsinks_basins.py) anchored at
    the zone's ABSOLUTE tile offsets — the distributed operator labels
    each pixel with its terminal pixel's zone-global ``gy * BASIN_SPAN
    + gx`` — cropped back to tiles through the exact rawf64/-9999
    round trip. Labels are exact integers, so the checksums are their
    plain sum, the distinct-basin count per tile, and the nodata
    count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        codes = terrain.flow_direction_np(P, sx, sy)
        cid0, jx0, jy0 = lst[0]
        _z, _res, aix, aiy = (int(v) for v in cells.decode_np(cid0))
        x0, y0 = aix - jx0, aiy - jy0
        lab = hydrology.basins_np(codes, oy=y0 * h, ox=x0 * w)
        for cid, jx, jy in lst:
            tile = lab[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float64"), "rawf64")
            dec = codec.decode(payload, w, h, "rawf64")
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "lab_sum": int(valid.astype(np.int64).sum()),
                "n_basins": int(np.unique(valid).size),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_cloudshadow_rows():
    """Masked median composite → one-break bright-pixel cloud
    classification → geometric cloud-shadow sweep replicated without
    Spark: per-zone band-0 mosaics classified with algebra.classify_np,
    NaN-padded by the displacement radius, and projected with
    masks.cloud_shadow_np (walk-oracle-gated in
    tests/test_cloudshadow.py), cropped back to tiles through the
    exact rawf32/-9999 round trip. Values are {0, 1, -9999}, so the
    checksums are the three exact counts."""
    import __spark_entry__ as entry
    from vrtility_spark import masks
    from vrtility_spark.algebra import classify_np

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    geom = entry.CLOUDSHADOW_GEOM
    shifts = masks.shadow_shifts(geom["azimuth"], geom["elevation"],
                                 geom["cloud_height"], sx, sy)
    r = max(1, max(max(abs(a), abs(b)) for a, b in shifts))
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, Gall in zones:
        G = Gall[:1]  # band 0, like the distributed classify(band=0)
        # the distributed path round-trips the classify output through
        # rawf32 before the shadow stage — replicate exactly
        cls = classify_np(G, [entry.CLOUDSHADOW_BREAK])
        cls = codec.to_float_masked(
            codec.from_float(cls, -9999.0, "float32").astype(np.float64),
            -9999.0)
        P = np.full((1, G.shape[1] + 2 * r, G.shape[2] + 2 * r), np.nan)
        P[:, r:-r, r:-r] = cls
        sh = masks.cloud_shadow_np(P, shifts, r, union=True)
        sh = np.where(np.isnan(cls), np.nan, sh)
        for cid, jx, jy in lst:
            tile = sh[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32")
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "invalid_px": int((dec == np.float32(1.0)).sum()),
                "clear_px": int((dec == np.float32(0.0)).sum()),
                "nodata_px": int((dec == np.float32(-9999.0)).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_tri_rows():
    """Masked median composite → TRI (Riley) / TPI / roughness
    replicated without Spark: per-zone mosaics padded and reduced with
    terrain.tri_np/tpi_np/roughness_np (loop-/closed-form-gated in
    tests/test_terrain.py), each cropped back to tiles through the
    exact rawf32/-9999 round trip.  Checksums are sum(round(v, 3)) in
    f64 over valid pixels in payload order (identical reduction both
    sides) plus the shared -9999 count (the three products share one
    window-validity geography)."""
    from vrtility_spark import terrain

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2, gx * w + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        prods = {"tri": terrain.tri_np(P, alg="riley"),
                 "tpi": terrain.tpi_np(P),
                 "rough": terrain.roughness_np(P)}
        for cid, ix, iy in lst:
            row = {"cell_id": cid, "n_scenes": meta[cid][1]}
            for name, full in prods.items():
                tile = full[:, (iy - y0) * h:(iy - y0 + 1) * h,
                            (ix - x0) * w:(ix - x0 + 1) * w]
                payload = codec.encode(
                    codec.from_float(tile, -9999.0, "float32"), "rawf32")
                dec = codec.decode(payload, w, h, "rawf32") \
                    .astype(np.float64)
                valid = dec[dec != -9999.0]
                row[f"{name}_sum"] = float(np.round(valid, 3).sum())
                row["payload_len"] = len(payload)
                row["nodata_px"] = int((dec == -9999.0).sum())
            rows.append({k: row[k] for k in
                         ("cell_id", "n_scenes", "payload_len",
                          "tri_sum", "tpi_sum", "rough_sum",
                          "nodata_px")})
    return sorted(rows, key=lambda d: d["cell_id"])


def image_focal_stats_rows():
    """Masked median composite → focal std / range / majority
    (radius 1, fill=True) replicated without Spark: per-zone mosaics
    padded and reduced with focal.focal_np (loop-oracle-gated in
    tests/test_focal.py), cropped back to tiles through the exact
    rawf32/-9999 round trip.  Checksums are sum(round(v, 3)) in f64
    over valid pixels per product plus each product's own -9999 count
    (std/range share the >=1-valid-sample geography; majority too,
    listed once)."""
    from vrtility_spark import focal

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        prods = {"std": focal.focal_np(P, "std", 1),
                 "rng": focal.focal_np(P, "range", 1),
                 "maj": focal.focal_np(P, "majority", 1)}
        for cid, jx, jy in lst:
            row = {"cell_id": cid, "n_scenes": meta[cid][1]}
            for name, full in prods.items():
                tile = full[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
                payload = codec.encode(
                    codec.from_float(tile, -9999.0, "float32"), "rawf32")
                dec = codec.decode(payload, w, h, "rawf32") \
                    .astype(np.float64)
                valid = dec[dec != -9999.0]
                row[f"{name}_sum"] = float(np.round(valid, 3).sum())
                row["payload_len"] = len(payload)
                row["nodata_px"] = int((dec == -9999.0).sum())
            rows.append({k: row[k] for k in
                         ("cell_id", "n_scenes", "payload_len",
                          "std_sum", "rng_sum", "maj_sum",
                          "nodata_px")})
    return sorted(rows, key=lambda d: d["cell_id"])


def image_curvature_rows(pixel_size: float = 30.0):
    """Masked median composite → Zevenbergen–Thorne total/profile/plan
    curvature replicated without Spark: per-zone mosaics padded and
    reduced with terrain.curvature_np (loop-/closed-form-gated in
    tests/test_terrain.py), each cropped back to tiles through the
    exact rawf32/-9999 round trip.  Explicit 30 m pixel size (the
    Landsat GSD) keeps the ×100 curvature products in round-number
    range.  Checksums are sum(round(v, 3)) in f64 over valid pixels in
    payload order plus the shared -9999 count (the three products
    share one window-validity geography)."""
    from vrtility_spark import terrain

    h = w = 16
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        prods = {
            "curv": terrain.curvature_np(P, pixel_size, pixel_size,
                                         "total"),
            "prof": terrain.curvature_np(P, pixel_size, pixel_size,
                                         "profile"),
            "plan": terrain.curvature_np(P, pixel_size, pixel_size,
                                         "plan")}
        for cid, jx, jy in lst:
            row = {"cell_id": cid, "n_scenes": meta[cid][1]}
            for name, full in prods.items():
                tile = full[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
                payload = codec.encode(
                    codec.from_float(tile, -9999.0, "float32"), "rawf32")
                dec = codec.decode(payload, w, h, "rawf32") \
                    .astype(np.float64)
                valid = dec[dec != -9999.0]
                row[f"{name}_sum"] = float(np.round(valid, 3).sum())
                row["payload_len"] = len(payload)
                row["nodata_px"] = int((dec == -9999.0).sum())
            rows.append({k: row[k] for k in
                         ("cell_id", "n_scenes", "payload_len",
                          "curv_sum", "prof_sum", "plan_sum",
                          "nodata_px")})
    return sorted(rows, key=lambda d: d["cell_id"])


def image_twi_rows():
    """Masked median composite → topographic wetness index replicated
    without Spark: per-zone mosaics run through flow_direction_np →
    flow_accumulation_np and slope_np (both oracle-gated in their own
    suites), each branch cast through float32 — the distributed
    chain's rawf32 inter-stage round trip — then combined with
    hydrology.twi_np and cropped back to tiles through the exact
    rawf32/-9999 round trip.  Checksum = sum(round(v, 3)) in f64 over
    valid pixels plus the -9999 count."""
    from vrtility_spark import hydrology, terrain

    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    ps = size / w
    zones, meta = _median_zone_mosaics(h, w)
    rows = []
    for _zone, lst, G in zones:
        nb = G.shape[0]
        P = np.full((nb, G.shape[1] + 2, G.shape[2] + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        codes = terrain.flow_direction_np(P, sx, sy)
        acc = hydrology.flow_accumulation_np(codes) \
            .astype(np.float32).astype(np.float64)
        slope = terrain.slope_np(P, sx, sy) \
            .astype(np.float32).astype(np.float64)
        twi = hydrology.twi_np(acc, slope, ps)
        for cid, jx, jy in lst:
            tile = twi[:, jy * h:(jy + 1) * h, jx * w:(jx + 1) * w]
            payload = codec.encode(
                codec.from_float(tile, -9999.0, "float32"), "rawf32")
            dec = codec.decode(payload, w, h, "rawf32").astype(np.float64)
            valid = dec[dec != -9999.0]
            _nd, n_scenes = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "twi_sum": float(np.round(valid, 3).sum()),
                "nodata_px": int((dec == -9999.0).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_colorrelief_rows():
    """Composite → slope → color-relief replicated without Spark:
    per-zone mosaics reduced with terrain.slope_np, cropped back to
    tiles through the exact rawf32/-9999 round trip (the distributed
    inter-stage encoding), then mapped per pixel with
    terrain.color_relief_np and the uint16 encode — per-channel int64
    sums pin every LUT segment, the clamp, and the nv color."""
    from vrtility_spark import terrain

    ramp = ((0.0, 0.0, 0.0, 128.0), (5.0, 0.0, 255.0, 0.0),
            (20.0, 255.0, 255.0, 0.0), (60.0, 255.0, 255.0, 255.0))
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    size = cells.cell_size(datagen.TILE_RES)
    sx, sy = size / w, size / h
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2, gx * w + 2), np.nan)
        P[:, 1:-1, 1:-1] = G
        sl = terrain.slope_np(P, sx, sy)
        for cid, ix, iy in lst:
            tile = sl[:, (iy - y0) * h:(iy - y0 + 1) * h,
                      (ix - x0) * w:(ix - x0 + 1) * w]
            # distributed inter-stage round trip: rawf32/-9999
            sp = codec.decode(
                codec.encode(codec.from_float(tile, -9999.0, "float32"),
                             "rawf32"), w, h, "rawf32")
            A0 = codec.to_float_masked(sp, -9999.0)[0]
            rgb = codec.from_float(
                terrain.color_relief_np(A0, ramp, nv_color=(1, 2, 3)),
                65535.0, "uint16")
            nd_, n_scenes, agg = meta[cid]
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(codec.encode(rgb, "raw16")),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "r_sum": int(np.asarray(rgb[0], np.int64).sum()),
                "g_sum": int(np.asarray(rgb[1], np.int64).sum()),
                "b_sum": int(np.asarray(rgb[2], np.int64).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def point_sample_rows():
    """Masked median composite sampled bilinearly at the deterministic
    demo point set, replicated without Spark: per-zone mosaics of the
    composite tiles (uint16 round trip) fed to pointsample.sample_np
    (loop-oracle-gated in tests/test_pointsample.py). The dyadic point
    lattice makes every stencil weight exact binary, so the
    distributed partial sums match bit-for-bit; NULL rows pin the
    coverage-hole path."""
    from vrtility_spark import pointsample

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    nds: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        nds[int(cell_id)] = nd
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    res = datagen.TILE_RES
    n_global = (1 << res) * w
    pxsize = cells.cell_size(res) / w
    pts = pointsample.demo_points()
    rows = []
    for zone, lst in sorted(by_zone.items()):
        gx = max(ix for _, ix, _ in lst) + 1
        gy = max(iy for _, _, iy in lst) + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], nds[cid])
            G[:, iy * h:(iy + 1) * h, ix * w:(ix + 1) * w] = A
        zp = [(pid, x, y) for pid, z, x, y in pts if z == zone]
        vals = pointsample.sample_np(
            G, n_global, [p[1] for p in zp], [p[2] for p in zp],
            pxsize, "bilinear")
        for i, (pid, _x, _y) in enumerate(zp):
            for b in range(nb):
                v = vals[i, b]
                rows.append({
                    "point_id": pid, "band": b,
                    "value_r": (None if np.isnan(v)
                                else _round_half_up(float(v), 6))})
    return sorted(rows, key=lambda d: (d["point_id"], d["band"]))


def grid_idw_rows():
    """IDW gridding of the deterministic demo point set, replicated
    without Spark: per cover cell, the candidate points are selected
    with the SAME cover_bbox_np arithmetic the distributed cover
    explosion compiles to expressions, sorted by point id, and run
    through grid_np (loop-oracle-gated in tests/test_gridding.py).
    Checksums: payload length, round-3 valid-pixel sum in payload
    order, and the sentinel count (pins the min_points/nodata
    geography)."""
    from vrtility_spark import gridding

    radius = 6144.0  # matches __spark_entry__.GRID_IDW_RADIUS
    res, w, h = datagen.TILE_RES, 16, 16
    size = cells.cell_size(res)
    pts = gridding.demo_grid_points()
    cover: dict[int, list] = {}
    for pid, zone, x, y, v in pts:
        for cid in cells.cover_bbox_np(zone, x - radius, y - radius,
                                       x + radius, y + radius, res):
            cover.setdefault(int(cid), []).append((pid, x, y, v))
    rows = []
    for cid, lst in sorted(cover.items()):
        lst = sorted(lst)  # pid order == the kernel's sort
        _z, _r, ix, iy = (int(t) for t in cells.decode_np(cid))
        surf = gridding.grid_np(
            [t[1] for t in lst], [t[2] for t in lst], [t[3] for t in lst],
            ix * size, iy * size, size, w, h, "invdist", radius, 2.0)
        enc = codec.encode(
            codec.from_float(surf, gridding.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(enc, w, h, "rawf32").astype(np.float64)
        valid = dec[dec != gridding.OUT_NODATA]
        rows.append({
            "cell_id": cid, "n_points": len(lst),
            "payload_len": len(enc),
            "fsum": _round_half_up(float(np.round(valid, 3).sum()), 3),
            "nodata_px": int((dec == gridding.OUT_NODATA).sum()),
        })
    return rows


def image_fillnodata_rows():
    """Masked median composite → spatial IDW gap-fill (max_dist 2.5,
    one smoothing pass) replicated without Spark: per-zone mosaics
    padded by required_pad(2.5, 1) and filled with
    fillnodata.fillnodata_np (loop-oracle-gated in
    tests/test_fillnodata.py), cropped back to tiles through the exact
    uint16 round trip.  Checksums: int64 pixel sum + remaining-
    sentinel count (pins that the holes actually filled)."""
    from vrtility_spark import fillnodata as FN

    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    meta: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = composite.REDUCERS["median"](_masked_stack(grp, nd))
        tiles[int(cell_id)] = codec.from_float(out, nd, "uint16")
        meta[int(cell_id)] = (nd, len(grp),
                              _caption_agg(grp.caption.tolist()))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    max_dist, smoothing = 2.5, 1
    pad = FN.required_pad(max_dist, smoothing)
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        nb = tiles[lst[0][0]].shape[0]
        G = np.full((nb, gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            A = codec.to_float_masked(tiles[cid], meta[cid][0])
            G[:, (iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = A
        P = np.full((nb, gy * h + 2 * pad, gx * w + 2 * pad), np.nan)
        P[:, pad:-pad, pad:-pad] = G
        # coverage = exactly the tile slots that exist (matches the
        # halo exchange's meta["coverage"]): the pad ring and any
        # missing grid positions are void, never filled, never feeding
        # a smoothing mean
        cov = np.zeros(P.shape[1:], bool)
        for _cid, ix, iy in lst:
            cov[pad + (iy - y0) * h:pad + (iy - y0 + 1) * h,
                pad + (ix - x0) * w:pad + (ix - x0 + 1) * w] = True
        filled = FN.fillnodata_np(P, max_dist, smoothing=smoothing,
                                  pad=pad, coverage=cov)
        for cid, ix, iy in lst:
            tile = filled[:, (iy - y0) * h:(iy - y0 + 1) * h,
                          (ix - x0) * w:(ix - x0 + 1) * w]
            nd_, n_scenes, agg = meta[cid]
            payload = codec.encode(
                codec.from_float(tile, nd_, "uint16"), "raw16")
            dec = codec.decode(payload, w, h, "raw16")
            rows.append({
                "cell_id": cid, "n_scenes": n_scenes,
                "payload_len": len(payload),
                "caption_md5": hashlib.md5(agg.encode()).hexdigest(),
                "pix_sum": int(np.asarray(dec, dtype=np.int64).sum()),
                "hole_px": int((dec == dec.dtype.type(0)).sum()),
            })
    return sorted(rows, key=lambda d: d["cell_id"])


def image_harmonic_rows():
    """Per-pixel harmonic regression replicated Spark-free: the masked
    fixture stack in FLOAT64, time in years since trend.TREND_EPOCH,
    the same LAPACK-free normal-equation kernel (gated against a naive
    per-pixel lstsq oracle in tests/test_harmonic.py), encoded through
    the same rawf32/-9999 round trip, checksummed per plane family
    (intercept, slope, sin, cos, amplitude, phase, rmse, n_obs)."""
    from vrtility_spark import harmonic, trend
    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = []
        for r in grp.itertuples(index=False):
            arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
            m01 = masks.build_intmask_np(arr[-1], datagen.S2_MASK_VALUES)
            data = masks.apply_mask_np(arr[:-1], m01, nd[:-1])
            full = np.concatenate([data, arr[-1:]])
            stack.append(codec.to_float_masked(full, nd))
        stack = np.stack(stack)
        ts = trend.t_years(grp.datetime.values.astype("datetime64[ns]")
                           .astype(np.int64))
        planes = harmonic.harmonic_np(ts, stack, n_harmonics=1)
        payload = codec.encode(
            codec.from_float(planes, trend.OUT_NODATA, "float32"),
            "rawf32")
        dec = codec.decode(payload, 16, 16, "rawf32")
        F = harmonic.n_params(1) + 2 * 1 + 2
        nbF = dec.shape[0] // F
        # plane layout is per-BAND blocks of F family planes
        fam = dec.reshape(nbF, F, 16, 16).transpose(1, 0, 2, 3)
        sums = []
        for which in range(F):
            pl = fam[which].astype(np.float64)
            valid = pl[pl != -9999.0]
            sums.append(float(np.round(valid, 3).sum()))
        rows.append({
            "cell_id": int(cell_id),
            "n_scenes": len(grp),
            "payload_len": len(payload),
            "icept_sum": sums[0], "slope_sum": sums[1],
            "sin_sum": sums[2], "cos_sum": sums[3],
            "amp_sum": sums[4], "phase_sum": sums[5],
            "rmse_sum": sums[6], "nobs_sum": sums[7]})
    return sorted(rows, key=lambda r: r["cell_id"])


def image_polygonize_rows():
    """First-valid composite per cell (incremental ≡ stack parity is
    pytest-gated in test_bounded), then region extraction on the SCL
    plane replicated Spark-free: per-zone mosaics are assembled and
    labeled with regions.label_np (loop-oracle-gated against a naive
    BFS in tests/test_regions.py), and the operator's output rows are
    rebuilt in GLOBAL pixel-id space with per-tile partial bboxes —
    pinning the seam matching and the distributed component merge
    exactly."""
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nd)
            for r in grp.itertuples(index=False)])
        out = composite.REDUCERS["first"](stack)
        pay = codec.from_float(out, nd, "uint16")
        tiles[int(cell_id)] = codec.to_float_masked(pay, nd)[-1]
    return _region_rows_from_planes(tiles)


def contour_rows():
    """Contour polygons replicated Spark-free: the masked median
    composite's band 0 (uint16 round trip) digitized with
    algebra.classify_np through the rawf32 round trip, then the SAME
    mosaic region oracle as polygonize, with the class index mapped to
    its level bounds (NULL on the open ends)."""
    from vrtility_spark import algebra

    breaks = [2000.0, 3500.0, 5000.0]  # __spark_entry__.CONTOUR_BREAKS
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            med = composite.REDUCERS["median"](_masked_stack(grp, nd))
        pay = codec.from_float(med, nd, "uint16")
        plane = codec.to_float_masked(pay, nd)[0]
        cls = algebra.classify_np(plane[None], breaks)
        enc = codec.encode(
            codec.from_float(cls, -9999.0, "float32"), "rawf32")
        tiles[int(cell_id)] = codec.to_float_masked(
            codec.decode(enc, pay.shape[2], pay.shape[1], "rawf32"),
            -9999.0)[0]
    out = []
    for r in _region_rows_from_planes(tiles):
        lvl = int(r.pop("value"))
        r["level"] = lvl
        r["level_min"] = breaks[lvl - 1] if lvl >= 1 else None
        r["level_max"] = breaks[lvl] if lvl < len(breaks) else None
        out.append(r)
    return out


def _region_rows_from_planes(tiles: dict):
    """Shared mosaic oracle for the polygonize-family queries: label
    per-zone mosaics of single ``(h, w)`` planes with regions.label_np
    and rebuild the operator's region rows (global min-pixel ids,
    mosaic-exact perimeters, per-tile partial bboxes)."""
    from vrtility_spark import regions as regions_mod

    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h, w = next(iter(tiles.values())).shape
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0g = min(ix for _, ix, _ in lst)
        y0g = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0g + 1
        gy = max(iy for _, _, iy in lst) - y0g + 1
        G = np.full((gy * h, gx * w), np.nan)
        pos: dict[tuple, int] = {}
        for cid, ix, iy in lst:
            G[(iy - y0g) * h:(iy - y0g + 1) * h,
              (ix - x0g) * w:(ix - x0g + 1) * w] = tiles[cid]
            pos[(ix - x0g, iy - y0g)] = cid
        L = regions_mod.label_np(G, np.isfinite(G))
        Hm, Wm = L.shape
        Pd = np.full((Hm + 2, Wm + 2), -2, dtype=np.int64)
        Pd[1:-1, 1:-1] = L
        for lb in np.unique(L[L >= 0]):
            ys, xs = np.nonzero(L == lb)
            perim = 0  # exposed pixel edges, counted on the MOSAIC
            for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                nb = Pd[1 + dy:1 + dy + Hm, 1 + dx:1 + dx + Wm]
                perim += int(((L == lb) & (nb != L)).sum())
            per_tile: dict[tuple, list] = {}
            for y, x in zip(ys, xs):
                per_tile.setdefault((x // w, y // h), []).append(
                    (y % h, x % w))
            pids, bx0, by0, bx1, by1 = [], [], [], [], []
            for (tx, ty), pix in per_tile.items():
                cid = pos[(tx, ty)]
                pids.append(min(cid * regions_mod.PID_RADIX + py * w + px
                                for py, px in pix))
                cx0, cy0, size = (float(v)
                                  for v in cells.cell_frame_np(cid))
                lx = [px for _, px in pix]
                ly = [py for py, _ in pix]
                bx0.append(cx0 + min(lx) * (size / w))
                bx1.append(cx0 + (max(lx) + 1) * (size / w))
                by0.append(cy0 + min(ly) * (size / h))
                by1.append(cy0 + (max(ly) + 1) * (size / h))
            rows.append({
                "region_id": int(min(pids)),
                "value": float(G[ys[0], xs[0]]),
                "pixel_count": int(len(ys)),
                "perimeter": int(perim),
                "n_tiles": int(len(per_tile)),
                "xmin": min(bx0), "ymin": min(by0),
                "xmax": max(bx1), "ymax": max(by1)})
    return sorted(rows, key=lambda r: r["region_id"])


def image_pansharpen_rows():
    """Pan-sharpening replicated Spark-free: the median composite per
    cell, a deterministic synthetic pan tile (2x nearest replication
    of the 3-band intensity + a ±40 checkerboard ripple — the same
    recipe the driver query builds in its Arrow map), fused with
    pansharpen_np (closed-form/fidelity-gated in
    tests/test_pansharpen.py), per-plane rounded sums + sentinel
    counts through the rawf32 round trip."""
    from vrtility_spark import pansharpen as ps

    pdf = _grouped_fixture()
    rows = []
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nd)
            for r in grp.itertuples(index=False)])
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            med = composite.REDUCERS["median"](stack)
        pay = codec.from_float(med, nd, "uint16")
        A = codec.to_float_masked(pay, nd)
        M = A[:3].mean(axis=0)
        P = np.repeat(np.repeat(M, 2, axis=0), 2, axis=1)
        yy, xx = np.mgrid[0:32, 0:32]
        P = np.round(P) + ((yy + xx) % 2) * 40.0
        pan_pay = codec.from_float(P[None], 0.0, "uint16")
        Pm = codec.to_float_masked(pan_pay, 0.0)[0]
        out = ps.pansharpen_np(A[:3], Pm, "brovey")
        payload = codec.encode(
            codec.from_float(out, ps.OUT_NODATA, "float32"), "rawf32")
        dec = codec.decode(payload, 32, 32, "rawf32")
        sums = []
        for b in range(3):
            valid = dec[b][dec[b] != -9999.0]
            sums.append(float(np.round(valid.astype(np.float64),
                                       3).sum()))
        rows.append({
            "cell_id": int(cell_id),
            "payload_len": len(payload),
            "b0_sum": sums[0], "b1_sum": sums[1], "b2_sum": sums[2],
            "nodata_px": int((dec == -9999.0).sum())})
    return sorted(rows, key=lambda r: r["cell_id"])


def image_sieve_rows():
    """Sieve replicated Spark-free: per-zone mosaics of the first-valid
    composite's SCL plane are labeled with regions.label_np
    (loop-oracle-gated), region ids/sizes mapped into GLOBAL pixel-id
    space, the adjacency graph scanned directly, and every
    sub-threshold region rewritten to its largest neighbour's value
    with the operator's exact tie-break (max size, then min region
    id) — pinning global sizes, the RAG, and the patch-by-relabeling
    write-back."""
    from collections import defaultdict

    from vrtility_spark import regions as regions_mod

    MIN_PX = 8
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    metas: dict[int, tuple] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(r.bytes, r.w, r.h, r.fmt), nd)
            for r in grp.itertuples(index=False)])
        out = composite.REDUCERS["first"](stack)
        pay = codec.from_float(out, nd, "uint16")
        tiles[int(cell_id)] = pay
        metas[int(cell_id)] = (nd, len(grp))
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        G = np.full((gy * h, gx * w), np.nan)
        pos: dict[tuple, int] = {}
        for cid, ix, iy in lst:
            nd = metas[cid][0]
            G[(iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = \
                codec.to_float_masked(tiles[cid], nd)[-1]
            pos[(ix - x0, iy - y0)] = cid
        L = regions_mod.label_np(G, np.isfinite(G))
        comp_of, size_c, val_c = {}, {}, {}
        for lb in np.unique(L[L >= 0]):
            ys, xs = np.nonzero(L == lb)
            pids = [pos[(x // w, y // h)] * regions_mod.PID_RADIX
                    + (y % h) * w + (x % w)
                    for y, x in zip(ys, xs)]
            c = min(pids)
            comp_of[lb] = c
            size_c[c] = len(ys)
            val_c[c] = float(G[ys[0], xs[0]])
        nbrs = defaultdict(set)
        Hm, Wm = G.shape
        for y in range(Hm):
            for x in range(Wm):
                if L[y, x] < 0:
                    continue
                for dy, dx in ((0, 1), (1, 0)):
                    ny, nx = y + dy, x + dx
                    if (ny < Hm and nx < Wm and L[ny, nx] >= 0
                            and L[ny, nx] != L[y, x]):
                        a, b = comp_of[L[y, x]], comp_of[L[ny, nx]]
                        nbrs[a].add(b)
                        nbrs[b].add(a)
        G2 = G.copy()
        for lb, c in comp_of.items():
            if size_c[c] >= MIN_PX:
                continue
            cands = sorted(nbrs[c], key=lambda n: (-size_c[n], n))
            if not cands:
                continue
            G2[L == lb] = val_c[cands[0]]
        for cid, ix, iy in lst:
            nd, n_sc = metas[cid]
            arr = tiles[cid].copy()
            scl = G2[(iy - y0) * h:(iy - y0 + 1) * h,
                     (ix - x0) * w:(ix - x0 + 1) * w]
            plane = arr[-1].copy()
            m = np.isfinite(scl)
            plane[m] = np.round(scl[m]).astype(plane.dtype)
            arr[-1] = plane
            payload = codec.encode(arr, "raw16")
            rows.append({
                "cell_id": int(cid),
                "n_scenes": int(n_sc),
                "payload_len": len(payload),
                "pix_sum": int(np.asarray(
                    codec.decode(payload, w, h, "raw16"),
                    dtype=np.int64).sum())})
    return sorted(rows, key=lambda r: r["cell_id"])


def image_proximity_rows():
    """Proximity raster replicated Spark-free: per-zone mosaics of the
    first-valid composite's SCL plane, the same capped-EDT kernel
    (loop-oracle-gated against brute min-over-targets in
    tests/test_proximity.py) on the NaN-padded mosaic, cropped back to
    tiles through the identical rawf32/-9999 round trip — pinning the
    halo exchange (distances crossing tile seams) exactly."""
    from vrtility_spark import proximity as prox

    MD = 5.0
    r = int(np.ceil(MD))
    pdf = _grouped_fixture()
    tiles: dict[int, np.ndarray] = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(rr.bytes, rr.w, rr.h, rr.fmt), nd)
            for rr in grp.itertuples(index=False)])
        out = composite.REDUCERS["first"](stack)
        pay = codec.from_float(out, nd, "uint16")
        tiles[int(cell_id)] = codec.to_float_masked(pay, nd)[-1]
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    rows = []
    for zone, lst in sorted(by_zone.items()):
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        G = np.full((gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            G[(iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = tiles[cid]
        P = np.full((1, gy * h + 2 * r, gx * w + 2 * r), np.nan)
        P[:, r:-r, r:-r] = G
        D = prox.proximity_np(P, [9.0], MD)[0][r:r + gy * h,
                                               r:r + gx * w]
        D = np.where(np.isinf(D), MD, D)  # beyond="clip"
        for cid, ix, iy in lst:
            tile = D[(iy - y0) * h:(iy - y0 + 1) * h,
                     (ix - x0) * w:(ix - x0 + 1) * w]
            payload = codec.encode(
                codec.from_float(tile[None], prox.OUT_NODATA, "float32"),
                "rawf32")
            dec = codec.decode(payload, w, h, "rawf32")
            valid = dec[dec != prox.OUT_NODATA]
            rows.append({
                "cell_id": int(cid),
                "payload_len": len(payload),
                "dist_sum": float(np.round(valid.astype(np.float64),
                                           3).sum()),
                "zero_px": int((dec == 0.0).sum()),
                "cap_px": int((dec == np.float32(MD)).sum())})
    return sorted(rows, key=lambda rr: rr["cell_id"])


def image_viewshed_rows():
    """Viewshed replicated Spark-free: the first-valid composite's band
    0 as the DEM, per-zone mosaics, the same R3 DDA kernel (loop-oracle-
    gated against a per-pixel Python twin in tests/test_viewshed.py) run
    per fixture observer on the full-zone mosaic — exact because rays
    never leave the max_dist disk — then cropped back to the observer's
    bbox-cover cells through the identical raw16 round trip, pinning the
    disk cover explosion, the tile join fan-in, and the per-observer
    grouped assembly."""
    from vrtility_spark import viewshed as vsh

    P = vsh.FIXTURE_PARAMS
    pdf = _grouped_fixture()
    tiles = {}
    for cell_id, grp in pdf.groupby("cell_id"):
        grp = grp.sort_values("datetime", kind="mergesort")
        nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
        stack = np.stack([
            codec.to_float_masked(
                codec.decode(rr.bytes, rr.w, rr.h, rr.fmt), nd)
            for rr in grp.itertuples(index=False)])
        out = composite.REDUCERS["first"](stack)
        pay = codec.from_float(out, nd, "uint16")
        tiles[int(cell_id)] = codec.to_float_masked(pay, nd)[P["band"]]
    by_zone: dict[int, list] = {}
    for cid in tiles:
        zone, _res, ix, iy = (int(v) for v in cells.decode_np(cid))
        by_zone.setdefault(zone, []).append((cid, ix, iy))
    h = w = 16
    res = datagen.TILE_RES
    size = cells.cell_size(res)
    pxs = size / w
    md_px = P["max_dist"] / pxs
    rows = []
    for o in vsh.fixture_observers().itertuples(index=False):
        zone = int(o.zone)
        lst = by_zone.get(zone, [])
        if not lst:
            continue
        x0 = min(ix for _, ix, _ in lst)
        y0 = min(iy for _, _, iy in lst)
        gx = max(ix for _, ix, _ in lst) - x0 + 1
        gy = max(iy for _, _, iy in lst) - y0 + 1
        G = np.full((gy * h, gx * w), np.nan)
        for cid, ix, iy in lst:
            G[(iy - y0) * h:(iy - y0 + 1) * h,
              (ix - x0) * w:(ix - x0 + 1) * w] = tiles[cid]
        oc = float(o.x) / pxs - 0.5 - x0 * w
        orow = float(o.y) / pxs - 0.5 - y0 * h
        V = vsh.viewshed_np(G, oc, orow, P["obs_height"],
                            P["target_height"], md_px)
        r_ = P["max_dist"]
        cover = set(int(c) for c in cells.cover_bbox_np(
            zone, float(o.x) - r_, float(o.y) - r_,
            float(o.x) + r_, float(o.y) + r_, res))
        present = [(cid, ix, iy) for cid, ix, iy in lst if cid in cover]
        for cid, ix, iy in present:
            tile = V[(iy - y0) * h:(iy - y0 + 1) * h,
                     (ix - x0) * w:(ix - x0 + 1) * w]
            payload = codec.encode(tile[None].astype(np.uint16), "raw16")
            dec = codec.decode(payload, w, h, "raw16")
            rows.append({
                "obs_id": int(o.obs_id),
                "cell_id": int(cid),
                "n_tiles": len(present),
                "payload_len": len(payload),
                "visible_px": int((dec == 1).sum()),
                "hidden_px": int((dec == 0).sum()),
                "outside_px": int((dec == 255).sum())})
    return sorted(rows, key=lambda rr: (rr["obs_id"], rr["cell_id"]))


def image_histmatch_rows():
    """Histogram matching replicated Spark-free: first-valid composites
    as the source collection, median composites of the same fixture as
    the reference, per-band LUTs built from COLLECTION-GLOBAL exact
    histograms (all zones pooled — pinning that the stats pass is one
    global aggregate, not per-tile), applied per tile through the
    identical rawf32/-9999 round trip."""
    from vrtility_spark import histmatch

    pdf = _grouped_fixture()

    def composited(how):
        out = {}
        for cell_id, grp in pdf.groupby("cell_id"):
            grp = grp.sort_values("datetime", kind="mergesort")
            nd = np.asarray(grp.iloc[0].band_nodata, dtype=np.float64)
            stack = np.stack([
                codec.to_float_masked(
                    codec.decode(rr.bytes, rr.w, rr.h, rr.fmt), nd)
                for rr in grp.itertuples(index=False)])
            red = composite.REDUCERS[how](stack)
            pay = codec.from_float(red, nd, "uint16")
            out[int(cell_id)] = codec.to_float_masked(pay, nd)
        return out

    src = composited("first")
    ref = composited("median")
    nb = next(iter(src.values())).shape[0]
    luts = {}
    for b in range(nb):
        xs = np.concatenate([t[b][np.isfinite(t[b])] for t in src.values()])
        rs = np.concatenate([t[b][np.isfinite(t[b])] for t in ref.values()])
        sv, sc = np.unique(xs, return_counts=True)
        rv, rc = np.unique(rs, return_counts=True)
        luts[b] = (sv, histmatch.match_lut(sv, sc, rv, rc))
    rows = []
    for cid, P in src.items():
        out = np.full(P.shape, np.nan)
        for b in range(nb):
            sv, lut = luts[b]
            m = np.isfinite(P[b])
            if m.any():
                out[b][m] = lut[np.clip(
                    np.searchsorted(sv, P[b][m]), 0, len(sv) - 1)]
        payload = codec.encode(
            codec.from_float(out, -9999.0, "float32"), "rawf32")
        dec = codec.decode(payload, P.shape[2], P.shape[1], "rawf32")
        valid = dec[dec != -9999.0]
        rows.append({
            "cell_id": int(cid),
            "payload_len": len(payload),
            "valid_sum": float(np.round(valid.astype(np.float64),
                                        3).sum()),
            "nodata_px": int((dec == -9999.0).sum())})
    return sorted(rows, key=lambda rr: rr["cell_id"])


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        # an unadorned 17-digit literal parses as DECIMAL in DuckDB and
        # loses ~1e-11; casting the string is exactly the IEEE double
        return f"cast('{v!r}' as double)"
    return str(v)


def values_sql(rows, columns) -> str:
    vals = ",\n              ".join(
        "(" + ", ".join(_sql_lit(r[c]) for c in columns) + ")"
        for r in rows)
    cols = ", ".join(columns)
    return (f"select * from (values\n              {vals}\n"
            f"            ) as t({cols})")


def main() -> None:
    oracles = {
        "image_median_composite": values_sql(
            image_composite_rows("median"),
            ["cell_id", "n_scenes", "dt_med", "payload_len",
             "caption_md5", "pix_sum"]),
        # split->composite->assemble must be byte-identical to the
        # direct median composite: SAME expected rows, separate entry
        "image_split_composite": values_sql(
            image_composite_rows("median"),
            ["cell_id", "n_scenes", "dt_med", "payload_len",
             "caption_md5", "pix_sum"]),
        # per-cell budget router: only the duplicated (hot) cell splits
        "image_budget_composite": values_sql(
            image_budget_rows(),
            ["cell_id", "n_scenes", "dt_med", "payload_len",
             "caption_md5", "pix_sum"]),
        # composite -> focal mean: pins the distributed halo exchange
        "image_focal_mean": values_sql(
            image_focal_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # composite -> morphological open: pins the FUSED two-stage
        # (erode -> dilate) kernel riding one 2r halo exchange
        "image_morphology": values_sql(
            image_morphology_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # composite -> D8 flow direction: pins the hydrology kernel
        # through the same halo exchange
        "image_flowdir": values_sql(
            image_flowdir_rows(),
            ["cell_id", "n_scenes", "payload_len", "code_sum",
             "sink_px", "nodata_px"]),
        # composite -> flowdir -> flow accumulation: pins the
        # cross-tile boundary-mass rounds against the mosaic kernel
        "image_flowacc": values_sql(
            image_flowacc_rows(),
            ["cell_id", "n_scenes", "payload_len", "acc_sum",
             "acc_max", "stream_px", "nodata_px"]),
        # composite -> flowdir -> downstream flow length: pins the
        # packed-count pointer jumping against the mosaic kernel
        "image_flowlength": values_sql(
            image_flowlength_rows(),
            ["cell_id", "n_scenes", "payload_len", "len_sum",
             "len_max", "nodata_px"]),
        # composite -> flowdir -> pour-point watershed: pins the
        # burn + basins + relabel composition incl. ties/inert outlets
        "image_watershed": values_sql(
            image_watershed_rows(),
            ["cell_id", "n_scenes", "payload_len", "lab_sum",
             "n_lab", "nodata_px"]),
        # composite -> flowdir -> upstream flow length: pins the
        # packed-count topological wavefront against the mosaic kernel
        "image_upstream_length": values_sql(
            image_upstream_length_rows(),
            ["cell_id", "n_scenes", "payload_len", "len_sum",
             "len_max", "nodata_px"]),
        # composite -> depression filling: pins the cross-tile
        # strip-exchange relaxation against priority-flood on the mosaic
        "image_fillsinks": values_sql(
            image_fillsinks_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum",
             "pix4_sum", "nodata_px"]),
        # composite -> cost distance: pins the additive-geodesic
        # strip-exchange relaxation against multi-source Dijkstra on
        # the mosaic
        "image_costdist": values_sql(
            image_costdist_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum",
             "pix4_sum", "src_px", "nodata_px"]),
        # cost distance + backlink -> basins walk = cost allocation
        "image_costalloc": values_sql(
            image_costalloc_rows(),
            ["cell_id", "n_scenes", "payload_len", "lab_sum",
             "n_alloc", "nodata_px"]),
        # composite -> exact global histogram -> Otsu -> classify:
        # pins the auto-threshold chain end to end
        "image_otsu": values_sql(
            image_otsu_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum",
             "nodata_px", "threshold"]),
        # composite -> threshold labels -> supervised Gaussian ML
        # classification: pins the exact-decimal distributed fit +
        # broadcast classify against the merged-stats mosaic model
        "image_mlc": values_sql(
            image_mlc_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum",
             "nodata_px"]),
        # composite -> flowdir -> Strahler order: pins the cross-tile
        # topological wavefront against the mosaic Kahn kernel
        "image_streamorder": values_sql(
            image_streamorder_rows(),
            ["cell_id", "n_scenes", "payload_len", "ord_sum",
             "ord_max", "head_px", "nodata_px"]),
        # composite vs its gaussian-smoothed twin -> windowed SSIM:
        # pins the stacked-pair halo exchange against the mosaic kernel
        "image_ssim": values_sql(
            image_ssim_rows(),
            ["cell_id", "n_scenes", "payload_len", "ssim_sum",
             "valid_px", "nodata_px"]),
        # composite -> global Moran/Geary: pins the two-pass partial
        # aggregation against the mosaic-replayed closed forms
        "autocorr_global": values_sql(
            image_autocorr_rows(),
            ["band", "n", "s0", "moran_i", "geary_c", "e_i"]),
        # composite -> Gi* hot-spot map: pins the moments closure +
        # halo-exchange kernel against the mosaic kernel
        "image_hotspots": values_sql(
            image_hotspots_rows(),
            ["cell_id", "n_scenes", "payload_len", "z_sum", "hot_px",
             "valid_px", "nodata_px"]),
        # composite -> LISA cluster/outlier map: pins the moments
        # closure + halo-exchange kernel against the mosaic kernel
        "image_local_moran": values_sql(
            image_local_moran_rows(),
            ["cell_id", "n_scenes", "payload_len", "li_sum", "hh_px",
             "ll_px", "hl_px", "lh_px", "nodata_px"]),
        # two epoch composites -> IR-MAD: pins the decimal-summed
        # sufficient-statistic fit + canonical solve + applied change
        # planes against the Decimal-replaying driver twin
        "image_irmad": values_sql(
            image_irmad_rows(),
            ["cell_id", "n_scenes", "payload_len", "mad_sum",
             "chi2_sum", "change_px", "valid_px", "nodata_px"]),
        # epoch composites -> IR-MAD-weighted orthogonal regression:
        # pins the weighted moments pass, the per-band solve, and the
        # broadcast-model rewrite
        "image_radcal": values_sql(
            image_radcal_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum",
             "valid_px", "nodata_px", "gain0_r", "offset0_r",
             "corr0_r"]),
        # per-scene curation statistics: pins the zero-shuffle Arrow
        # pass row-for-row against the driver-side kernel replay
        "image_quality_stats": values_sql(
            image_quality_rows(),
            ["image_id", "band", "n_valid", "valid_frac_r", "mean_r",
             "std_r", "blur_r", "entropy_r", "dark_r", "bright_r"]),
        # composite -> flowdir -> watershed basins: pins the
        # boundary-graph pointer jumping against the mosaic kernel
        "image_basins": values_sql(
            image_basins_rows(),
            ["cell_id", "n_scenes", "payload_len", "lab_sum",
             "n_basins", "nodata_px"]),
        # composite -> classify -> shadow sweep: pins the sun-geometry
        # displacement kernel through the halo exchange
        "image_cloudshadow": values_sql(
            image_cloudshadow_rows(),
            ["cell_id", "n_scenes", "payload_len", "invalid_px",
             "clear_px", "nodata_px"]),
        # composite -> TRI/TPI/roughness: pins the 3x3 neighborhood
        # indices (the rest of the gdaldem menu) through the exchange
        "image_tri": values_sql(
            image_tri_rows(),
            ["cell_id", "n_scenes", "payload_len", "tri_sum",
             "tpi_sum", "rough_sum", "nodata_px"]),
        # per-timestep seasonal decomposition: pins trend/seasonal/
        # residual planes through the m2m grouped map, rawf32 retype
        "image_decompose": values_sql(
            image_decompose_rows(),
            ["image_id", "cell_id", "dt", "payload_len", "tr_sum",
             "se_sum", "re_sum", "nodata_px"]),
        # composite -> focal std/range/majority: pins the widened
        # focal-statistics menu through the same halo exchange
        "image_focal_stats": values_sql(
            image_focal_stats_rows(),
            ["cell_id", "n_scenes", "payload_len", "std_sum",
             "rng_sum", "maj_sum", "nodata_px"]),
        # composite -> Z&T total/profile/plan curvature: pins the
        # quartic-coefficient kernels through the same halo exchange
        "image_curvature": values_sql(
            image_curvature_rows(),
            ["cell_id", "n_scenes", "payload_len", "curv_sum",
             "prof_sum", "plan_sum", "nodata_px"]),
        # composite -> flowdir -> flowacc + slope -> TWI: pins the
        # two-branch wetness chain incl. the f32 inter-stage round trip
        "image_twi": values_sql(
            image_twi_rows(),
            ["cell_id", "n_scenes", "payload_len", "twi_sum",
             "nodata_px"]),
        # composite -> spatial IDW gap-fill: pins the gdal_fillnodata
        # twin (fill + smoothing crossing tile seams) byte-for-byte
        "image_fillnodata": values_sql(
            image_fillnodata_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum", "hole_px"]),
        # composite -> bilinear point sampling: pins the stencil
        # expressions, the cross-tile partial sums, and the NULL
        # coverage-hole path against sample_np on per-zone mosaics
        "point_sample": values_sql(
            point_sample_rows(),
            ["point_id", "band", "value_r"]),
        # scattered points -> IDW surface: pins the cover explosion,
        # the sorted-order accumulation, and the storage round trip
        "grid_idw": values_sql(
            grid_idw_rows(),
            ["cell_id", "n_points", "payload_len", "fsum", "nodata_px"]),
        # demo points -> decimal variogram -> WLS fit -> OK solve:
        # pins the whole train->interpolate kriging chain
        "grid_kriging": values_sql(
            grid_kriging_rows(),
            ["cell_id", "n_points", "payload_len", "fsum", "nodata_px"]),
        # median band 0 -> classify -> polygonize: pins the fused
        # digitize map and the level-bound mapping through the same
        # mosaic region oracle as polygonize
        "contour_polygons": values_sql(
            contour_rows(),
            ["region_id", "pixel_count", "perimeter", "n_tiles",
             "level", "level_min", "level_max",
             "xmin", "ymin", "xmax", "ymax"]),
        # median composite -> exact per-AOI interpolated percentiles:
        # pins the cumulative-window rank expressions against the
        # np.percentile multiset twin
        "zonal_percentile": values_sql(
            zonal_percentile_rows(),
            ["aoi_id", "band", "q", "value_r", "total"]),
        # classified median -> per-AOI modal class: pins the exact
        # value-count partials and the deterministic argmax
        "zonal_majority": values_sql(
            zonal_majority_rows(),
            ["aoi_id", "band", "value", "cnt", "total"]),
        # composite -> slope -> color relief: pins the LUT segments,
        # end clamping, nv color, and the rawf32 inter-stage round trip
        "image_colorrelief": values_sql(
            image_colorrelief_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "r_sum", "g_sum", "b_sum"]),
        # per-pixel seasonal fit: pins the normal-equation accumulators
        # and the deterministic elimination per plane family
        "image_harmonic": values_sql(
            image_harmonic_rows(),
            ["cell_id", "n_scenes", "payload_len", "icept_sum",
             "slope_sum", "sin_sum", "cos_sum", "amp_sum", "phase_sum",
             "rmse_sum", "nobs_sum"]),
        # first-composite -> sieve: pins global region sizes, the
        # adjacency graph, and the patch-by-relabeling write-back
        "image_sieve": values_sql(
            image_sieve_rows(),
            ["cell_id", "n_scenes", "payload_len", "pix_sum"]),
        # median composite + synthetic pan -> Brovey fusion: pins the
        # two-resolution cell join and the in-map upsample
        "image_pansharpen": values_sql(
            image_pansharpen_rows(),
            ["cell_id", "payload_len", "b0_sum", "b1_sum", "b2_sum",
             "nodata_px"]),
        # first-composite -> capped EDT: pins the distance halo exchange
        "image_proximity": values_sql(
            image_proximity_rows(),
            ["cell_id", "payload_len", "dist_sum", "zero_px", "cap_px"]),
        # first-composite band 0 as DEM -> per-observer line of sight:
        # pins the disk cover explosion + grouped mosaic assembly
        "image_viewshed": values_sql(
            image_viewshed_rows(),
            ["obs_id", "cell_id", "n_tiles", "payload_len", "visible_px",
             "hidden_px", "outside_px"]),
        # first composite matched onto the median composite's global
        # distribution: pins the two histogram passes + LUT broadcast
        "image_histmatch": values_sql(
            image_histmatch_rows(),
            ["cell_id", "payload_len", "valid_sum", "nodata_px"]),
        # first-composite -> region extraction: pins the seam matching
        # and the distributed component merge in global pixel-id space
        "polygonize": values_sql(
            image_polygonize_rows(),
            ["region_id", "value", "pixel_count", "perimeter",
             "n_tiles", "xmin", "ymin", "xmax", "ymax"]),
        # composite -> overview level: pins the parent-keyed pyramid
        # shuffle (average data bands, mode class plane)
        "image_overview": values_sql(
            image_overview_rows(),
            ["level", "cell_id", "n_scenes", "payload_len",
             "caption_md5", "pix_sum"]),
        # composite -> illumination -> Teillet C-correction: pins the
        # two-table cell join + plane-broadcast callable path
        "image_topocorrect": values_sql(
            image_topocorrect_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "corr_sum", "nodata_px"]),
        # composite -> hillshade: pins the Horn-gradient halo exchange
        # and the rawf32 re-typing
        "image_hillshade": values_sql(
            image_hillshade_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "hs_sum", "nodata_px"]),
        # the multidirectional (Mark 1992) blend through the same
        # exchange — identical plumbing, different kernel
        "image_hillshade_md": values_sql(
            image_hillshade_rows(md=True),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "hs_sum", "nodata_px"]),
        # composite -> percent-cut stretch (F7): pins the exact
        # histogram type-7 quantiles and the [0,1] rawf32 re-typing
        "image_stretch": values_sql(
            image_stretch_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "st_sum", "nodata_px"]),
        # periodic composites (synthetic (cell, period) group key)
        "image_quarterly_composite": values_sql(
            image_periodic_rows(),
            ["cell_id", "period", "n_scenes", "payload_len",
             "caption_md5", "pix_sum"]),
        # streaming remedian cascade (bounded-memory holistic median)
        "image_remedian_composite": values_sql(
            image_remedian_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # temporal std composite (newest decomposable reducer)
        "image_std_composite": values_sql(
            image_std_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # per-scene z-score anomaly vs self climatology
        "image_anomaly": values_sql(
            image_anomaly_rows(),
            ["cell_id", "image_id", "payload_len", "z_sum",
             "nodata_px"]),
        # perceptual-hash image dedup clusters
        "image_phash_dedup": values_sql(
            image_phash_rows(),
            ["image_id", "cluster_rep", "cluster_size"]),
        # periodic composites -> per-pixel LOCF gap fill
        "image_gapfill": values_sql(
            image_gapfill_rows(),
            ["cell_id", "period", "n_scenes", "nodata_px_before",
             "nodata_px_after", "pix_sum"]),
        # per-pixel OLS temporal trend (decomposable sufficient stats)
        "image_trend": values_sql(
            image_trend_rows(),
            ["cell_id", "n_scenes", "payload_len", "dt_min", "dt_max",
             "slope_sum", "icept_sum", "nobs_sum"]),
        # composite-free break detection: pins the grouped-stack
        # piecewise-OLS breakpoint search (band-major plane layout)
        "image_breaks": values_sql(
            image_breaks_rows(),
            ["cell_id", "n_scenes", "payload_len", "bt_sum",
             "mag_sum", "score_sum", "nobs_sum"]),
        # quality mosaic (GEE qualityMosaic parity): per-pixel argmax
        # of the quality plane carries the whole coherent observation
        "image_quality_mosaic": values_sql(
            image_quality_mosaic_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # distributed PCA: exact integer sufficient statistics +
        # deterministic Jacobi eigensolve -> host-portable projections
        "embedding_pca": values_sql(
            embedding_pca_rows(),
            ["doc_id", "dim", "value"]),
        # composite -> chip export -> valid filter -> hash split: the
        # training-pair materialization step (zero-shuffle narrow map)
        "train_chips": values_sql(
            train_chips_rows(),
            ["cell_id", "chip_x", "chip_y", "split", "payload_len",
             "valid_frac", "pix_sum"]),
        # Mann-Kendall + Theil-Sen: the non-parametric trend twin
        # (holistic grouped-stack path; rank stats have no partials)
        "image_mk_trend": values_sql(
            image_mk_trend_rows(),
            ["cell_id", "n_scenes", "payload_len",
             "sen_sum", "tau_sum", "z_sum", "nobs_sum"]),
        # two-epoch change detection (cell-keyed equi-join algebra)
        "image_change": values_sql(
            image_change_rows(),
            ["cell_id", "n_scenes", "payload_len", "ch_sum",
             "nodata_px"]),
        # composite -> spectral unmixing: pins the LAPACK-free
        # normal-equation fraction solve + clip/renorm projection
        "image_unmix": values_sql(
            image_unmix_rows(),
            ["cell_id", "n_scenes", "payload_len", "frac_sum",
             "nodata_px"]),
        # vector->raster: AOI polygons burned into cover-cell tiles
        # per-feature burn -> euclidean allocation: pins the
        # argmin-carrying separable EDT through the focal halo
        "image_allocation": values_sql(
            image_allocation_rows(),
            ["cell_id", "n_parts", "payload_len", "alloc_sum",
             "nodata_px"]),
        "rasterize_aoi": values_sql(
            rasterize_rows(),
            ["cell_id", "n_parts", "payload_len", "burned_px"]),
        # composite -> per-AOI zonal statistics (pixel-center PIP,
        # decomposable moment partials, broadcast cover join)
        "zonal_stats": values_sql(
            zonal_rows(),
            ["aoi_id", "band", "px_count", "valid_count", "px_sum",
             "mean_r", "std_r", "px_min", "px_max"]),
        # composite -> per-AOI long-form value histogram
        "zonal_histogram": values_sql(
            zonal_histogram_rows(),
            ["aoi_id", "band", "bin", "cnt"]),
        "image_medoid_composite": values_sql(
            image_composite_rows("medoid"),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        "image_hls_composite": values_sql(
            image_hls_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        "image_regrid_composite": values_sql(
            image_regrid_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        # per-scene-vs-median fidelity: the brief's PSNR acceptance
        # language as a pinned artifact (outlier-scene screening)
        "image_psnr": values_sql(
            image_psnr_rows(),
            ["image_id", "cell_id", "band", "n", "mse", "psnr",
             "identical"]),
        # planted-shift co-registration: pins the NCC candidate sweep
        # + subpixel refinement + shift application round trip
        "image_coregister": values_sql(
            image_coregister_rows(),
            ["image_id", "cell_id", "dy", "dx", "peak", "n_overlap"]),
        # regrid -> analytic feathered blend: pins the seamline
        # distance weights + weighted-mean mosaic
        "image_feather": values_sql(
            image_feather_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        "image_hampel": values_sql(
            image_hampel_rows(),
            ["image_id", "cell_id", "dt", "payload_len", "pix_sum",
             "caption"]),
        "semantic_dedup": values_sql(
            semantic_dedup_rows(), ["doc_id", "cluster"]),
        "image_kmeans": values_sql(
            image_kmeans_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "pix_sum"]),
        "image_texture": values_sql(
            image_texture_rows(),
            ["cell_id", "n_scenes", "payload_len", "caption_md5",
             "tx_sum", "nodata_px"]),
        "image_whittaker": values_sql(
            image_whittaker_rows(),
            ["image_id", "cell_id", "dt", "payload_len", "pix_sum",
             "caption"]),
    }
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "_oracle_constants.py")
    with open(out, "w") as f:
        f.write('"""AUTO-GENERATED by tools/gen_oracle_constants.py — '
                'do not edit.\n\nConstants-table DuckDB oracles for the '
                'payload driver queries; see the\ngenerator for '
                'provenance."""\n\nCONSTANT_ORACLES = {\n')
        for k, v in oracles.items():
            f.write(f"    {k!r}: '''\n{v}\n''',\n")
        f.write("}\n")
    print(f"wrote {out} ({sum(len(v) for v in oracles.values())} sql chars)")


if __name__ == "__main__":
    main()
