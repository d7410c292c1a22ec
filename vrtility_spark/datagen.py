"""Deterministic synthetic fixtures (seed=42) per /root/repo/FIXTURES.md.

Reproduces the *structure* of the reference's test fixtures
(/root/reference/inst/s2-data: 5 uint16 bands B02,B03,B04,B08,SCL,
nodata 0, scenes spanning 3 CRS, 5 fabricated datetimes;
/root/reference/inst/hls-data: int16, scale 1e-4, nodata -9999, Fmask
bit-flag band — creation script /root/reference/data-raw/s2-test-data-create.R)
in the tabular image+caption shape mandated by BASELINE.json's
``input_hint``. Pure NumPy so the pytest oracle can regenerate
identical pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from vrtility_spark import codec
from vrtility_spark.cells import ZONE_SPAN

S2_BANDS = ["B02", "B03", "B04", "B08", "SCL"]
HLS_BANDS = ["B02", "B03", "B04", "Fmask"]
# the canonical SCL mask set used throughout reference tests
# (tests/testthat/test-vrt-pipelines.R:28)
S2_MASK_VALUES = [0, 1, 2, 3, 8, 9, 10, 11]
# HLS bitmask bits (test-vrt-set-mask.R:19-23)
HLS_MASK_BITS = [2, 3]

# every other month from 2024-01-01; the first five match the original
# fixture dates exactly (byte-compat), longer series extend the pattern
DATES = pd.to_datetime([f"2024-{m:02d}-01" for m in range(1, 13, 2)]
                       + [f"2025-{m:02d}-01" for m in range(1, 13, 2)])


def date_for(di: int) -> pd.Timestamp:
    """Acquisition date for series index ``di`` — the DATES table for
    the first 12 (fixture byte-compat), bimonthly extension beyond."""
    if di < len(DATES):
        return DATES[di]
    year, month = divmod(di, 6)
    return pd.Timestamp(year=2024 + year, month=2 * month + 1, day=1)
DEFAULT_ZONES = (30, 31, 27)
TILE_RES = 4  # tiles are cells at res 4 → 65536 m squares
TILE_SPAN = ZONE_SPAN / (1 << TILE_RES)


def _phash(planes: np.ndarray) -> int:
    """64-bit average-hash of the band-mean image (8x8 block means vs
    their median), packed into a signed int64."""
    img = planes[:-1].mean(axis=0) if planes.shape[0] > 1 else planes[0]
    if img.shape[0] < 8 or img.shape[1] < 8:  # tiny scenes: edge-pad
        img = np.pad(img, ((0, max(0, 8 - img.shape[0])),
                           (0, max(0, 8 - img.shape[1]))), mode="edge")
    h, w = img.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    blocks = img[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (blocks > np.median(blocks)).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def _scene_pixels(rng: np.random.Generator, zone: int, tx: int, ty: int,
                  date_i: int, w: int, h: int, profile: str) -> np.ndarray:
    """Smooth seeded per-band fields + clustered 'cloud' blobs in the
    mask plane, so composites are non-trivial and masking removes a
    known fraction."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    nb = 4
    base = np.empty((nb, h, w), dtype=np.float64)
    for b in range(nb):
        fx = 0.5 + 0.13 * b + 0.07 * (zone % 5)
        fy = 0.7 + 0.11 * b
        base[b] = (
            3000
            + 1500 * np.sin(2 * np.pi * (fx * xx / w + 0.1 * tx))
            + 1200 * np.cos(2 * np.pi * (fy * yy / h + 0.1 * ty))
            + 400 * date_i
            + rng.normal(0, 60, size=(h, w))
        )
    base = np.clip(base, 1, 60000)

    # cloud blobs: a few random disks — physically BRIGHT in the data
    # bands (the reference's masking invariants depend on clouds being
    # bright: masking must reduce total radiance, test-vrt-set-mask.R:75-98)
    blob = np.zeros((h, w), dtype=bool)
    for _ in range(rng.integers(1, 4)):
        cx, cy = rng.uniform(0, w), rng.uniform(0, h)
        r = rng.uniform(max(2, w * 0.06), w * 0.22)
        blob |= (xx - cx) ** 2 + (yy - cy) ** 2 <= r * r
    base[:, blob] += 9000 + 60 * date_i

    if profile == "s2":
        scl = np.full((h, w), 4, dtype=np.float64)  # vegetation
        scl[(xx + yy) % 7 < 2] = 5  # bare soil stripes
        cloud_cls = rng.choice([8, 9, 10], size=blob.sum())
        scl[blob] = cloud_cls
        # sprinkle a little nodata (class 0) at scene edges
        scl[0, : w // 8] = 0
        arr = np.concatenate([base, scl[None]], axis=0)
        arr[:-1][:, scl == 0] = 0  # nodata sentinel 0 in data bands
        return np.clip(arr, 0, 65535).astype(np.uint16)
    else:  # hls
        fmask = np.zeros((h, w), dtype=np.int64)
        fmask[blob] |= 1 << int(rng.choice(HLS_MASK_BITS))
        fmask[(xx * yy) % 11 < 1] |= 1 << 0  # benign bit, never masked
        arr = np.concatenate([base[:3], fmask[None].astype(np.float64)], axis=0)
        edge = np.zeros((h, w), dtype=bool)
        edge[0, : w // 8] = True  # scene-edge nodata, like the s2 branch
        arr[:3][:, edge] = -9999
        return np.clip(arr, -32768, 32767).astype(np.int16)


def images_pandas(profile: str = "s2", zones=DEFAULT_ZONES, nx: int = 4,
                  ny: int = 4, n_dates: int = 5, w: int = 32, h: int = 32,
                  fmt: str | None = None, seed: int = 42,
                  _grid_pos=None) -> pd.DataFrame:
    """The primary input table — exact ``input_hint`` schema plus the
    derived metadata columns of FIXTURES.md §1.

    ``_grid_pos=(zi, tx, ty, di, ny)`` generates the single scene at
    that grid position with the seeds/footprint it would have inside the
    full grid (used by :func:`images_spark` for distributed generation).
    """
    if fmt is None:
        fmt = "raw16" if profile == "s2" else "raw16s"
    bands = S2_BANDS if profile == "s2" else HLS_BANDS
    nodata = 0.0 if profile == "s2" else -9999.0
    scale = 1.0 if profile == "s2" else 1e-4
    if _grid_pos is not None:
        g_zi, g_tx, g_ty, g_di, g_ny = _grid_pos
        grid = [(g_zi, zones[0], g_tx, g_ty, g_di)]
        eff_ny = g_ny
    else:
        grid = [(zi, zone, tx, ty, di)
                for zi, zone in enumerate(zones)
                for tx in range(nx) for ty in range(ny)
                for di in range(n_dates)]
        eff_ny = ny
    rows = []
    for zi, zone, tx, ty, di in grid:
            rng = np.random.default_rng(
                seed + 1_000_003 * zi + 10_007 * (tx * eff_ny + ty) + di
            )
            arr = _scene_pixels(rng, zone, tx, ty, di, w, h, profile)
            dt = date_for(di)
            image_id = f"Z{zone}_{tx}_{ty}_{dt:%Y%m%d}"
            if profile == "s2":
                cloudy = np.isin(arr[-1], [8, 9, 10]).mean() * 100
            else:
                m = np.zeros(arr[-1].shape, dtype=bool)
                for b in HLS_MASK_BITS:
                    m |= (arr[-1] & (1 << b)) > 0
                cloudy = m.mean() * 100
            payload = arr.astype(np.uint16) if fmt in ("png", "png8") else arr
            rows.append({
                "image_id": image_id,
                "bytes": codec.encode(payload, fmt),
                "w": w, "h": h, "fmt": fmt,
                "caption": f"scene {image_id} over zone {zone} tile ({tx},{ty})",
                "phash": _phash(arr.astype(np.float64)),
                "datetime": dt,
                "srs": f"ZONE:{zone}",
                "zone": zone,
                "xmin": tx * TILE_SPAN, "ymin": ty * TILE_SPAN,
                "xmax": (tx + 1) * TILE_SPAN, "ymax": (ty + 1) * TILE_SPAN,
                "res_x": TILE_SPAN / w, "res_y": TILE_SPAN / h,
                "bands": bands, "nodata": nodata,
                "scale": scale, "offset": 0.0,
                # per-band metadata: data bands carry the profile's
                # scale/sentinel; the class/flag plane is unscaled
                # (codes, not radiance) — HLS-style mixed-band layout
                "band_scale": [scale] * (len(bands) - 1) + [1.0],
                "band_offset": [0.0] * len(bands),
                "band_nodata": [nodata] * len(bands),
                "cloud_cover": float(cloudy),
                "platform": f"sentinel-2{'ab'[di % 2]}" if profile == "s2" else "hls",
                "orbit_state": ["ascending", "descending"][di % 2],
            })
    return pd.DataFrame(rows)


def with_near_duplicates(pdf: pd.DataFrame, every: int = 3,
                         jitter: float = 80.0) -> pd.DataFrame:
    """Append a deterministically perturbed copy of every ``every``-th
    scene (sorted by image_id): the top-left ``h/4 × w/4`` corner of
    each data band bumped by ``jitter`` DN — a re-processed/re-encoded
    twin whose perceptual hash sits a few Hamming bits from the
    original. Ids get an ``_d`` suffix; footprints/timestamps are kept
    so the pair ``(x, x_d)`` is exactly the near-duplicate an image
    dedup must catch (fixture for :func:`dedup.phash_clusters`)."""
    src = pdf.sort_values("image_id", kind="mergesort").reset_index(drop=True)
    dups = []
    for i in range(0, len(src), every):
        r = src.iloc[i].copy()
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt).astype(np.float64)
        arr[:-1, : r.h // 4, : r.w // 4] += jitter
        dtype = codec.dtype_for(r.fmt)
        info = np.iinfo(dtype)
        enc = np.clip(arr, info.min, info.max).astype(dtype)
        r["image_id"] = r.image_id + "_d"
        r["bytes"] = codec.encode(enc, r.fmt)
        r["caption"] = r.caption + " (near-dup)"
        r["phash"] = _phash(arr)
        dups.append(r)
    return pd.concat([pdf, pd.DataFrame(dups)], ignore_index=True)


def images_spark(spark, profile: str = "s2", zones=DEFAULT_ZONES, nx: int = 4,
                 ny: int = 4, n_dates: int = 5, w: int = 32, h: int = 32,
                 fmt: str | None = None, seed: int = 42,
                 partitions: int | None = None):
    """Distributed twin of :func:`images_pandas`: the (zone, tile, date)
    seed grid is built driver-side (tiny), pixels are synthesized on
    executors inside ``mapInPandas`` — the generation pattern that
    scales to arbitrarily large fixtures (never materializes pixels on
    the driver). Byte-identical to :func:`images_pandas` for the same
    parameters."""
    from pyspark.sql import functions as F  # local import keeps module light

    from vrtility_spark.schema import IMAGE_SCHEMA

    keys = [(zi, zone, tx, ty, di)
            for zi, zone in enumerate(zones)
            for tx in range(nx) for ty in range(ny)
            for di in range(n_dates)]
    seed_df = spark.createDataFrame(
        keys, "zi int, zone int, tx int, ty int, di int")
    if partitions:
        seed_df = seed_df.repartition(partitions)
    cols = [f.name for f in IMAGE_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                sub = images_pandas(profile=profile, zones=(int(r.zone),),
                                    nx=1, ny=1, n_dates=1, w=w, h=h, fmt=fmt,
                                    seed=seed, _grid_pos=(int(r.zi), int(r.tx),
                                                          int(r.ty), int(r.di),
                                                          ny))
                rows.append(sub)
            yield pd.concat(rows)[cols] if rows else pd.DataFrame(columns=cols)

    return seed_df.mapInPandas(gen, schema=IMAGE_SCHEMA)


def offset_images_pandas(seed: int = 42) -> pd.DataFrame:
    """Scenes whose footprints do NOT tile the grid: the standard tiny
    fixture with deterministic quarter-tile offsets per scene — the
    input shape that exercises the general regrid path
    (warp.regrid_to_cells) instead of the aligned fast path."""
    pdf = images_pandas(nx=2, ny=2, w=16, h=16, n_dates=2, seed=seed)
    offx = ((pdf.index * 7) % 4) / 4.0 * TILE_SPAN
    offy = ((pdf.index * 5) % 4) / 4.0 * TILE_SPAN
    pdf = pdf.copy()
    pdf["xmin"] += offx
    pdf["xmax"] += offx
    pdf["ymin"] += offy
    pdf["ymax"] += offy
    return pdf


def aoi_pandas(zones=DEFAULT_ZONES, nx: int = 4, ny: int = 4) -> pd.DataFrame:
    """AOI polygon table (FIXTURES.md §2): one hot AOI (~30% of zone 0's
    footprints → cell skew / salting test), a disjoint AOI, a contained
    AOI, a concave AOI, and one crossing a zone boundary."""
    S = TILE_SPAN
    z0, z1 = zones[0], zones[1]

    def rect(xmin, ymin, xmax, ymax):
        return (
            f"POLYGON (({xmin} {ymin}, {xmax} {ymin}, {xmax} {ymax}, "
            f"{xmin} {ymax}, {xmin} {ymin}))"
        )

    rows = [
        # hot: covers ~nx*0.6 x ny*0.55 tiles of zone 0
        {"aoi_id": "hot", "srs": f"ZONE:{z0}",
         "geom_wkt": rect(0.2 * S, 0.1 * S, (0.2 + nx * 0.6) * S, (0.1 + ny * 0.55) * S)},
        {"aoi_id": "disjoint", "srs": f"ZONE:{z0}",
         "geom_wkt": rect((nx + 2) * S, (ny + 2) * S, (nx + 3) * S, (ny + 3) * S)},
        {"aoi_id": "contained", "srs": f"ZONE:{z1}",
         "geom_wkt": rect(0.3 * S, 0.3 * S, 0.6 * S, 0.6 * S)},
        # concave L-shape in zone 1
        {"aoi_id": "concave", "srs": f"ZONE:{z1}",
         "geom_wkt": (
             f"POLYGON (({0.1*S} {0.1*S}, {2.5*S} {0.1*S}, {2.5*S} {1.0*S}, "
             f"{1.0*S} {1.0*S}, {1.0*S} {2.5*S}, {0.1*S} {2.5*S}, {0.1*S} {0.1*S}))"
         )},
        # "crossing a zone boundary": represented as one row per zone
        {"aoi_id": "xzone", "srs": f"ZONE:{z0}",
         "geom_wkt": rect((nx - 0.5) * S, 0.0, nx * S, 1.5 * S)},
        {"aoi_id": "xzone", "srs": f"ZONE:{z1}",
         "geom_wkt": rect(0.0, 0.0, 0.5 * S, 1.5 * S)},
    ]
    for r in rows:
        xs, ys = _wkt_coords(r["geom_wkt"])
        r.update(xmin=min(xs), ymin=min(ys), xmax=max(xs), ymax=max(ys),
                 min_coverage=0.1)
    return pd.DataFrame(rows)


def _wkt_coords(wkt: str):
    body = wkt[wkt.index("((") + 2 : wkt.index("))")]
    pts = [p.strip().split() for p in body.split(",")]
    xs = [float(p[0]) for p in pts]
    ys = [float(p[1]) for p in pts]
    return xs, ys


def embeddings_pandas(n: int = 240, d: int = 12, n_clusters: int = 3,
                      seed: int = 7) -> pd.DataFrame:
    """Deterministic clustered embedding fixture with INTEGER-valued
    entries (stored as float64): integer data keeps PCA's sufficient
    statistics (Σx, ΣxxT) exact in f64, so the fitted model is
    bit-identical at any partitioning/core count — the property the
    embedding_pca constants oracle relies on."""
    rng = np.random.default_rng(seed)
    centers = rng.integers(-40, 41, (n_clusters, d))
    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = centers[c] + rng.integers(-8, 9, d)
        rows.append({"doc_id": i, "cluster": int(c),
                     "embedding": vec.astype(np.float64).tolist()})
    return pd.DataFrame(rows)


def knn_queries_pandas(zones=DEFAULT_ZONES, n: int = 20, seed: int = 42) -> pd.DataFrame:
    """kNN probe points (FIXTURES.md §3)."""
    rng = np.random.default_rng(seed + 77)
    rows = []
    for i in range(n):
        zone = zones[i % len(zones)]
        rows.append({
            "query_id": f"q{i:03d}",
            "srs": f"ZONE:{zone}",
            "zone": zone,
            "x": float(rng.uniform(0, 4 * TILE_SPAN)),
            "y": float(rng.uniform(0, 4 * TILE_SPAN)),
            "k": int(rng.integers(1, 11)),
        })
    return pd.DataFrame(rows)
