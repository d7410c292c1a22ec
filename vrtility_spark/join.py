"""Spatial joins: zone/bbox broadcast or cell hash join + exact refinement.

The reference's only spatial predicates are bbox/AOI intersection tests
(``stac_coverage_filter``, /root/reference/R/stac-utils.R:487-508 —
keep a scene if geodesic area(scene ∩ AOI) / area(AOI) > min_coverage)
applied driver-side per item. At 10^12-image scale that must become a
distributed join, which this module makes explicit (BASELINE.json
``north_rule``):

1. **coarse**: a driver-held AOI set (the default) is a few parts
   the driver already holds: it is collected once and broadcast as one
   Arrow relation, joined to the catalog on ``zone`` with a strict
   bbox-overlap condition — a band join with an equality key, with no
   cell replication on either side. An AOI set too big to collect
   explodes, like the scene footprints, to covering cells at a join
   resolution and meets them in an inner equi-join on ``(cell)``.
2. **refine**: exact polygon ∩ bbox intersection area — a clamp
   expression when every AOI part is an axis-aligned rectangle, else a
   vectorized pandas UDF (Sutherland–Hodgman clipping — handles the
   concave AOIs in the fixtures), giving the reference's area-ratio
   semantics exactly.
3. **skew**: in the cell join, hot cells (a megacity AOI overlapping
   ~30% of a zone) are salted explicitly: the big side gets a
   deterministic salt from ``xxhash64``, the small side is exploded
   across all salts.

Point-in-polygon (ray crossing, NumPy-vectorized) covers the
point-probe variant.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vrtility_spark.schema import driver_frame, empty_frame
from vrtility_spark.warp import cells_cover

DEFAULT_JOIN_RES = 6  # 16384 m cells


# --------------------------------------------------- geometry kernels ----

def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """Minimal WKT POLYGON parser → (n, 2) float array of the OUTER
    ring. Interior rings (holes) are ignored — coverage treats a
    footprint as its outer boundary. MULTIPOLYGON raises by name: the
    spatial_join multipart contract is one row per part (several rows
    per ``aoi_id``), which also gives each part its own bbox/cover
    cells."""
    w = wkt.strip()
    if w[:12].upper().startswith("MULTIPOLYGON"):
        raise ValueError(
            "MULTIPOLYGON WKT: split the geometry into one row per "
            "part (spatial_join sums coverage over an aoi_id's rows)")
    start = w.index("((") + 2
    body = w[start:w.index(")", start)]  # outer ring ends at first ')'
    pts = [p.strip().split() for p in body.split(",")]
    return np.array([[float(p[0]), float(p[1])] for p in pts], dtype=np.float64)


def polygon_area(ring: np.ndarray) -> float:
    """Shoelace area (absolute)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def clip_polygon_rect(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Sutherland–Hodgman clip of a simple (possibly concave) polygon by
    an axis-aligned rectangle. Returns the clipped ring (possibly empty)."""
    def clip_edge(pts, inside, intersect):
        if len(pts) == 0:
            return pts
        out = []
        n = len(pts)
        for i in range(n):
            cur, prev = pts[i], pts[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def ix_at_x(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def ix_at_y(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    pts = [tuple(p) for p in ring[:-1]] if np.allclose(ring[0], ring[-1]) else [tuple(p) for p in ring]
    pts = clip_edge(pts, lambda p: p[0] >= xmin, lambda p, q: ix_at_x(p, q, xmin))
    pts = clip_edge(pts, lambda p: p[0] <= xmax, lambda p, q: ix_at_x(p, q, xmax))
    pts = clip_edge(pts, lambda p: p[1] >= ymin, lambda p, q: ix_at_y(p, q, ymin))
    pts = clip_edge(pts, lambda p: p[1] <= ymax, lambda p, q: ix_at_y(p, q, ymax))
    return np.array(pts, dtype=np.float64) if pts else np.empty((0, 2))


def intersection_area_wkt(wkt: str, xmin, ymin, xmax, ymax) -> float:
    ring = parse_wkt_polygon(wkt)
    clipped = clip_polygon_rect(ring, xmin, ymin, xmax, ymax)
    return polygon_area(clipped) if len(clipped) >= 3 else 0.0


def points_in_polygon_np(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-crossing PIP (boundary counts as inside-ish per
    crossing parity — adequate for the refine step)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(xs.shape, dtype=bool)
    for ax, ay, bx, by in zip(x0, y0, x1, y1):
        cond = (ay > ys) != (by > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (bx - ax) * (ys - ay) / (by - ay) + ax
        inside ^= cond & (xs < xint)
    return inside


# ------------------------------------------------------- spark joins ----

def _as_rect(ring: np.ndarray):
    """(rx0, ry0, rx1, ry1) if the ring is an axis-aligned rectangle,
    else None. Checks every edge is axis-parallel so bowtie orderings
    are rejected."""
    pts = ring[:-1] if np.allclose(ring[0], ring[-1]) else ring
    if len(pts) != 4:
        return None
    closed = np.vstack([pts, pts[:1]])
    dx = closed[1:, 0] - closed[:-1, 0]
    dy = closed[1:, 1] - closed[:-1, 1]
    if not np.all((dx == 0) | (dy == 0)):
        return None
    xs, ys = np.unique(pts[:, 0]), np.unique(pts[:, 1])
    if len(xs) != 2 or len(ys) != 2:
        return None
    return float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])


@F.pandas_udf(T.DoubleType())
def _isect_area_udf(wkt: pd.Series, xmin: pd.Series, ymin: pd.Series,
                    xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    """area(polygon ∩ rect) per row. Rows are grouped by their (few)
    distinct polygons; axis-aligned-rectangle polygons — the dominant
    footprint case — take an exact vectorized clamp path with zero
    per-row Python; concave polygons fall back to Sutherland–Hodgman."""
    out = np.empty(len(wkt))
    warr = wkt.to_numpy()
    x0, y0 = xmin.to_numpy(float), ymin.to_numpy(float)
    x1, y1 = xmax.to_numpy(float), ymax.to_numpy(float)
    for w in pd.unique(warr):
        m = warr == w
        ring = parse_wkt_polygon(w)
        rect = _as_rect(ring)
        if rect is not None:
            rx0, ry0, rx1, ry1 = rect
            iw = np.maximum(0.0, np.minimum(x1[m], rx1) - np.maximum(x0[m], rx0))
            ih = np.maximum(0.0, np.minimum(y1[m], ry1) - np.maximum(y0[m], ry0))
            out[m] = iw * ih
        else:
            idx = np.flatnonzero(m)
            for i in idx:
                clipped = clip_polygon_rect(ring, x0[i], y0[i], x1[i], y1[i])
                out[i] = polygon_area(clipped) if len(clipped) >= 3 else 0.0
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def _polygon_area_udf(wkt: pd.Series) -> pd.Series:
    return wkt.map(lambda s: polygon_area(parse_wkt_polygon(s)))


def auto_salt_count(df: DataFrame, key: str = "jcell",
                    id_col: str = "image_id", sample_mod: int = 1,
                    cap: int = 16, skew_factor: float = 4.0) -> int:
    """Derive the salt count from the measured per-cell histogram —
    SURVEY §7.2 stage 5's skew answer without a manual knob.

    One map-side-combinable ``groupBy(key).count()`` (one tiny row per
    cell reaches the shuffle) gives max and mean cell occupancy; a key
    is only "hot" when its rows exceed ``skew_factor`` times the mean
    — below that, normal partition packing absorbs it (and AQE's
    skew-join split is the backstop). The hottest cell is split into
    pieces of roughly ``skew_factor x mean`` rows:
    ``n_salts = ceil(max / (skew_factor * mean))``, capped (salting
    multiplies the other side's rows ``n_salts``-fold, so past ``cap``
    it costs more than it saves). ``sample_mod > 1`` measures a
    deterministic 1-in-N hash sample of ``id_col`` instead of the full
    table — at 10^12 rows the histogram's shuffle then scales down N×
    while max/mean ratios are preserved for any cell big enough to
    matter."""
    cnt = df
    if sample_mod > 1:
        cnt = df.where(F.pmod(F.xxhash64(id_col), F.lit(sample_mod)) == 0)
    hist = cnt.groupBy(key).agg(F.count("*").alias("n"))
    stats = hist.agg(F.max("n").alias("mx"),
                     F.avg("n").alias("avg")).collect()[0]
    if stats.mx is None or stats.avg is None or stats.avg <= 0:
        return 0
    if float(stats.mx) <= skew_factor * float(stats.avg):
        return 0
    return min(cap, math.ceil(float(stats.mx)
                              / (skew_factor * float(stats.avg))))


def spatial_join(images: DataFrame, aoi: DataFrame,
                 join_res: int = DEFAULT_JOIN_RES,
                 min_coverage_of_aoi: float | None = None,
                 n_salts: int | str = 0,
                 broadcast_aoi: bool = True) -> DataFrame:
    """scenes ⋈ AOIs where footprint ∩ polygon has positive area.

    Returns one row per (aoi_id, image_id) with ``isect_area`` and
    ``coverage`` = area(∩)/area(AOI) — the reference's coverage ratio
    (R/stac-utils.R:494-506). ``image_id`` keys the catalog, as STAC
    item ids do. ``min_coverage_of_aoi`` applies the theta-filter.

    Multipart AOIs arrive as several rows per ``aoi_id`` (possibly in
    different zones): every part is refined, intersection areas sum
    over parts, and coverage divides by the area of the WHOLE
    multipart geometry, parts the scene never touches included (parts
    are assumed disjoint, as geometry parts are).

    ``broadcast_aoi=True`` (the default) reads the AOI parts to the
    driver and joins them to the catalog as one broadcast zone/bbox
    join (:func:`_broadcast_parts`). ``broadcast_aoi=False`` is for AOI
    sets too big to collect: both sides explode to cover cells at
    ``join_res`` and meet in a hash join (:func:`_cell_join`).
    ``join_res`` and ``n_salts`` apply only there: ``n_salts > 0``
    salts the cell join for hot cells, and ``n_salts="auto"`` sizes the
    salt from the measured per-cell histogram
    (:func:`auto_salt_count`). With ``broadcast_aoi=True`` there is no
    shuffle to salt: ``"auto"`` resolves to 0 and ``n_salts > 0``
    raises.
    """
    if broadcast_aoi:
        if n_salts != "auto" and n_salts > 0:
            raise ValueError("n_salts > 0 needs broadcast_aoi=False: the "
                             "broadcast join has no shuffle to salt")
        refined = _broadcast_parts(images, aoi)
    else:
        refined = _cell_join(images, aoi, join_res, n_salts)
    refined = refined.withColumn("coverage",
                                 F.col("isect_area") / F.col("aoi_area"))
    if min_coverage_of_aoi is not None:
        refined = refined.where(F.col("coverage") > F.lit(min_coverage_of_aoi))
    return refined.select("aoi_id", "image_id", "zone", "caption", "phash",
                          "datetime", "isect_area", "coverage")


_CATALOG_COLS = ("image_id", "zone", "xmin", "ymin", "xmax", "ymax",
                 "caption", "phash", "datetime")
_META_AGGS = ("zone", "caption", "phash", "datetime")


def _broadcast_parts(images: DataFrame, aoi: DataFrame) -> DataFrame:
    """The driver-held AOI side, collected once and broadcast back as
    one Arrow relation with its part areas and per-AOI totals. Strict
    bbox overlap keeps every positive-area intersection, so the refine
    (a clamp expression when every part is a rectangle, else the UDF)
    stays exact; the per-pair sum runs only for multipart AOIs."""
    bbox = ["xmin", "ymin", "xmax", "ymax"]
    parts = driver_frame(aoi.select("aoi_id", "zone", "geom_wkt", *bbox)) \
        .drop_duplicates(["aoi_id", "geom_wkt"])
    rings = [parse_wkt_polygon(w) for w in parts.geom_wkt]
    is_rect = np.array([_as_rect(r) is not None for r in rings], dtype=bool)
    # a rectangle's polygon area is its bbox area
    part_area = np.where(is_rect,
                         (parts.xmax - parts.xmin) * (parts.ymax - parts.ymin),
                         [polygon_area(r) for r in rings])
    totals = pd.Series(part_area).groupby(parts.aoi_id.to_numpy()).sum()
    side = pd.DataFrame({
        "aoi_id": parts.aoi_id, "p_zone": parts.zone,
        **{f"p_{c}": parts[c] for c in bbox},
        "aoi_area": parts.aoi_id.map(totals)})
    ddl = ("aoi_id string, p_zone long, p_xmin double, p_ymin double, "
           "p_xmax double, p_ymax double, aoi_area double")
    all_rect = bool(is_rect.all())
    if not all_rect:
        side["geom_wkt"] = parts.geom_wkt
        ddl += ", geom_wkt string"
    side_df = (images.sparkSession.createDataFrame(side, ddl) if len(side)
               else empty_frame(aoi, ddl))
    cat = images.select(*_CATALOG_COLS)
    c, p = F.col, lambda n: F.col(f"p_{n}")
    overlap = ((c("zone") == p("zone"))
               & (c("xmin") < p("xmax")) & (c("xmax") > p("xmin"))
               & (c("ymin") < p("ymax")) & (c("ymax") > p("ymin")))
    matched = cat.join(F.broadcast(side_df), overlap, "inner")
    if all_rect:
        iw = F.least(c("xmax"), p("xmax")) - F.greatest(c("xmin"), p("xmin"))
        ih = F.least(c("ymax"), p("ymax")) - F.greatest(c("ymin"), p("ymin"))
        isect = F.greatest(F.lit(0.0), iw) * F.greatest(F.lit(0.0), ih)
    else:
        isect = _isect_area_udf("geom_wkt", "xmin", "ymin", "xmax", "ymax")
    per_part = matched.withColumn("isect_area", isect) \
        .where(c("isect_area") > 0)
    if not parts.aoi_id.duplicated().any():
        return per_part
    return (per_part.groupBy("aoi_id", "image_id")
            .agg(*[F.first(m).alias(m) for m in _META_AGGS],
                 F.sum("isect_area").alias("isect_area"),
                 F.first("aoi_area").alias("aoi_area")))


def _cell_join(images: DataFrame, aoi: DataFrame, join_res: int,
               n_salts: int | str) -> DataFrame:
    """The distributed AOI side: AOI parts and scene footprints explode
    to their cover cells at ``join_res``, meet in an (optionally salted)
    hash join on the cell, and refine in the Sutherland–Hodgman UDF.

    Size ``join_res`` so one cell edge is at least the typical scene
    footprint edge: the big side explodes to ``~(edge/cell + 1)^2``
    cover cells per scene, so a too-fine resolution multiplies the
    scan output (measured: res 6 on 40 km footprints emits ~12 rows
    per scene and is ~20% slower end-to-end than res 5's ~5; going
    coarser than the footprint just adds refine-filtered false pairs
    at no benefit). The refine is exact at ANY resolution — the knob
    trades explode fanout vs candidate precision only."""
    img_cells = cells_cover(images.select(*_CATALOG_COLS), join_res,
                            out_col="jcell")
    aoi_parts = aoi.select("aoi_id", "zone", "geom_wkt",
                           "xmin", "ymin", "xmax", "ymax") \
        .withColumn("part_area", _polygon_area_udf("geom_wkt"))
    aoi_total = (aoi_parts.dropDuplicates(["aoi_id", "geom_wkt"])
                 .groupBy("aoi_id")
                 .agg(F.sum("part_area").alias("aoi_area")))
    aoi_cells = cells_cover(aoi_parts, join_res, zone_col="zone",
                            out_col="jcell") \
        .drop("xmin", "ymin", "xmax", "ymax", "zone", "part_area")
    if n_salts == "auto":
        n_salts = auto_salt_count(img_cells)
    if n_salts > 0:
        img_cells = img_cells.withColumn(
            "salt", F.pmod(F.xxhash64("image_id"), F.lit(n_salts)).cast("int"))
        aoi_cells = aoi_cells.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        ).withColumn("salt", F.col("salt").cast("int"))
        keys = ["jcell", "salt"]
    else:
        keys = ["jcell"]
    # a (part, image) pair hit from several cover cells is refined once
    pairs = img_cells.join(aoi_cells, on=keys, how="inner") \
        .dropDuplicates(["aoi_id", "geom_wkt", "image_id"])
    per_part = pairs.withColumn(
        "isect_area",
        _isect_area_udf("geom_wkt", "xmin", "ymin", "xmax", "ymax"),
    ).where(F.col("isect_area") > 0)
    refined = (per_part.groupBy("aoi_id", "image_id")
               .agg(*[F.first(m).alias(m) for m in _META_AGGS],
                    F.sum("isect_area").alias("isect_area")))
    return refined.join(aoi_total, "aoi_id")


def spatial_semi_join(images: DataFrame, aoi: DataFrame, **kw) -> DataFrame:
    """Scenes intersecting ANY AOI (left_semi against the refined pairs)."""
    pairs = spatial_join(images, aoi, **kw).select("image_id").distinct()
    return images.join(pairs, "image_id", "left_semi")


def spatial_anti_join(images: DataFrame, aoi: DataFrame, **kw) -> DataFrame:
    pairs = spatial_join(images, aoi, **kw).select("image_id").distinct()
    return images.join(pairs, "image_id", "left_anti")


# ------------------------------------------------ temporal joins ----

def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_time: str, right_time: str, left_id: str,
              direction: str = "backward",
              tiebreak: str | None = None) -> DataFrame:
    """As-of join: for each left row, the single nearest right row at or
    before (``backward``) / at or after (``forward``) its timestamp —
    nearest-in-time scene matching (SURVEY.md §2.3 join coverage).

    Implemented WITHOUT a pair join: both sides are unioned with a side
    tag and the matched right row is ``last(right_struct,
    ignorenulls=True)`` over ``Window.partitionBy(on).orderBy(ts,
    side[, tiebreak])`` — ONE shuffle, zero pair materialization. The
    naive equi-join + top-1 shape materializes O(left × prior right)
    rows per key before pruning, which a single hot key (a bot user
    with 1e5 events) turns into ~1e10 intermediate rows at scale; the
    union-window form is O(left + right) regardless of skew.

    Right columns other than ``on`` must not collide with left column
    names (pre-rename the right side). Output: every left column plus
    the matched right row's columns (inner semantics: left rows with no
    match are dropped).
    """
    assert direction in ("backward", "forward")
    from pyspark.sql import Window
    r_payload = [c for c in right.columns if c != on]
    overlap = set(r_payload) & set(left.columns)
    if overlap:
        raise ValueError(f"right columns collide with left: {sorted(overlap)}"
                         " — rename the right side's columns first")
    reserved = {"_asof_ts", "_side", "_asof_tb", "_asof_row", "_asof_match"}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        raise ValueError(f"column names {sorted(taken)} are reserved by "
                         "asof_join")
    # the right row travels as ONE struct so last(..., ignorenulls) picks
    # a whole row atomically (per-column last could mix rows when a right
    # column is legitimately null)
    # rows without a timestamp can neither match nor be matched (SQL
    # ASOF semantics: NULL compares false); dropping them up front also
    # keeps NULLS FIRST ordering from promoting a null-ts right row to
    # "earliest" and fabricating matches
    left = left.where(F.col(left_time).isNotNull())
    right = right.where(F.col(right_time).isNotNull())
    rhs = right.select(
        F.col(on),
        F.col(right_time).alias("_asof_ts"),
        F.lit(0).alias("_side"),
        (F.col(right_time) if tiebreak is None else F.col(tiebreak))
        .alias("_asof_tb"),
        F.struct(*[F.col(c) for c in r_payload]).alias("_asof_row"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c != on])
    lhs = left.select(
        F.col(on),
        F.col(left_time).alias("_asof_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rhs.schema["_asof_tb"].dataType).alias("_asof_tb"),
        F.lit(None).cast(rhs.schema["_asof_row"].dataType).alias("_asof_row"),
        *[F.col(c) for c in left.columns if c != on])
    u = lhs.unionByName(rhs.select(*lhs.columns))
    # backward: ascending time; a right row at the same instant sorts
    # before the left row (side 0 < 1) so ties are eligible. On equal
    # right timestamps the LAST in tiebreak-ascending order wins — the
    # max-tiebreak pick of the old top-1 form.
    ts = F.col("_asof_ts").asc() if direction == "backward" \
        else F.col("_asof_ts").desc()
    w = (Window.partitionBy(on)
         .orderBy(ts, F.col("_side").asc(), F.col("_asof_tb").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    matched = F.last("_asof_row", ignorenulls=True).over(w)
    out = (u.withColumn("_asof_match", matched)
           .where((F.col("_side") == 1) & F.col("_asof_match").isNotNull()))
    keep = [F.col(c) for c in left.columns]
    keep += [F.col(f"_asof_match.{c}").alias(c) for c in r_payload]
    return out.select(*keep)


def range_join(left: DataFrame, right: DataFrame, on: str,
               ts: str, lo: str, hi: str,
               bucket_width_sec: int | None = None) -> DataFrame:
    """Interval join: left rows whose ``ts`` falls in a right row's
    [lo, hi) window, equi on ``on``.

    With ``bucket_width_sec`` the join is *banded*: both sides get
    time-bucket keys (the right side exploded over its covered
    buckets), turning the theta join into an equi hash join + refine —
    the band-join pattern for large skewed interval joins (PAPERS.md).
    Without it, a plain equi+range condition is used (fine when ``on``
    is selective).
    """
    if bucket_width_sec is None:
        return left.alias("l").join(
            right.alias("r"),
            (F.col(f"l.{on}") == F.col(f"r.{on}"))
            & (F.col(f"l.{ts}") >= F.col(f"r.{lo}"))
            & (F.col(f"l.{ts}") < F.col(f"r.{hi}")), "inner")
    wsec = F.lit(int(bucket_width_sec))
    lbucket = F.floor(F.unix_timestamp(F.col(f"l.{ts}")) / wsec)
    b0 = F.floor(F.unix_timestamp(F.col(f"r.{lo}")) / wsec)
    b1 = F.floor(F.unix_timestamp(F.col(f"r.{hi}")) / wsec)
    r = right.alias("r").withColumn("_b", F.explode(F.sequence(b0, b1)))
    return (left.alias("l").withColumn("_b", lbucket)
            .join(r, ["_b"], "inner")
            .where((F.col(f"l.{on}") == F.col(f"r.{on}"))
                   & (F.col(f"l.{ts}") >= F.col(f"r.{lo}"))
                   & (F.col(f"l.{ts}") < F.col(f"r.{hi}")))
            .drop("_b"))


# ----------------------------------------------- catalog-style filters ----

def cloud_filter(df: DataFrame, max_cloud: float) -> DataFrame:
    """stac_cloud_filter parity (R/stac-utils.R:431-443)."""
    return df.where(F.col("cloud_cover") < F.lit(max_cloud))


def orbit_filter(df: DataFrame, states) -> DataFrame:
    """stac_orbit_filter parity (R/stac-utils.R:456-472)."""
    return df.where(F.col("orbit_state").isin(list(states)))


def drop_duplicates_stac(df: DataFrame) -> DataFrame:
    """stac_drop_duplicates parity (R/stac-utils.R:683-741): dedup on
    (platform, bbox rounded to 4 dp, datetime, orbit)."""
    rounded = [F.round(F.col(c), 4).alias(f"_r_{c}")
               for c in ("xmin", "ymin", "xmax", "ymax")]
    tmp = df.select("*", *rounded)
    # srs joins the key because our bboxes are zone-relative (the
    # reference's are in one global CRS, where bbox alone disambiguates)
    return tmp.dropDuplicates(
        ["platform", "srs", "_r_xmin", "_r_ymin", "_r_xmax", "_r_ymax",
         "datetime", "orbit_state"]
    ).drop("_r_xmin", "_r_ymin", "_r_xmax", "_r_ymax")
