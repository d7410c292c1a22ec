"""kNN tile queries: ring counts from a per-cell count index, one probe
scan, a driver rank.

Required by BASELINE.json's ``north_rule`` (the reference has no kNN
operator — SURVEY.md §2.3 J6). For each query point, find the K
nearest scene tiles (distance = query point → tile center), exactly.

:func:`knn_tiles` works in three steps, with no rounds, after it
collects the queries once (``schema.driver_frame``; no Spark job when
the query frame was built from pandas): the query set is a bounded,
user-supplied probe list, never the tile table. A query whose ``x`` or
``y`` is NaN or outside ``[0, ZONE_SPAN)`` is rejected: the ring bound
below holds only for a point inside its cell.

1. **Count** — the tiles per cell around each query. When the catalog
   is itself a Spark-cached frame, the counts come from a per-cell
   count index held on the driver (the grid-with-cell-counts design of
   *Distributed Stream KNN Join*, SIGMOD 2021): the first query that
   reaches a zone counts that zone's contiguous ``cell_id`` range in
   one aggregation (several new zones in one call share it), and later
   queries read it with no Spark job. Otherwise ONE aggregation job
   counts the cells of each query's Chebyshev box of radius
   ``max_rings``. NumPy turns each query's cell counts into cumulative
   ring counts: ``r0`` is the smallest radius whose disk holds ≥ K
   tiles, or ``max_rings`` when the box holds fewer (the best bounded
   answer, or the whole zone when the box covers it).
2. **Probe** — ONE filtered scan. The disk(r0) guarantee bounds the
   Kth distance by ``d0 = (r0+1)·cell_size·√2`` (query anywhere inside
   its cell, tile anywhere inside the farthest disk cell), so every
   true neighbour lies within Chebyshev cell radius
   ``r1 = ceil(√2·(r0+1))``. The same literal range predicates at
   radius ``r1`` collect the tiles of every query's disk(r1) through
   Arrow; a disk that reaches across its zone takes the whole zone.
3. **Rank** on the driver: each query's tiles ordered by
   ``(dist, image_id)`` ascending, as a per-query ``row_number``
   window would, cut at K. The result is a driver-built Arrow local
   relation, so reading it runs no job.

Nothing is persisted or checkpointed. The count index lives exactly as
long as the Spark cache entry it was counted from: it is keyed on the
application id and the id of that entry's cached RDD, so ``unpersist``
and a new ``cache`` (or a new session) start a new index, and it adds
no staleness beyond what Spark's cache already has. The last
``_INDEX_ENTRIES`` cache entries keep theirs. The driver holds 16 B per
occupied cell of each indexed zone (at most ``4**res`` cells per zone,
never more than the zone's tiles), the queries and the probe's tiles:
the tiles of each query's disk(r1). It never holds the table.

:func:`knn_tiles_distributed` keeps the query table distributed for
10⁶+-row query sets, or candidate sets too big for the driver, at the
price of count rounds.
"""

from __future__ import annotations

import functools
import math
import operator
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vrtility_spark.cells import _B, ZONE_SPAN, cell_size, encode_np
from vrtility_spark.checkpointing import truncate_lineage
from vrtility_spark.schema import driver_frame, empty_frame

_SQRT2 = math.sqrt(2.0)

_OUT_SCHEMA = ("query_id string, image_id string, dist double, rank int, "
               "caption string, phash long")

_INDEX_ENTRIES = 4  # cached catalogs whose cell counts stay on the driver


def knn_tiles_distributed(tiles: DataFrame, queries: DataFrame, res: int,
                          max_rings: int = 64, reliable: bool = False,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Exact K nearest tiles per query — the DISTRIBUTED-QUERIES twin
    of :func:`knn_tiles` for 10⁶+-row query tables.

    :func:`knn_tiles` collects the query table to the driver (right
    for ad-hoc probe lists; documented there). Here the query table
    stays a DataFrame end to end: candidate disk cells are generated
    executor-side (two ``explode(sequence(...))`` generators per
    radius round), counted against a per-cell tile-count aggregate
    (computed ONCE and reused every round; its total over its occupied
    cells also sets the first count radius), and each query's minimal
    disk radius ``r0`` falls out of a per-query cumulative ring sum —
    one window over rings, never a per-query driver loop. The ONLY
    thing that ever reaches the driver is one scalar per round: the
    count of still-under-filled queries, which decides whether to
    double the count radius. The probe phase is the same disk(r1)
    guarantee as :func:`knn_tiles` (``r1 = ceil(√2·(r0+1))``), with the
    per-query radius driving a column-valued ``sequence`` explode, and
    the same graceful per-zone equi-join when a disk covers its zone.

    Scale shape: the count join moves (pending × (2rc+1)²) tiny key
    rows against the cell-count table (itself bounded by the number of
    distinct occupied cells, not tiles); the probe fanout is bounded by
    K/local-density per query. Nothing query-sized or tile-sized is
    ever collected. Results are row-identical to :func:`knn_tiles` on
    the same input (pytest-pinned).
    """
    size = cell_size(res)
    nmax = (1 << res) - 1
    nside = 1 << res

    tiles_p = tiles.select(
        "cell_id", "image_id", "caption", "phash",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("tcx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("tcy")).persist()
    cell_counts = (tiles_p.groupBy("cell_id")
                   .agg(F.count("*").alias("_n")).persist())

    q = (queries.select(
            "query_id", F.col("zone").cast("long").alias("zone"),
            F.col("x").cast("double").alias("qx"),
            F.col("y").cast("double").alias("qy"),
            F.col("k").cast("int").alias("k"))
         .withColumn("qix", F.floor(F.col("qx") / F.lit(size)))
         .withColumn("qiy", F.floor(F.col("qy") / F.lit(size)))
         .persist())
    # NaN and null compare false here (Spark orders NaN above ZONE_SPAN)
    outside = ~F.coalesce(
        (F.col("qx") >= 0) & (F.col("qx") < ZONE_SPAN)
        & (F.col("qy") >= 0) & (F.col("qy") < ZONE_SPAN), F.lit(False))
    stats = q.agg(F.count("*").alias("nq"), F.max("k").alias("kmax"),
                  F.count_if(outside).alias("n_out"),
                  F.min(F.when(outside, F.col("query_id"))).alias("out_id")
                  ).collect()[0]
    if not stats.nq or stats.n_out:
        q.unpersist()
        cell_counts.unpersist()
        tiles_p.unpersist()
        if stats.n_out:
            raise ValueError(
                f"knn_tiles_distributed: {stats.n_out} queries with x or y "
                f"NaN or outside [0, {ZONE_SPAN:.0f}), first query_id "
                f"{stats.out_id!r}")
        return empty_frame(queries, _OUT_SCHEMA)

    # first count radius: the disk that holds ~4·kmax tiles at the
    # mean density of the occupied cells
    occ = cell_counts.agg(F.sum("_n").alias("n"),
                          F.count("*").alias("cells")).collect()[0]
    density = max((occ.n or 0) / max(occ.cells, 1), 1e-9)
    want_cells = 4.0 * stats.kmax / density
    rc_cap = min(nmax, int(max_rings))
    rc = min(max(2, math.ceil((math.sqrt(want_cells) - 1) / 2)), rc_cap)

    def _cell_expr(zone, ix, iy):
        return ((zone * 16 + F.lit(res)) * F.lit(_B) + iy) * F.lit(_B) + ix

    def _disk(df, radius):
        """Explode the Chebyshev disk around each query's cell;
        ``radius`` is a literal int or a per-row Column."""
        from pyspark.sql import Column
        r = radius if isinstance(radius, Column) else F.lit(int(radius))
        return (df
                .withColumn("dx", F.explode(F.sequence(-r, r)))
                .withColumn("dy", F.explode(F.sequence(-r, r)))
                .withColumn("ix", F.col("qix") + F.col("dx"))
                .withColumn("iy", F.col("qiy") + F.col("dy"))
                .where((F.col("ix") >= 0) & (F.col("ix") <= nmax)
                       & (F.col("iy") >= 0) & (F.col("iy") <= nmax))
                .withColumn("_cell", _cell_expr(F.col("zone"),
                                                F.col("ix"), F.col("iy"))))

    # ---- phase 1: count (loop driven by ONE scalar per round) ------------
    solved: list[DataFrame] = []
    pending = q
    while True:
        ring_counts = (_disk(pending, rc)
                       .withColumn("ring", F.greatest(F.abs("dx"),
                                                      F.abs("dy")))
                       .join(cell_counts,
                             F.col("_cell") == F.col("cell_id"), "left")
                       .groupBy("query_id", "k", "ring")
                       .agg(F.sum(F.coalesce(F.col("_n"),
                                             F.lit(0))).alias("rn")))
        wr = Window.partitionBy("query_id").orderBy("ring")
        got = (ring_counts.withColumn("cum", F.sum("rn").over(wr))
               .where(F.col("cum") >= F.col("k"))
               .groupBy("query_id").agg(F.min("ring").alias("r0")))
        # disk covers the whole zone (take all) / bounded search
        # exhausted (best partial answer): r0 = current count radius
        covers = ((F.col("qix") <= rc) & (F.col("qiy") <= rc)
                  & (F.col("qix") + rc >= nmax)
                  & (F.col("qiy") + rc >= nmax))
        exhausted = rc >= rc_cap
        fallback = (pending.where(covers | F.lit(exhausted))
                    .select("query_id",
                            F.lit(int(rc)).cast("int").alias("r0"))
                    .join(got, "query_id", "left_anti"))
        # truncate per round: pending_{k+1} references round_solved_k
        # AND pending_k, so without truncation the logical plan doubles
        # every round (exponential analyze/explain cost — a real OOM at
        # sf0.01 before this). These tables are (query_id, r0)-sized.
        round_solved = truncate_lineage(
            got.select("query_id", F.col("r0").cast("int").alias("r0"))
            .unionByName(fallback), eager=True)
        solved.append(round_solved)
        nxt = truncate_lineage(
            pending.join(round_solved, "query_id", "left_anti"),
            eager=False)
        n_left = nxt.count()  # the ONLY driver-side signal
        pending = nxt
        if n_left == 0 or exhausted:
            break
        rc = min(2 * rc, rc_cap)

    r0df = functools.reduce(DataFrame.unionByName, solved)

    # ---- phase 2: probe + exact rank (same guarantee as knn_tiles) ------
    qr = (q.join(r0df, "query_id")
          .withColumn("r1", F.least(
              F.lit(nmax),
              F.ceil(F.lit(_SQRT2) * (F.col("r0") + 1))).cast("int")))
    zone_cover = (F.lit(2) * F.col("r1") + F.lit(1)) >= F.lit(nside)
    hits_d = (_disk(qr.where(~zone_cover), F.col("r1"))
              .select("query_id", "k", "qx", "qy", "_cell")
              .join(tiles_p, F.col("_cell") == F.col("cell_id"), "inner")
              .select("query_id", "k", "qx", "qy", "image_id",
                      "caption", "phash", "tcx", "tcy"))
    tzone = F.floor(F.col("cell_id") / (16 * _B * _B))
    hits_z = (qr.where(zone_cover)
              .select("query_id", "k", "qx", "qy",
                      F.col("zone").alias("_qzone"))
              .join(tiles_p.withColumn("_tzone", tzone),
                    F.col("_qzone") == F.col("_tzone"), "inner")
              .select("query_id", "k", "qx", "qy", "image_id",
                      "caption", "phash", "tcx", "tcy"))
    hits = hits_d.unionByName(hits_z)

    w = Window.partitionBy("query_id").orderBy("dist", "image_id")
    out = (hits
           .withColumn("dist", F.sqrt((F.col("tcx") - F.col("qx")) ** 2
                                      + (F.col("tcy") - F.col("qy")) ** 2))
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.col("k"))
           .select("query_id", "image_id", "dist", "rank",
                   "caption", "phash"))
    result = truncate_lineage(out, eager=True, reliable=reliable,
                              checkpoint_dir=checkpoint_dir)
    q.unpersist()
    cell_counts.unpersist()
    tiles_p.unpersist()
    return result


def _cell_counts(frame: DataFrame):
    """``frame``'s tiles per occupied cell, as ``(cell_id, count)``
    int64 arrays sorted by ``cell_id``, from one aggregation."""
    t = frame.groupBy("cell_id").count().toArrow().sort_by("cell_id")
    return (t["cell_id"].to_numpy().astype(np.int64),
            t["count"].to_numpy().astype(np.int64))


def _cache_key(tiles: DataFrame, res: int):
    """``(application id, cached RDD id, res)`` of the Spark cache entry
    that serves ``tiles``, or None when ``tiles`` is not itself cached.
    RDD ids restart with each SparkContext, hence the application id;
    ``unpersist`` and a new ``cache`` build a new RDD, hence a new key."""
    spark = tiles.sparkSession
    entry = (spark._jsparkSession.sharedState().cacheManager()
             .lookupCachedData(tiles._jdf))
    if entry.isEmpty():
        return None
    rdd = entry.get().cachedRepresentation().cacheBuilder() \
        .cachedColumnBuffers()
    return spark.sparkContext.applicationId, rdd.id(), res


class _CountIndex:
    """Per-cell tile counts of cached catalogs, held on the driver.

    One entry per Spark cache entry (:func:`_cache_key`): the zones
    counted so far and their ``(cell_id, count)`` arrays, sorted. A zone
    is counted the first time a query reaches it; the least recently
    used entries beyond ``entries`` are dropped."""

    def __init__(self, entries: int):
        self._entries = entries
        self._memo: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def counts(self, tiles: DataFrame, zones, res: int):
        """Sorted ``(cell_id, count)`` arrays covering every zone in
        ``zones``, or None when ``tiles`` is not cached."""
        key = _cache_key(tiles, res)
        if key is None:
            return None
        empty = np.empty(0, np.int64)
        with self._lock:
            done, cid, n = self._memo.get(key, (frozenset(), empty, empty))
            if key in self._memo:
                self._memo.move_to_end(key)
        new = sorted(set(zones.tolist()) - done)
        if new:
            nmax = (1 << res) - 1
            lo = encode_np(new, res, 0, 0)
            hi = encode_np(new, res, nmax, nmax)
            add_cid, add_n = _cell_counts(tiles.where(_in_boxes(
                lo, hi, np.zeros_like(lo), np.full_like(lo, nmax))))
            cid = np.concatenate([cid, add_cid])
            order = np.argsort(cid, kind="stable")
            cid, n = cid[order], np.concatenate([n, add_n])[order]
            with self._lock:
                self._memo[key] = (done | frozenset(new), cid, n)
                self._memo.move_to_end(key)
                while len(self._memo) > self._entries:
                    self._memo.popitem(last=False)
        return cid, n


_INDEX = _CountIndex(_INDEX_ENTRIES)


def _box(qix, qiy, r, nmax: int):
    """Bounds ``(x0, x1, y0, y1)`` of each query's Chebyshev box of
    radius ``r`` around its cell, clipped to the zone."""
    return (np.maximum(qix - r, 0), np.minimum(qix + r, nmax),
            np.maximum(qiy - r, 0), np.minimum(qiy + r, nmax))


def _in_boxes(lo, hi, x0, x1):
    """The predicate that keeps the tiles inside any box with encoded
    bounds ``lo..hi`` (rows ``y0..y1``) and columns ``x0..x1``: a
    ``cell_id`` range and a column range, as literals."""
    cell, ix = F.col("cell_id"), F.col("cell_id") % _B
    return functools.reduce(operator.or_, (
        cell.between(int(a), int(b)) & ix.between(int(c), int(d))
        for a, b, c, d in zip(lo, hi, x0, x1)))


def knn_tiles(tiles: DataFrame, queries: DataFrame, res: int,
              max_rings: int = 64) -> DataFrame:
    """K nearest tiles per query row (exact).

    ``tiles`` must carry ``cell_id`` at ``res`` (see
    :func:`vrtility_spark.warp.assign_cells`) plus ``image_id``,
    ``xmin..ymax``, ``caption``, ``phash``. ``queries`` carries
    ``query_id, zone, x, y, k``, one row per ``query_id``, and is
    collected to the driver (an ad-hoc probe list;
    :func:`knn_tiles_distributed` keeps it distributed). ``max_rings``
    caps the search radius in cells: a query with fewer than K tiles
    inside the cap gets the best bounded-partial answer. A query whose
    ``x`` or ``y`` is NaN or outside ``[0, ZONE_SPAN)`` raises
    ``ValueError``.

    Counts the tiles around each query, then runs the probe scan and
    ranks on the driver (module docstring). When ``tiles`` is itself a
    cached frame the counts come from the driver-held count index of
    its Spark cache entry: the first query that reaches a zone counts
    the zone in one aggregation, and a query in an indexed zone runs
    only the probe scan. The index lives as long as that cache entry
    and costs 16 B per occupied cell of each indexed zone (at most
    ``4**res`` per zone, never more than the zone's tiles). A frame
    that is not itself cached (a ``select`` of a cached frame is not)
    is counted inside each query's ``max_rings`` box by one
    aggregation per call. The probe collects the tiles of every
    query's disk(r1); for ``r1 <= max_rings`` the count has already
    measured that number. Query or candidate sets too big for the
    driver belong to :func:`knn_tiles_distributed`.

    Returns ``(query_id, image_id, dist, rank, caption, phash)`` as a
    driver-built Arrow relation: reading it runs no Spark job.
    """
    spark = tiles.sparkSession
    tiles_p = tiles.select(
        "cell_id", "image_id", "caption", "phash",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("tcx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("tcy"))
    q = driver_frame(queries.select(
        "query_id", F.col("zone").cast("long").alias("zone"),
        F.col("x").cast("double").alias("qx"),
        F.col("y").cast("double").alias("qy"),
        F.col("k").cast("int").alias("k")))
    if q.empty:
        return empty_frame(queries, _OUT_SCHEMA)
    dup = q.query_id[q.query_id.duplicated()]
    if len(dup):
        raise ValueError(f"knn_tiles: duplicate query_id {sorted(set(dup))}"
                         "; each query needs its own id")
    qx, qy = q.qx.to_numpy(np.float64), q.qy.to_numpy(np.float64)
    outside = ~((qx >= 0) & (qx < ZONE_SPAN) & (qy >= 0) & (qy < ZONE_SPAN))
    if outside.any():
        raise ValueError(
            f"knn_tiles: query_id {sorted(q.query_id[outside])} with x or "
            f"y NaN or outside [0, {ZONE_SPAN:.0f})")
    size = cell_size(res)
    nmax = (1 << res) - 1
    zone = q.zone.to_numpy(np.int64)
    k = np.maximum(q.k.fillna(0).to_numpy(np.int64), 0)  # rank <= k
    qix = np.floor(qx / size).astype(np.int64)
    qiy = np.floor(qy / size).astype(np.int64)

    # ---- count: tiles per cell, from the index or inside every query's
    # max_rings box; the ring sums below look at the box either way -----
    rc = min(nmax, int(max_rings))
    x0, x1, y0, y1 = _box(qix, qiy, rc, nmax)
    lo, hi = encode_np(zone, res, x0, y0), encode_np(zone, res, x1, y1)
    counts = _INDEX.counts(tiles, zone, res)
    cid, n = counts or _cell_counts(tiles.where(_in_boxes(lo, hi, x0, x1)))
    r0 = np.full(len(q), rc)  # < K tiles within the cap: take them all
    for j in range(len(q)):
        a, b = np.searchsorted(cid, lo[j]), np.searchsorted(cid, hi[j], "right")
        ring = np.maximum(np.abs(cid[a:b] % _B - qix[j]),
                          np.abs(cid[a:b] // _B % _B - qiy[j]))
        filled = np.bincount(ring, n[a:b], rc + 1)[:rc + 1].cumsum() >= k[j]
        if filled[-1]:
            r0[j] = filled.argmax()

    # ---- probe: the tiles of every disk(r1) in one scan ------------------
    r1 = np.minimum(np.ceil(_SQRT2 * (r0 + 1)).astype(np.int64), nmax)
    r1[2 * r1 + 1 > nmax] = nmax  # a disk across the zone: all of it
    x0, x1, y0, y1 = _box(qix, qiy, r1, nmax)
    lo, hi = encode_np(zone, res, x0, y0), encode_np(zone, res, x1, y1)
    cand = tiles_p.where(_in_boxes(lo, hi, x0, x1)).toArrow() \
        .sort_by("cell_id")

    # ---- rank on the driver by (dist, image_id), as a window would ------
    cid = cand["cell_id"].to_numpy()
    tcx, tcy = cand["tcx"].to_numpy(), cand["tcy"].to_numpy()
    id_order = pc.rank(cand["image_id"], null_placement="at_start").to_numpy()
    picks, dists = [], []
    for j in range(len(q)):
        a, b = np.searchsorted(cid, lo[j]), np.searchsorted(cid, hi[j], "right")
        ix = cid[a:b] % _B
        sel = a + np.flatnonzero((ix >= x0[j]) & (ix <= x1[j]))
        d = np.sqrt((tcx[sel] - qx[j]) ** 2 + (tcy[sel] - qy[j]) ** 2)
        top = np.lexsort((id_order[sel], d))[:k[j]]
        picks.append(sel[top])
        dists.append(d[top])
    n_hit = [len(p) for p in picks]
    if not sum(n_hit):
        return empty_frame(queries, _OUT_SCHEMA)
    take = np.concatenate(picks)
    return spark.createDataFrame(pa.table({
        "query_id": pa.array(np.repeat(q.query_id.to_numpy(), n_hit)),
        "image_id": cand["image_id"].take(take),
        "dist": np.concatenate(dists),
        "rank": pa.array(np.concatenate([np.arange(1, m + 1) for m in n_hit]),
                         pa.int32()),
        "caption": cand["caption"].take(take),
        "phash": cand["phash"].take(take)}))
