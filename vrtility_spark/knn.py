"""kNN tile queries: one exact count job, then one probe.

Required by BASELINE.json's ``north_rule`` (the reference has no kNN
operator — SURVEY.md §2.3 J6). For each query point, find the K
nearest scene tiles (distance = query point → tile center), exactly.

:func:`knn_tiles` works in three steps, with no rounds:

1. **Collect the queries** once (``schema.driver_frame``; no Spark
   job when the query frame was built from pandas): the query set is
   a bounded, user-supplied probe list, never the tile table.
2. **Count** — ONE aggregation job. ``cell_id`` range predicates keep
   the tiles inside each query's Chebyshev box of radius
   ``max_rings``; they are counted per cell and collected, at most
   ``(2·max_rings+1)²`` rows per query. NumPy turns each query's cell
   counts into cumulative ring counts: ``r0`` is the smallest radius
   whose disk holds ≥ K tiles, or ``max_rings`` when the box holds
   fewer (the best bounded answer, or the whole zone when the box
   covers it).
3. **Probe** — the disk(r0) guarantee bounds the Kth distance by
   ``d0 = (r0+1)·cell_size·√2`` (query anywhere inside its cell, tile
   anywhere inside the farthest disk cell), so every true neighbour
   lies within Chebyshev cell radius ``r1 = ceil(√2·(r0+1))``. The
   disk(r1) cells, tagged with their query's metadata, reach Spark as
   an Arrow-built pandas frame (a ``LocalTableScan``, no Python RDD);
   one broadcast join plus a per-query ``row_number`` over
   ``(dist, image_id)`` gives the exact top-K. A disk(r1) that covers
   its zone becomes a per-zone equi-join instead of a cell list.

Nothing is persisted or checkpointed and the catalog is never counted;
the result is a lazy plan. Driver work is bounded by the query count
and ``max_rings``, never the table size.

:func:`knn_tiles_distributed` keeps the query table distributed for
10⁶+-row query sets, at the price of count rounds.
"""

from __future__ import annotations

import functools
import math
import operator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vrtility_spark.cells import _B, cell_size, encode_np
from vrtility_spark.checkpointing import truncate_lineage
from vrtility_spark.schema import driver_frame, empty_frame

_SQRT2 = math.sqrt(2.0)

_OUT_SCHEMA = ("query_id string, image_id string, dist double, rank int, "
               "caption string, phash long")
_META_SCHEMA = "query_id string, qx double, qy double, k int"


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

    def _clip(c):
        return F.greatest(F.lit(0), F.least(F.lit(nmax), c)).cast("long")

    q = (queries.select(
            "query_id", F.col("zone").cast("long").alias("zone"),
            F.col("x").cast("double").alias("qx"),
            F.col("y").cast("double").alias("qy"),
            F.col("k").cast("int").alias("k"))
         .withColumn("qix", _clip(F.floor(F.col("qx") / F.lit(size))))
         .withColumn("qiy", _clip(F.floor(F.col("qy") / F.lit(size))))
         .persist())
    stats = q.agg(F.count("*").alias("nq"),
                  F.max("k").alias("kmax")).collect()[0]
    if not stats.nq:
        q.unpersist()
        cell_counts.unpersist()
        tiles_p.unpersist()
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


def _box(qix, qiy, r, nmax: int):
    """Bounds ``(x0, x1, y0, y1)`` of each query's Chebyshev box of
    radius ``r`` around its cell, clipped to the zone."""
    return (np.maximum(qix - r, 0), np.minimum(qix + r, nmax),
            np.maximum(qiy - r, 0), np.minimum(qiy + r, nmax))


def knn_tiles(tiles: DataFrame, queries: DataFrame, res: int,
              max_rings: int = 64, reliable: bool = False,
              checkpoint_dir: str | None = None) -> DataFrame:
    """K nearest tiles per query row (exact).

    ``tiles`` must carry ``cell_id`` at ``res`` (see
    :func:`vrtility_spark.warp.assign_cells`) plus ``image_id``,
    ``xmin..ymax``, ``caption``, ``phash``. ``queries`` carries
    ``query_id, zone, x, y, k`` and is collected to the driver (an
    ad-hoc probe list; :func:`knn_tiles_distributed` keeps it
    distributed). ``max_rings`` caps the search radius in cells: a
    query with fewer than K tiles inside the cap gets the best
    bounded-partial answer.

    The result is a lazy plan; ``reliable=True`` checkpoints it to
    durable storage instead (see :mod:`vrtility_spark.checkpointing`).

    Returns ``(query_id, image_id, dist, rank, caption, phash)``.
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
    size = cell_size(res)
    nmax = (1 << res) - 1
    zone, k = q.zone.to_numpy(np.int64), q.k.to_numpy()
    qix = np.clip(np.floor(q.qx.to_numpy() / size), 0, nmax).astype(np.int64)
    qiy = np.clip(np.floor(q.qy.to_numpy() / size), 0, nmax).astype(np.int64)

    # ---- count: tiles per cell inside every query's max_rings box -------
    rc = min(nmax, int(max_rings))
    x0, x1, y0, y1 = _box(qix, qiy, rc, nmax)
    lo, hi = encode_np(zone, res, x0, y0), encode_np(zone, res, x1, y1)
    cell, ix = F.col("cell_id"), F.col("cell_id") % _B
    in_box = functools.reduce(operator.or_, (
        cell.between(int(a), int(b)) & ix.between(int(c), int(d))
        for a, b, c, d in zip(lo, hi, x0, x1)))
    counts = (tiles_p.where(in_box).groupBy("cell_id").count()
              .toPandas().sort_values("cell_id"))
    cid = counts.cell_id.to_numpy(np.int64)
    n = counts["count"].to_numpy(np.int64)
    r0 = np.full(len(q), rc)  # < K tiles within the cap: take them all
    for j in range(len(q)):
        a, b = np.searchsorted(cid, lo[j]), np.searchsorted(cid, hi[j], "right")
        ring = np.maximum(np.abs(cid[a:b] % _B - qix[j]),
                          np.abs(cid[a:b] // _B % _B - qiy[j]))
        filled = np.bincount(ring, n[a:b], rc + 1)[:rc + 1].cumsum() >= k[j]
        if filled[-1]:
            r0[j] = filled.argmax()

    # ---- probe: disk(r1) cells, or the whole zone, then exact rank ------
    r1 = np.minimum(np.ceil(_SQRT2 * (r0 + 1)).astype(np.int64), nmax)
    whole = 2 * r1 + 1 > nmax  # disk covers the zone: equi-join on zone
    meta = q[["query_id", "qx", "qy", "k"]]
    parts = []
    if not whole.all():
        x0, x1, y0, y1 = _box(qix, qiy, r1, nmax)
        disk = np.flatnonzero(~whole)
        cells = [encode_np(zone[j], res, np.arange(x0[j], x1[j] + 1)[None, :],
                           np.arange(y0[j], y1[j] + 1)[:, None]).ravel()
                 for j in disk]
        cand = meta.iloc[np.repeat(disk, [len(c) for c in cells])].assign(
            cand_cell=np.concatenate(cells))
        cand = spark.createDataFrame(cand, _META_SCHEMA + ", cand_cell long")
        parts.append(F.broadcast(cand).join(
            tiles_p, F.col("cand_cell") == F.col("cell_id")))
    if whole.any():
        zq = spark.createDataFrame(meta[whole].assign(qzone=zone[whole]),
                                   _META_SCHEMA + ", qzone long")
        tzone = F.floor(F.col("cell_id") / (16 * _B * _B))
        parts.append(F.broadcast(zq).join(tiles_p, F.col("qzone") == tzone))
    hits = functools.reduce(DataFrame.unionByName, (
        p.select("query_id", "qx", "qy", "k", "image_id", "caption",
                 "phash", "tcx", "tcy") for p in parts))

    w = Window.partitionBy("query_id").orderBy("dist", "image_id")
    out = (hits
           .withColumn("dist", F.sqrt((F.col("tcx") - F.col("qx")) ** 2
                                      + (F.col("tcy") - F.col("qy")) ** 2))
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.col("k"))
           .select("query_id", "image_id", "dist", "rank", "caption", "phash"))
    if reliable:
        return truncate_lineage(out, reliable=True,
                                checkpoint_dir=checkpoint_dir)
    return out
