"""D8 flow accumulation over the distributed cell grid — the
hydrology stage after :func:`vrtility_spark.terrain.terrain`'s
``flowdir`` (ESRI FlowAccumulation / GRASS ``r.watershed`` / WhiteboxTools
``D8FlowAccum`` semantics): each pixel's value is the COUNT of upstream
pixels whose D8 drainage path passes through it (exclusive of itself,
the ESRI convention). Stream networks are then one threshold away
(``accumulation >= T`` — :func:`stream_mask`).

The reference delegates terrain analysis to external GDAL tooling
(R/gdal-options.R); accumulation completes the hydrology family
(slope/aspect/hillshade/flowdir) the same way sieve/proximity/polygonize
completed the gdal_* utility family.

Spark-first plan — the whole-DEM transform is NOT focal (a pixel's
value depends on arbitrarily distant upstream terrain), so it cannot
ride a fixed-radius halo exchange. Instead:

1. **Local phase** (one ``mapInPandas``, zero shuffle): every tile
   seeds one unit of mass per valid pixel and pushes it down its own
   D8 pointers (vectorized frontier sweep — pure ``np.add.at`` rounds,
   no per-pixel Python). Receipts accumulate in an exact float64
   plane; mass reaching a tile edge becomes a tiny ``(dest_cell, band,
   py, px, mass)`` OUTFLOW record — bounded by the tile perimeter
   (``<= 2(w+h)`` rows per tile per round), so tile BYTES never
   shuffle, only boundary mass does.
2. **Cross-tile rounds**: outflows group by destination cell
   (map-side combinable sum), join back to the slim checkpointed codes
   table (only tiles that actually received mass re-process — an
   inner join, not a full pass), inject at the entry pixels, and push
   again. Per-round lineage is truncated (``localCheckpoint``, or
   durable checkpoints with ``reliable=True`` — the same policy knob
   as :func:`vrtility_spark.dedup.connected_components`); convergence
   is the scalar outflow count hitting zero. Round count = the maximum
   number of TILE crossings of any drainage path (grid diameter at
   worst, typically far less), not path length in pixels.
3. **Final assembly**: the per-round receipt planes (one small binary
   row per touched tile per round) merge in ONE grouped sum, then join
   the original tiles to emit ``rawf32`` payloads with the finite
   ``-9999`` sentinel (same contract as :mod:`terrain`).

At 100 TB the shuffled volume per round is perimeter mass records plus
one f64 plane per TOUCHED tile — orders of magnitude under the DEM
itself; the DEM scan happens exactly once.

Counting convention (kernel ≡ distributed, loop-oracle-gated in
tests/test_hydrology.py): valid pixels (finite D8 code) each
contribute one unit; mass moves only from pixels with code > 0; every
receipt counts; sinks (code 0) and nodata-code pixels absorb; a
pointer off the DEM edge (or into a cell absent from the table)
absorbs silently — on flowdir-derived codes this cannot occur, since
any pixel whose 3x3 window left the mosaic already coded NaN. Counts
are exact integers in float64 throughout; the ``rawf32`` payload is
exact up to 2**24 upstream pixels per pixel — beyond that (a
~4000 km² single-outlet basin at 10 m), read the float32 as the
GIS-standard approximate accumulation it is everywhere else too.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vrtility_spark import cells, codec
from vrtility_spark.checkpointing import truncate_lineage
from vrtility_spark.terrain import D8_CODES

OUT_NODATA = -9999.0

#: absorb marker in the per-tile destination table
_ABSORB = -1
#: off-tile marker base: dest = _OFF_BASE - ((cdy+1)*3 + (cdx+1))
_OFF_BASE = -2


def _dest_tables(c: np.ndarray):
    """Per-pixel move tables for one ``(H, W)`` code plane: ``dest``
    (in-tile flat index, ``_ABSORB``, or an off-tile marker), the
    receiving NEIGHBOR's flat pixel index for off-tile moves, and the
    neighbor offset ``(cdy, cdx)`` per marker."""
    H, W = c.shape
    dest = np.full(H * W, _ABSORB, np.int64)
    off_flat = np.full(H * W, -1, np.int64)
    for code, dy, dx in D8_CODES:
        py, px = np.nonzero(c == code)
        if py.size == 0:
            continue
        ny, nx = py + dy, px + dx
        cdy = (ny < 0).astype(np.int64) * -1 + (ny >= H).astype(np.int64)
        cdx = (nx < 0).astype(np.int64) * -1 + (nx >= W).astype(np.int64)
        flat = py * W + px
        inb = (cdy == 0) & (cdx == 0)
        dest[flat[inb]] = ny[inb] * W + nx[inb]
        out = ~inb
        if out.any():
            dest[flat[out]] = _OFF_BASE - ((cdy[out] + 1) * 3
                                           + (cdx[out] + 1))
            off_flat[flat[out]] = ((ny[out] - cdy[out] * H) * W
                                   + (nx[out] - cdx[out] * W))
    return dest, off_flat


def _push(c: np.ndarray, pending: np.ndarray, acc: np.ndarray):
    """Push ``pending`` mass down one ``(H, W)`` code plane until it
    all rests on absorbers or leaves the tile. Mutates ``acc`` (flat
    f64 receipts) and returns ``{(cdy, cdx): (H, W) outflow mass}``
    keyed by neighbor offset, addressed in the NEIGHBOR's frame."""
    H, W = c.shape
    n = H * W
    dest, off_flat = _dest_tables(c)
    can_move = dest != _ABSORB
    pend = pending.ravel().copy()
    out: dict[tuple[int, int], np.ndarray] = {}
    frontier = np.flatnonzero((pend > 0) & can_move)
    guard = 0
    while frontier.size:
        amt = pend[frontier]
        pend[frontier] = 0.0
        d = dest[frontier]
        intile = d >= 0
        if intile.any():
            di = d[intile]
            np.add.at(acc, di, amt[intile])
            np.add.at(pend, di, amt[intile])
        offsel = ~intile
        if offsel.any():
            src = frontier[offsel]
            amt_off = amt[offsel]
            for marker in np.unique(d[offsel]):
                k = int(_OFF_BASE - marker)
                cdy, cdx = k // 3 - 1, k % 3 - 1
                buf = out.setdefault((cdy, cdx), np.zeros(n))
                sel = dest[src] == marker
                np.add.at(buf, off_flat[src[sel]], amt_off[sel])
        nxt = np.unique(d[intile])
        frontier = nxt[(pend[nxt] > 0) & can_move[nxt]]
        guard += 1
        if guard > n + 8:
            raise ValueError(
                "flow_accumulation: cycle detected in D8 codes — input "
                "is not a flowdir product (steepest descent cannot "
                "cycle); fix the code plane before accumulating")
    return {k: v.reshape(H, W) for k, v in out.items()}


def flow_accumulation_np(codes: np.ndarray) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` D8 code planes
    (NaN = nodata) → float64 upstream-pixel counts (NaN where the code
    was nodata). Bands accumulate independently. Pointers off the
    array edge absorb. The naive path-walking twin lives in
    tests/oracle.py; the distributed operator is pinned against THIS
    kernel run on the assembled mosaic."""
    codes = np.asarray(codes, np.float64)
    if codes.ndim != 3:
        raise ValueError("expected (bands, h, w) code planes")
    B, H, W = codes.shape
    result = np.full((B, H, W), np.nan)
    for b in range(B):
        c = codes[b]
        valid = np.isfinite(c)
        acc = np.zeros(H * W)
        outs = _push(c, valid.astype(np.float64), acc)
        # off-array mass is absorbed by the void — nothing to re-inject
        del outs
        plane = acc.reshape(H, W)
        result[b] = np.where(valid, plane, np.nan)
    return result


# ------------------------------------------------- distributed driver ----

_K_CONTRIB, _K_FLOW = 0, 1


def flow_accumulation(df: DataFrame, key: str = "cell_id",
                      max_rounds: int = 128,
                      reliable: bool = False,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed D8 flow accumulation over a one-row-per-cell tile
    table of flow-direction codes (the output of
    ``terrain(df, "flowdir")``; any payload holding ESRI D8 codes
    works). Output schema == input schema with the payload replaced by
    ``rawf32`` upstream counts, ``-9999`` sentinel nodata (per-band
    metadata arrays nulled — the scalar is authoritative), chainable
    like every other cell-keyed operator.

    All tiles must share ``w``/``h`` (the warp grid guarantees it);
    mass crossing into a differently-sized neighbor raises. See the
    module header for the plan and its shuffle budget.
    """
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"flow_accumulation input is missing "
                             f"column {req!r}")

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    step_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("kind", T.IntegerType()),
        T.StructField("nb", T.IntegerType()),
        T.StructField("acc", T.BinaryType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("mass", T.DoubleType()),
    ])

    def _decode_codes(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 row.nodata)
        return codec.to_float_masked(arr, nd)

    def _tile_step(row, inject) -> list[dict]:
        """One tile, one round: seed (round 0) or inject (later
        rounds), push, emit a receipt plane + outflow records."""
        C = _decode_codes(row)
        B, H, W = C.shape
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        acc = np.zeros((B, H * W))
        pending = np.zeros((B, H, W))
        if inject is None:
            pending[np.isfinite(C)] = 1.0
        else:
            for b, py, px, mass in inject:
                if not (0 <= b < B and 0 <= py < H and 0 <= px < W):
                    raise ValueError(
                        f"flow_accumulation: inflow at band {b} pixel "
                        f"({py},{px}) is outside the {B}x{H}x{W} tile "
                        f"of cell {row.cell} — mixed tile dims are not "
                        "supported")
                # a cross-tile arrival IS a receipt (the sender could
                # not count it), and it keeps flowing from here
                acc[b, py * W + px] += mass
                pending[b, py, px] += mass
        rows = []
        for b in range(B):
            outs = _push(C[b], pending[b], acc[b])
            for (cdy, cdx), plane in outs.items():
                dest = cells.neighbor_cell(zone, res, ix, iy, cdx, cdy)
                if dest is None:
                    continue  # zone edge: the void absorbs
                py, px = np.nonzero(plane)
                for yy, xx in zip(py.tolist(), px.tolist()):
                    rows.append({"cell": dest, "kind": _K_FLOW,
                                 "nb": None, "acc": None, "band": b,
                                 "py": int(yy), "px": int(xx),
                                 "mass": float(plane[yy, xx])})
        rows.append({"cell": int(row.cell), "kind": _K_CONTRIB,
                     "nb": B, "acc": acc.astype("<f8").tobytes(),
                     "band": None, "py": None, "px": None,
                     "mass": None})
        return rows

    _step_cols = [f.name for f in step_schema.fields]

    def _step_pdf(rows: list[dict]) -> pd.DataFrame:
        # explicit nullable-int dtypes: a mixed int/None column would
        # otherwise infer float64 and corrupt 2^59-scale cell ids
        pdf = pd.DataFrame(rows, columns=_step_cols)
        pdf["cell"] = pd.array(pdf["cell"], dtype="Int64")
        for c in ("kind", "nb", "band", "py", "px"):
            pdf[c] = pd.array(pdf[c], dtype="Int32")
        return pdf

    def seed_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                out.extend(_tile_step(row, None))
            if out:
                yield _step_pdf(out)

    def inject_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                inject = [(int(s["band"]), int(s["py"]), int(s["px"]),
                           float(s["mass"])) for s in row.inj]
                out.extend(_tile_step(row, inject))
            if out:
                yield _step_pdf(out)

    step = _ckpt(tiles_slim.mapInPandas(seed_round, schema=step_schema),
                 False)
    contribs = step.where(F.col("kind") == _K_CONTRIB) \
                   .select("cell", "nb", "acc")
    flows = step.where(F.col("kind") == _K_FLOW)
    pending = flows.count()  # materializes the round-0 checkpoint
    rounds = 0
    while pending:
        rounds += 1
        if rounds > max_rounds:
            sample = [(int(r.cell), int(r.band), int(r.py), int(r.px),
                       float(r.mass))
                      for r in flows.select("cell", "band", "py", "px",
                                            "mass").limit(5).collect()]
            raise ValueError(
                f"flow_accumulation did not converge in {max_rounds} "
                f"rounds ({pending} boundary-flow records still "
                "pending). EITHER a drainage path crosses more tiles "
                "than max_rounds — raise it (rounds are cheap: only "
                "touched tiles re-process) — OR the code planes "
                "contain a CROSS-TILE cycle (tile A's edge pixel "
                "points into tile B and B's entry drains back into "
                "A), which can never converge at any bound: "
                "flowdir-derived codes cannot cycle, so inspect how "
                "these planes were produced. Sample pending inflows "
                f"(cell, band, py, px, mass): {sample}")
        # map-side combinable pre-sum: parallel inflows to one pixel
        # collapse before the collect_list
        inflows = (flows.groupBy("cell", "band", "py", "px")
                   .agg(F.sum("mass").alias("mass"))
                   .groupBy("cell")
                   .agg(F.collect_list(F.struct("band", "py", "px",
                                                "mass")).alias("inj")))
        work = tiles_slim.join(inflows, "cell")
        step = _ckpt(work.mapInPandas(inject_round, schema=step_schema),
                     False)
        contribs = contribs.unionByName(
            step.where(F.col("kind") == _K_CONTRIB)
                .select("cell", "nb", "acc"))
        flows = step.where(F.col("kind") == _K_FLOW)
        pending = flows.count()

    merged = (contribs.groupBy("cell")
              .agg(F.collect_list("acc").alias("accs"),
                   F.first("nb").alias("nb")))

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def assemble(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                C = _decode_codes(row)
                B, H, W = C.shape
                total = np.zeros((B, H * W))
                for buf in row.accs:
                    total += np.frombuffer(buf, "<f8").reshape(B, -1)
                plane = np.where(np.isfinite(C),
                                 total.reshape(B, H, W), np.nan)
                d = {c: getattr(row, c) for c in names if c != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float32),
                    "rawf32")
                d["fmt"] = "rawf32"
                d["nodata"] = OUT_NODATA
                for c in meta_null:
                    d[c] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    final = (df.withColumnRenamed(key, "cell")
             .join(merged, "cell")
             .mapInPandas(assemble, schema=out_schema))
    return final


def stream_mask(df: DataFrame, threshold: float, band: int = 0,
                key: str = "cell_id") -> DataFrame:
    """Stream network extraction: accumulation tiles → 0/1 class tiles
    (``1`` where ``accumulation >= threshold``, nodata preserved) — a
    one-break :func:`vrtility_spark.algebra.classify` (narrow Arrow
    map, no shuffle), ready for :func:`regions.polygonize` to
    vectorize the channel network."""
    from vrtility_spark.algebra import classify
    return classify(df, [float(threshold)], band=band, key=key)


def twi_np(acc: np.ndarray, slope_deg: np.ndarray, pixel_size: float,
           min_tanb: float = 1e-3) -> np.ndarray:
    """Topographic wetness index kernel (Beven & Kirkby 1979):
    ``TWI = ln(a / tan β)`` over NaN-masked upstream-count and
    slope-degree arrays.  ``a`` is the specific catchment area per
    unit contour width, ``(upstream + 1) · pixel_size`` (the +1 is
    the pixel's own area; D8 contour width = one pixel edge); ``tan β``
    is clamped to ``min_tanb`` so flat pixels read as very wet instead
    of +inf (the standard TOPMODEL treatment).  NaN wherever either
    input is."""
    with np.errstate(invalid="ignore"):
        a = (np.asarray(acc, dtype=np.float64) + 1.0) * float(pixel_size)
        tanb = np.maximum(np.tan(np.deg2rad(slope_deg)),
                          float(min_tanb))
        return np.log(a / tanb)


def topographic_wetness(acc_df: DataFrame, slope_df: DataFrame,
                        pixel_size: float, min_tanb: float = 1e-3,
                        key: str = "cell_id") -> DataFrame:
    """TWI tile table from a flow-accumulation table
    (:func:`flow_accumulation`) and a slope table
    (``terrain(df, "slope")``, degrees): ONE cell-keyed equi-join +
    narrow Arrow combine (:func:`vrtility_spark.algebra.tile_algebra`
    with the :func:`twi_np` kernel) — no extra shuffle beyond the
    join, payloads decode only inside the map.  ``pixel_size`` is the
    ground sample distance in the catchment-area unit (explicit, not
    derived per cell: TWI mixes the two inputs' geometry, so the
    caller states the grid once)."""
    def op(A, S):
        return twi_np(A, S, pixel_size, min_tanb=min_tanb)
    from vrtility_spark.algebra import tile_algebra
    return tile_algebra(acc_df, slope_df, op=op, key=key)


def twi_from_dem(dem_df: DataFrame, pixel_size: float | None = None,
                 min_tanb: float = 1e-3, fill: bool = True,
                 key: str = "cell_id", **acc_kwargs) -> DataFrame:
    """The full wetness chain from a DEM tile table: (optional)
    depression filling → D8 flow directions → distributed flow
    accumulation → slope → :func:`topographic_wetness`.  The two
    derivative branches share the filled DEM; ``pixel_size`` defaults
    to the grid's uniform GSD derived from the FIRST tile row (all
    tiles on one warp grid share it — mixed grids must pass it
    explicitly). Deriving it runs one eager ``first()`` job and raises
    ``ValueError`` on an empty DEM table."""
    from vrtility_spark import cells, terrain
    if pixel_size is None:
        first = dem_df.select(key, "w").first()
        if first is None:
            raise ValueError("twi_from_dem: the DEM tile table is empty, "
                             "so there is no tile to derive pixel_size from")
        _, res, _, _ = (int(v) for v in
                        cells.decode_np(first[0]))
        pixel_size = cells.cell_size(res) / int(first[1])
    dem = fill_sinks(dem_df, key=key) if fill else dem_df
    codes = terrain.terrain(dem, "flowdir", key=key)
    acc = flow_accumulation(codes, key=key, **acc_kwargs)
    slope = terrain.terrain(dem, "slope", key=key)
    return topographic_wetness(acc, slope, pixel_size,
                               min_tanb=min_tanb, key=key)


# ------------------------------------------------------- sink filling ----

#: halo marker: this padded position is nodata/off-mosaic — an OUTLET
#: (strictly below any real elevation, so a plain min-merge keeps it)
_H_VOID = -np.inf
#: halo marker: neighbor exists but its spill level is not yet known
_H_UNKNOWN = np.inf


def _pf_local(Z: np.ndarray, halo: np.ndarray, eps: float) -> np.ndarray:
    """Priority-flood (Barnes et al. 2014, the gdal/WhiteboxTools
    ``FillDepressions`` algorithm) for ONE ``(H, W)`` elevation plane
    under a FIXED boundary: ``halo`` is the padded ``(H+2, W+2)`` ring
    of spill levels — ``-inf`` = outlet (off-mosaic / nodata: water
    escapes freely), ``+inf`` = unknown (no constraint yet), finite =
    the neighbor tile's current water level. Returns the minimal
    ``W >= Z`` with ``W(p) <= min_8nb(W(nb)) + eps`` given that
    boundary — the exact local fixpoint, so the cross-tile rounds only
    ever exchange boundary values, never iterate inside a tile."""
    import heapq
    H, W_ = Z.shape
    valid = np.isfinite(Z)
    lvl = np.full((H, W_), np.inf)
    heap: list[tuple[float, int, int]] = []
    # in-tile nodata is an outlet for its 8 neighbors, same as the ring
    pad = np.full((H + 2, W_ + 2), np.nan)
    pad[1:-1, 1:-1] = np.where(valid, np.inf, _H_VOID)
    ring = np.where(np.isnan(halo), _H_VOID, halo)
    pad[0, :], pad[-1, :] = ring[0, :], ring[-1, :]
    pad[:, 0], pad[:, -1] = ring[:, 0], ring[:, -1]
    # vectorized seed scan: min over each pixel's 8 padded neighbors
    # (+inf center is the min-identity, so the full 3x3 window works)
    from numpy.lib.stride_tricks import sliding_window_view
    lo = sliding_window_view(pad, (3, 3)).min(axis=(-2, -1))
    cand = np.where(lo == -np.inf, Z, np.maximum(Z, lo + eps))
    seed = valid & (lo < np.inf)
    lvl[seed] = cand[seed]
    ys, xs = np.nonzero(seed)
    for y, x in zip(ys.tolist(), xs.tolist()):
        heapq.heappush(heap, (float(lvl[y, x]), y, x))
    while heap:
        v, y, x = heapq.heappop(heap)
        if v > lvl[y, x]:
            continue                        # stale lazy-deletion entry
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy == 0 and dx == 0:
                    continue
                ny, nx = y + dy, x + dx
                if not (0 <= ny < H and 0 <= nx < W_) or not valid[ny, nx]:
                    continue
                cand = max(float(Z[ny, nx]), v + eps)
                if cand < lvl[ny, nx]:
                    lvl[ny, nx] = cand
                    heapq.heappush(heap, (cand, ny, nx))
    return np.where(valid, lvl, np.nan)


def fill_sinks_np(dem: np.ndarray, eps: float = 0.0) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` elevation planes
    (NaN = nodata) → depression-filled planes (NaN preserved). Water
    drains off the array border and into nodata; every interior
    depression fills to its spill level (+``eps`` per step away from
    the outlet when ``eps > 0`` — the Planchon–Darboux gradient that
    keeps filled areas drainable). Bands fill independently. The
    obviously-correct Jacobi-fixpoint twin lives in tests/oracle.py;
    the distributed operator is pinned against THIS kernel run on the
    assembled mosaic."""
    dem = np.asarray(dem, np.float64)
    if dem.ndim != 3:
        raise ValueError("expected (bands, h, w) elevation planes")
    B, H, W_ = dem.shape
    border = np.full((H + 2, W_ + 2), _H_VOID)   # off-array = outlet
    out = np.empty_like(dem)
    for b in range(B):
        out[b] = _pf_local(dem[b], border, float(eps))
    return out


_FS_STATE, _FS_STRIP = 0, 1


def fill_sinks(df: DataFrame, key: str = "cell_id", eps: float = 0.0,
               max_rounds: int = 128, reliable: bool = False,
               checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed depression filling over a one-row-per-cell DEM tile
    table — the whole-DEM preconditioner before ``terrain('flowdir')``
    (gdal ``FillNodata``'s hydrology cousin; GRASS ``r.fill.dir``,
    WhiteboxTools ``FillDepressions``). Output schema == input schema
    with the payload replaced by ``rawf32`` filled elevations,
    ``-9999`` sentinel nodata.

    Spark-first plan — like :func:`flow_accumulation`, a depression's
    spill level may be set by terrain arbitrarily far away, so no
    fixed-radius halo suffices. Chaotic relaxation of a monotone map:

    1. **Seed** (one ``mapInPandas``): every tile runs priority-flood
       to its LOCAL fixpoint under the boundary it can prove — the
       zone edge and neighbors absent from the table are outlets
       (``-inf``), existing neighbors are unknown (``+inf``) — then
       emits its state (water-level plane) plus 1-pixel boundary
       strips addressed into each existing neighbor's padded frame
       (nodata boundary pixels ship as ``-inf`` so the receiver seeds
       its nodata-adjacent outlets; unknown ``+inf`` pixels don't ship).
    2. **Rounds**: strips min-merge per halo position (map-side
       combinable); ONLY tiles whose halo strictly lowered re-run the
       local solve (an inner join against the strip table — untouched
       tiles are never rescanned) and re-emit strips for boundary
       pixels that lowered. Water levels only ever decrease toward the
       global fixpoint, so the rounds terminate; convergence is the
       scalar strip count hitting zero; round count is bounded by the
       tile-grid diameter, not pixel path length.
    3. **Assembly**: final states join the original tiles once to emit
       payloads.

    At 100 TB each round shuffles boundary strips (≤ ``2(w+h)+4``
    values per touched tile per band) plus one state plane per TOUCHED
    tile — the DEM itself is scanned once at seed and once at
    assembly. ``eps > 0`` adds the classic Planchon–Darboux drainage
    gradient per step (units of elevation)."""
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"fill_sinks input is missing column "
                             f"{req!r}")
    eps = float(eps)

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    # which of the 8 neighbors exist: one slim self-join, 8 rows/cell
    spark = df.sparkSession
    cell_ids = tiles_slim.select("cell").distinct()

    def _nb_rows(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for cid in pdf["cell"].tolist():
                zone, res, ix, iy = (int(v) for v in
                                     cells.decode_np(int(cid)))
                for k, (dy, dx) in enumerate(_NB_OFFSETS):
                    nb = cells.neighbor_cell(zone, res, ix, iy, dx, dy)
                    if nb is not None:
                        rows.append({"cell": int(cid), "k": k,
                                     "nb": int(nb)})
            yield pd.DataFrame(rows, columns=["cell", "k", "nb"])

    cand = cell_ids.mapInPandas(_nb_rows, schema="cell long, k int, "
                                                 "nb long")
    exists = (cand.join(cell_ids.withColumnRenamed("cell", "nb"), "nb")
              .groupBy("cell")
              .agg(F.sum(F.expr("shiftleft(1L, k)")).alias("nbmask")))
    work0 = tiles_slim.join(exists, "cell", "left") \
                      .fillna(0, subset=["nbmask"])

    step_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("kind", T.IntegerType()),
        T.StructField("state", T.BinaryType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("hy", T.IntegerType()),
        T.StructField("hx", T.IntegerType()),
        T.StructField("val", T.DoubleType()),
    ])
    _step_cols = [f.name for f in step_schema.fields]

    def _decode_dem(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 row.nodata)
        return codec.to_float_masked(arr, nd)

    def _halo_init(nbmask: int, B: int, H: int, W_: int) -> np.ndarray:
        """Padded ring per band: ``-inf`` where no neighbor exists (the
        void is an outlet), ``+inf`` where one does (unknown)."""
        halo = np.full((B, H + 2, W_ + 2), _H_VOID)
        for k, (dy, dx) in enumerate(_NB_OFFSETS):
            if not (nbmask >> k) & 1:
                continue
            sl_y = {-1: slice(0, 1), 0: slice(1, H + 1),
                    1: slice(H + 1, H + 2)}[dy]
            sl_x = {-1: slice(0, 1), 0: slice(1, W_ + 1),
                    1: slice(W_ + 1, W_ + 2)}[dx]
            halo[:, sl_y, sl_x] = _H_UNKNOWN
        return halo

    def _solve_emit(row, halo: np.ndarray, prev: np.ndarray | None):
        """Solve every band to its local fixpoint under ``halo`` and
        emit the state row + strips for boundary pixels that LOWERED
        vs ``prev`` (``None`` = seed round: everything proven ships,
        including nodata as ``-inf``)."""
        Z = _decode_dem(row)
        B, H, W_ = Z.shape
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        lvl = np.empty_like(Z)
        for b in range(B):
            lvl[b] = _pf_local(Z[b], halo[b], eps)
        rows = []
        # boundary strips, addressed into the NEIGHBOR's padded frame
        send = np.where(np.isnan(lvl), _H_VOID, lvl)
        base = (np.where(np.isnan(prev), _H_VOID, prev)
                if prev is not None
                else np.full_like(send, _H_UNKNOWN))
        for k, (dy, dx) in enumerate(_NB_OFFSETS):
            dest = cells.neighbor_cell(zone, res, ix, iy, dx, dy)
            if dest is None:
                continue
            sl_y = slice(H - 1, H) if dy > 0 else \
                slice(0, 1) if dy < 0 else slice(0, H)
            sl_x = slice(W_ - 1, W_) if dx > 0 else \
                slice(0, 1) if dx < 0 else slice(0, W_)
            # receiver halo coords for this strip
            hy0 = 0 if dy > 0 else H + 1 if dy < 0 else 1
            hx0 = 0 if dx > 0 else W_ + 1 if dx < 0 else 1
            for b in range(B):
                cut, old = send[b, sl_y, sl_x], base[b, sl_y, sl_x]
                py, px = np.nonzero(cut < old)
                for yy, xx in zip(py.tolist(), px.tolist()):
                    v = float(cut[yy, xx])
                    rows.append({
                        "cell": int(dest), "kind": _FS_STRIP,
                        "state": None, "band": b,
                        "hy": hy0 + (yy if dy == 0 else 0),
                        "hx": hx0 + (xx if dx == 0 else 0),
                        "val": v})
        packed = np.concatenate(
            [np.where(np.isnan(lvl), _H_VOID, lvl).ravel(),
             halo.ravel()])
        rows.append({"cell": int(row.cell), "kind": _FS_STATE,
                     "state": packed.astype("<f8").tobytes(),
                     "band": B, "hy": None, "hx": None, "val": None})
        return rows

    def _unpack_state(buf: bytes, B: int, H: int, W_: int):
        flat = np.frombuffer(buf, "<f8")
        n = B * H * W_
        lvl = flat[:n].reshape(B, H, W_).copy()
        halo = flat[n:].reshape(B, H + 2, W_ + 2).copy()
        return lvl, halo

    def _step_pdf(rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows, columns=_step_cols)
        pdf["cell"] = pd.array(pdf["cell"], dtype="Int64")
        for c in ("kind", "band", "hy", "hx"):
            pdf[c] = pd.array(pdf[c], dtype="Int32")
        return pdf

    def seed_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                B = codec.plane_count(row.bytes, int(row.w),
                                      int(row.h), row.fmt)
                if B is None:
                    B = len(codec.decode(row.bytes, int(row.w),
                                         int(row.h), row.fmt))
                halo = _halo_init(int(row.nbmask), B, int(row.h),
                                  int(row.w))
                out.extend(_solve_emit(row, halo, None))
            if out:
                yield _step_pdf(out)

    def update_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                B = codec.plane_count(row.bytes, int(row.w),
                                      int(row.h), row.fmt)
                if B is None:
                    B = len(codec.decode(row.bytes, int(row.w),
                                         int(row.h), row.fmt))
                prev, halo = _unpack_state(row.state, B, int(row.h),
                                           int(row.w))
                lowered = False
                for s in row.inj:
                    b, hy, hx = int(s["band"]), int(s["hy"]), int(s["hx"])
                    if not (0 <= b < B and 0 <= hy < int(row.h) + 2
                            and 0 <= hx < int(row.w) + 2):
                        raise ValueError(
                            f"fill_sinks: halo strip at band {b} "
                            f"({hy},{hx}) is outside the padded "
                            f"{B}x{int(row.h) + 2}x{int(row.w) + 2} "
                            f"frame of cell {row.cell} — mixed tile "
                            "dims are not supported")
                    v = float(s["val"])
                    if v < halo[b, hy, hx]:
                        halo[b, hy, hx] = v
                        lowered = True
                if lowered:
                    out.extend(_solve_emit(row, halo, prev))
                else:       # strips were stale: keep the state as-is
                    out.append({"cell": int(row.cell),
                                "kind": _FS_STATE, "state": row.state,
                                "band": B, "hy": None, "hx": None,
                                "val": None})
            if out:
                yield _step_pdf(out)

    step = _ckpt(work0.mapInPandas(seed_round, schema=step_schema),
                 False)
    states = step.where(F.col("kind") == _FS_STATE) \
                 .select("cell", "state")
    strips = step.where(F.col("kind") == _FS_STRIP)
    pending = strips.count()
    rounds = 0
    while pending:
        rounds += 1
        if rounds > max_rounds:
            raise ValueError(
                f"fill_sinks did not converge in {max_rounds} rounds "
                f"({pending} boundary strips still pending). Spill "
                "levels propagate one tile per round, so a depression "
                "spanning more tiles than max_rounds needs a higher "
                "bound (rounds are cheap: only touched tiles re-run).")
        inflows = (strips.groupBy("cell", "band", "hy", "hx")
                   .agg(F.min("val").alias("val"))
                   .groupBy("cell")
                   .agg(F.collect_list(F.struct("band", "hy", "hx",
                                                "val")).alias("inj")))
        work = tiles_slim.join(states, "cell").join(inflows, "cell")
        step = _ckpt(work.mapInPandas(update_round, schema=step_schema),
                     False)
        new_states = step.where(F.col("kind") == _FS_STATE) \
                         .select("cell", "state")
        states = _ckpt(
            states.join(inflows.select("cell"), "cell", "left_anti")
                  .unionByName(new_states), False)
        strips = step.where(F.col("kind") == _FS_STRIP)
        pending = strips.count()

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def assemble(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                Z = _decode_dem(row)
                B, H, W_ = Z.shape
                lvl, _halo = _unpack_state(row.state, B, H, W_)
                if np.isposinf(lvl).any():  # -inf = packed nodata marker
                    raise ValueError(
                        "fill_sinks: unresolved (+inf) water level "
                        f"after convergence in cell {row.cell} — a "
                        "valid region with no path to any outlet; "
                        "this cannot happen on a connected mosaic")
                plane = np.where(np.isfinite(Z),
                                 np.where(lvl == _H_VOID, np.nan, lvl),
                                 np.nan)
                d = {c: getattr(row, c) for c in names if c != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float32),
                    "rawf32")
                d["fmt"] = "rawf32"
                d["nodata"] = OUT_NODATA
                for c in meta_null:
                    d[c] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    return (df.withColumnRenamed(key, "cell")
            .join(states, "cell")
            .mapInPandas(assemble, schema=out_schema))


#: the 8-neighborhood in (dy, dx) order shared by seed/update/halo-init
_NB_OFFSETS = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
               (1, -1), (1, 0), (1, 1))


# --------------------------------------------------- watershed basins ----

#: basin labels encode the terminal pixel's ZONE-GLOBAL coordinates as
#: ``gy * BASIN_SPAN + gx`` — exact in the rawf64 payload (< 2**53)
#: for mosaics up to 2**26 pixels on a side (6.7 million km at 100 m)
BASIN_SPAN = 1 << 26


def _resolve_reps(c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-pixel walk representative for one ``(H, W)`` D8 code plane
    via vectorized pointer doubling: every valid pixel's chain is
    followed to the pixel where it STOPS inside this plane — a sink
    (code 0), a pixel whose target is nodata, or a pixel whose target
    leaves the plane. Returns ``(rep, dest)``: ``rep[p]`` the flat
    index of p's stopping pixel, plus the raw :func:`_dest_tables`
    ``dest`` array so callers can classify the stop (terminal vs
    off-plane exit). O(n log n) work, no Python-level pixel loop."""
    H, W_ = c.shape
    n = H * W_
    dest, _off = _dest_tables(c)
    valid = np.isfinite(c).ravel()
    nxt = np.arange(n)
    inb = (dest >= 0) & valid
    follow = inb.copy()
    follow[inb] = valid[dest[inb]]     # a nodata target stops the walk
    nxt[follow] = dest[follow]
    # off-plane markers and absorbers stay self-loops; doubling leaves
    # them fixed, so every chain contracts onto its stopping pixel
    while True:
        nxt2 = nxt[nxt]
        if np.array_equal(nxt2, nxt):
            return nxt, dest
        nxt = nxt2


def _basin_label(gy: np.ndarray, gx: np.ndarray) -> np.ndarray:
    if np.any(gy >= BASIN_SPAN) or np.any(gx >= BASIN_SPAN):
        raise ValueError(
            f"basin label overflow: global pixel coordinates exceed "
            f"BASIN_SPAN={BASIN_SPAN}; labels would not be exact in "
            "float64")
    return gy.astype(np.int64) * BASIN_SPAN + gx.astype(np.int64)


def basins_np(codes: np.ndarray, oy: int = 0, ox: int = 0) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` D8 code planes
    (NaN = nodata) → float64 basin-label planes (NaN where the code
    was nodata). Every valid pixel is labeled with the id of the
    terminal pixel its D8 drainage path stops at — a sink (code 0), a
    pixel draining into nodata, or a pixel draining off the mosaic
    edge (the outlet convention of GRASS ``r.watershed`` basins).
    ``(oy, ox)`` place the plane in zone-global pixel coordinates so
    labels agree with the distributed operator; the naive per-pixel
    walking twin lives in tests/oracle.py."""
    codes = np.asarray(codes, np.float64)
    if codes.ndim != 3:
        raise ValueError("expected (bands, h, w) code planes")
    B, H, W_ = codes.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        c = codes[b]
        rep, _dest = _resolve_reps(c)
        gy = oy + rep // W_
        gx = ox + rep % W_
        lab = _basin_label(gy, gx).astype(np.float64).reshape(H, W_)
        out[b] = np.where(np.isfinite(c), lab, np.nan)
    return out


def basins(df: DataFrame, key: str = "cell_id",
           max_rounds: int = 64, reliable: bool = False,
           checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed D8 watershed labeling over a one-row-per-cell tile
    table of flow-direction codes (the output of
    ``terrain(df, 'flowdir')``): every valid pixel gets the id of the
    terminal pixel its drainage path stops at — GRASS ``r.watershed``
    basins / ESRI Basin, distributed. Output schema == input schema
    with the payload replaced by ``rawf64`` labels (``gy * BASIN_SPAN
    + gx`` of the terminal pixel in zone-global coordinates — exact
    integers in float64), ``-9999`` sentinel nodata.

    Spark-first plan — a drainage path crosses arbitrarily many tiles,
    so instead of walking pixels across rounds (path-length rounds,
    like :func:`flow_accumulation` mass), the cross-tile walk runs on
    the TILE-BOUNDARY FUNCTIONAL GRAPH with pointer jumping:

    1. **Seed** (one ``mapInPandas``): each tile contracts every
       pixel's in-tile chain onto its stopping pixel with vectorized
       pointer doubling (:func:`_resolve_reps`). Edge pixels — the
       only possible entry points from neighbors — become graph NODES:
       resolved (label known: the chain stops in this tile) or an edge
       to the neighbor entry pixel it exits into, carrying the exit
       pixel's own label as the FALLBACK (used when the target tile or
       target pixel doesn't exist or is nodata — flow off the mapped
       mosaic outlets at the last valid pixel). Tiles also emit one
       slim REF row per distinct exit they need resolved. Node + ref
       rows are O(perimeter · bands) per tile; tile bytes never
       shuffle.
    2. **Pointer jumping**: unresolved nodes repeatedly jump to their
       target's target (one self-join per round, lineage-truncated) —
       a missing target resolves to the fallback, a resolved target
       donates its label. O(log longest-chain-in-tiles) rounds.
    3. **Paint**: resolved labels group per referencing tile
       (≤ perimeter rows each), tiles re-run the deterministic local
       contraction and write ``rawf64`` payloads.
    """
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"basins input is missing column {req!r}")

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    seed_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("kind", T.IntegerType()),   # 0 node / 1 ref
        T.StructField("band", T.IntegerType()),
        T.StructField("flat", T.LongType()),
        T.StructField("done", T.BooleanType()),
        T.StructField("label", T.LongType()),     # label or fallback
        T.StructField("nxt_cell", T.LongType()),
        T.StructField("nxt_flat", T.LongType()),
    ])
    _K_NODE, _K_REF = 0, 1

    def _decode_codes(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 row.nodata)
        return codec.to_float_masked(arr, nd)

    def _contract(row):
        """Shared seed/paint contraction for one tile: per band, the
        rep array plus the classification of every DISTINCT rep —
        ``term_label[rep]`` for stops, ``(nxt_cell, nxt_flat,
        fb_label)`` for off-tile exits."""
        C = _decode_codes(row)
        B, H, W_ = C.shape
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        oy, ox = iy * H, ix * W_
        per_band = []
        for b in range(B):
            c = C[b]
            rep, dest = _resolve_reps(c)
            _dest, off_flat = _dest_tables(c)
            uniq = np.unique(rep[np.isfinite(c).ravel()])
            term: dict[int, int] = {}
            exits: dict[int, tuple[int, int, int]] = {}
            for r in uniq.tolist():
                fy, fx = divmod(int(r), W_)
                own = int(_basin_label(np.array([oy + fy]),
                                       np.array([ox + fx]))[0])
                d = int(dest[r])
                if d <= _OFF_BASE:
                    k = int(_OFF_BASE - d)
                    cdy, cdx = k // 3 - 1, k % 3 - 1
                    ncell = cells.neighbor_cell(zone, res, ix, iy,
                                                cdx, cdy)
                    if ncell is None:      # zone edge: outlet here
                        term[r] = own
                    else:
                        exits[r] = (int(ncell), int(off_flat[r]), own)
                else:
                    term[r] = own
            per_band.append((c, rep, term, exits))
        return per_band, (B, H, W_)

    def seed(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                per_band, (B, H, W_) = _contract(row)
                edge = np.zeros((H, W_), bool)
                edge[0, :] = edge[-1, :] = True
                edge[:, 0] = edge[:, -1] = True
                eflat = np.flatnonzero(edge.ravel())
                for b, (c, rep, term, exits) in enumerate(per_band):
                    vmask = np.isfinite(c).ravel()
                    for e in eflat.tolist():
                        if not vmask[e]:
                            continue       # nodata entry: absent node
                        r = int(rep[e])
                        if r in term:
                            out.append({
                                "cell": int(row.cell), "kind": _K_NODE,
                                "band": b, "flat": int(e), "done": True,
                                "label": term[r], "nxt_cell": None,
                                "nxt_flat": None})
                        else:
                            nc, nf, fb = exits[r]
                            out.append({
                                "cell": int(row.cell), "kind": _K_NODE,
                                "band": b, "flat": int(e),
                                "done": False, "label": fb,
                                "nxt_cell": nc, "nxt_flat": nf})
                    # one REF per distinct TARGET — fallbacks stay
                    # per-rep on the paint side (two chains may exit
                    # into the same missing pixel yet outlet at
                    # different last-valid pixels of THIS tile)
                    for nc, nf in {(v[0], v[1]) for v in exits.values()}:
                        out.append({
                            "cell": int(row.cell), "kind": _K_REF,
                            "band": b, "flat": None, "done": False,
                            "label": None, "nxt_cell": nc,
                            "nxt_flat": nf})
            if out:
                pdf2 = pd.DataFrame(
                    out, columns=[f.name for f in seed_schema.fields])
                for col, dt in (("cell", "Int64"), ("kind", "Int32"),
                                ("band", "Int32"), ("flat", "Int64"),
                                ("label", "Int64"),
                                ("nxt_cell", "Int64"),
                                ("nxt_flat", "Int64")):
                    pdf2[col] = pd.array(pdf2[col], dtype=dt)
                yield pdf2

    seeded = _ckpt(tiles_slim.mapInPandas(seed, schema=seed_schema),
                   False)
    nodes = seeded.where(F.col("kind") == _K_NODE) \
        .select("cell", "band", "flat", "done", "label",
                "nxt_cell", "nxt_flat")
    refs = seeded.where(F.col("kind") == _K_REF) \
        .select(F.col("cell").alias("src"), "band",
                F.col("nxt_cell").alias("tcell"),
                F.col("nxt_flat").alias("tflat"),
                F.col("label").alias("fb"))

    # pointer jumping on the boundary graph
    rounds = 0
    pending = nodes.where(~F.col("done")).count()
    while pending:
        rounds += 1
        if rounds > max_rounds:
            raise ValueError(
                f"basins did not converge in {max_rounds} pointer-"
                f"jumping rounds ({pending} boundary nodes pending) — "
                "chains double per round, so this means a CROSS-TILE "
                "CYCLE in the D8 codes (steepest-descent flowdir "
                "cannot cycle; inspect how these planes were made).")
        tgt = nodes.select(
            F.col("cell").alias("t_cell"), F.col("band").alias("t_band"),
            F.col("flat").alias("t_flat"), F.col("done").alias("t_done"),
            F.col("label").alias("t_label"),
            F.col("nxt_cell").alias("t_nxt_cell"),
            F.col("nxt_flat").alias("t_nxt_flat"))
        und = nodes.where(~F.col("done"))
        jumped = (und.join(
            tgt, (und.nxt_cell == tgt.t_cell) & (und.band == tgt.t_band)
            & (und.nxt_flat == tgt.t_flat), "left")
            .select(
                "cell", "band", "flat",
                F.when(F.col("t_cell").isNull() | F.col("t_done"),
                       F.lit(True)).otherwise(F.lit(False))
                 .alias("done"),
                F.when(F.col("t_cell").isNull(), F.col("label"))
                 .when(F.col("t_done"), F.col("t_label"))
                 .otherwise(F.col("t_label")).alias("label"),
                F.when(F.col("t_cell").isNotNull() & ~F.col("t_done"),
                       F.col("t_nxt_cell")).alias("nxt_cell"),
                F.when(F.col("t_cell").isNotNull() & ~F.col("t_done"),
                       F.col("t_nxt_flat")).alias("nxt_flat")))
        nodes = _ckpt(nodes.where(F.col("done")).unionByName(jumped),
                      False)
        pending = nodes.where(~F.col("done")).count()

    resolved = nodes.select(
        F.col("cell").alias("tcell"), F.col("band").alias("band"),
        F.col("flat").alias("tflat"), F.col("label").alias("rlabel"))
    # rlabel stays NULL when the target node doesn't exist (entry is
    # nodata or the tile is absent from the table): paint substitutes
    # each rep's OWN last-valid-pixel fallback there
    ref_labels = (refs.join(resolved, ["tcell", "band", "tflat"],
                            "left")
                  .select(F.col("src").alias("cell"), "band", "tcell",
                          "tflat", F.col("rlabel").alias("label")))
    per_cell = ref_labels.groupBy("cell").agg(
        F.collect_list(F.struct("band", "tcell", "tflat",
                                "label")).alias("lut"))

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def paint(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            has_lut = "lut" in pdf.columns
            for row in pdf.itertuples(index=False):
                per_band, (B, H, W_) = _contract(row)
                lut: dict[tuple[int, int, int], int | None] = {}
                if has_lut and isinstance(row.lut, (list, np.ndarray)):
                    for s in row.lut:
                        v = s["label"]
                        lut[(int(s["band"]), int(s["tcell"]),
                             int(s["tflat"]))] = (
                            None if v is None or codec.pd_isna(v)
                            else int(v))
                plane = np.full((B, H, W_), np.nan)
                for b, (c, rep, term, exits) in enumerate(per_band):
                    lab = np.full(H * W_, np.nan)
                    res_map: dict[int, float] = {}
                    for r, own in term.items():
                        res_map[r] = float(own)
                    for r, (nc, nf, fb) in exits.items():
                        if (b, nc, nf) not in lut:
                            raise ValueError(
                                f"basins: exit ({nc},{nf}) band {b} in "
                                f"cell {row.cell} has no REF row after "
                                "pointer jumping — internal invariant "
                                "violated")
                        got = lut[(b, nc, nf)]
                        # NULL = target node absent (nodata entry or
                        # missing tile): outlet at the last valid pixel
                        res_map[r] = float(fb if got is None else got)
                    vsel = np.isfinite(c).ravel()
                    for r, v in res_map.items():
                        lab[vsel & (rep == r)] = v
                    plane[b] = lab.reshape(H, W_)
                d = {c2: getattr(row, c2) for c2 in names if c2 != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float64),
                    "rawf64")
                d["fmt"] = "rawf64"
                d["nodata"] = OUT_NODATA
                for c2 in meta_null:
                    d[c2] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    return (df.withColumnRenamed(key, "cell")
            .join(per_cell, "cell", "left")
            .mapInPandas(paint, schema=out_schema))


# --------------------------------------- watershed from pour points ----

def burn_outlets_np(codes: np.ndarray, pixels) -> np.ndarray:
    """Force code 0 (sink) at the given ``[(py, px), ...]`` pixels of
    every band where the code is valid — the mosaic twin of the
    distributed burn (an outlet on a nodata pixel is inert, matching
    ArcGIS Watershed's behavior on masked cells)."""
    out = np.asarray(codes, np.float64).copy()
    for py, px in pixels:
        sel = np.isfinite(out[:, py, px])
        out[sel, py, px] = 0.0
    return out


def watershed_np(codes: np.ndarray, pixels, outlet_ids,
                 oy: int = 0, ox: int = 0) -> np.ndarray:
    """Whole-mosaic reference kernel: D8 codes + pour points at
    ``[(py, px), ...]`` (plane coordinates) with parallel
    ``outlet_ids`` → float64 planes holding the id of the FIRST pour
    point each pixel's drainage path reaches (ArcGIS Watershed), NaN
    when the path reaches none (or the pixel is nodata).  Two outlets
    on one pixel: smallest id wins."""
    burned = burn_outlets_np(codes, pixels)
    lab = basins_np(burned, oy=oy, ox=ox)
    lut: dict[int, int] = {}
    for (py, px), oid in zip(pixels, outlet_ids):
        g = int(_basin_label(np.array([oy + py]), np.array([ox + px]))[0])
        if g not in lut or int(oid) < lut[g]:
            lut[g] = int(oid)
    out = np.full(lab.shape, np.nan)
    for g, oid in lut.items():
        out[lab == g] = float(oid)
    return out


def watershed(codes_df: DataFrame, outlets: DataFrame,
              key: str = "cell_id", id_col: str = "outlet_id",
              zone_col: str = "zone", x_col: str = "x",
              y_col: str = "y", grid: tuple | None = None,
              max_rounds: int = 64, reliable: bool = False,
              checkpoint_dir: str | None = None) -> DataFrame:
    """ArcGIS Watershed, distributed: label every valid pixel of a D8
    code tile table with the id of the first pour point its drainage
    path reaches; paths that reach no pour point are nodata.

    Spark-first composition — three existing primitives, no new
    cross-tile machinery: (1) pour points map to their nearest pixel
    with the :mod:`vrtility_spark.pointsample` pure-expression
    world→pixel mapping, pre-aggregate per cell and BROADCAST onto the
    code scan, where one narrow Arrow map burns them as forced sinks
    (code 0; an outlet on a nodata pixel is inert); (2)
    :func:`basins` contracts every drainage path onto its terminal
    pixel — burned outlets are now terminals whose zone-global label
    is known in advance; (3) a zero-shuffle relabel map rewrites
    outlet labels to outlet ids (smallest id wins a shared pixel) and
    everything else to nodata.  The pour-point table is driver-sized
    (a watershed delineation has thousands of gauges, not billions) —
    the pixel table never is.  Output ``rawf64`` ids, ``-9999``
    sentinel."""
    from vrtility_spark.pointsample import _tile_meta
    if grid is not None:
        res, w, h, _nb = (int(v) for v in grid)
    else:
        res, w, h, _nb = _tile_meta(codes_df, key)
    if w != h:
        raise ValueError("watershed: non-square pixels; resample first")
    size = cells.cell_size(res)
    pxs = size / w
    n_global = (1 << res) * w
    names = codes_df.columns

    gx = F.floor(F.col(x_col) / F.lit(pxs)).cast("long")
    gy = F.floor(F.col(y_col) / F.lit(pxs)).cast("long")
    inzone = ((gx >= 0) & (gx < n_global) & (gy >= 0) & (gy < n_global))
    pts = (outlets.where(inzone)
           .select(F.col(id_col).cast("long").alias("_oid"),
                   F.col(zone_col).cast("long").alias("_zone"),
                   gx.alias("_gpx"), gy.alias("_gpy")))
    cell = cells.encode_cols(F.col("_zone"), res,
                             F.floor(F.col("_gpx") / w).cast("long"),
                             F.floor(F.col("_gpy") / w).cast("long"))
    per_cell = (pts.withColumn(key, cell)
                .groupBy(key)
                .agg(F.collect_list(F.struct(
                    "_oid",
                    (F.col("_gpx") % w).alias("lpx"),
                    (F.col("_gpy") % w).alias("lpy"))).alias("_outl")))

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in codes_df.schema.fields]
    out_schema = T.StructType(in_fields)

    def burn(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_rows = []
            for _, row in pdf.iterrows():
                d = {c: row[c] for c in names}
                lst = row["_outl"]
                if isinstance(lst, (list, np.ndarray)) and len(lst):
                    arr = codec.decode(row["bytes"], int(row["w"]),
                                       int(row["h"]), row["fmt"])
                    nd = codec.row_band_meta(
                        row, len(arr), "band_nodata",
                        codec.nodata_scalar(row["nodata"]))
                    C = codec.to_float_masked(arr, nd)
                    px = [(int(s["lpy"]), int(s["lpx"])) for s in lst]
                    C = burn_outlets_np(C, px)
                    d["bytes"] = codec.encode(
                        codec.from_float(C, OUT_NODATA, np.float32),
                        "rawf32")
                    d["fmt"] = "rawf32"
                    d["nodata"] = OUT_NODATA
                    for c in ("band_scale", "band_offset",
                              "band_nodata"):
                        if c in names:
                            d[c] = None
                out_rows.append(d)
            yield pd.DataFrame(out_rows, columns=names)

    burned = (codes_df.join(F.broadcast(per_cell), key, "left")
              .mapInPandas(burn, schema=out_schema))
    lab = basins(burned, key=key, max_rounds=max_rounds,
                 reliable=reliable, checkpoint_dir=checkpoint_dir)

    # outlet global-label -> id LUT per ZONE (basins labels are
    # zone-global pixel ids, so equal pixel positions in different
    # zones are distinct terminals); driver-sized, smallest id wins
    prow = pts.select("_oid", "_zone", "_gpx", "_gpy").collect()
    lut: dict[int, dict[int, int]] = {}
    for r in prow:
        g = int(_basin_label(np.array([int(r["_gpy"])]),
                             np.array([int(r["_gpx"])]))[0])
        z = lut.setdefault(int(r["_zone"]), {})
        if g not in z or int(r["_oid"]) < z[g]:
            z[g] = int(r["_oid"])

    def relabel(batches: Iterable[pd.DataFrame]):
        kv = {z: (np.array(sorted(m), np.int64),
                  np.array([m[k] for k in sorted(m)], np.int64))
              for z, m in lut.items()}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_rows = []
            for _, row in pdf.iterrows():
                zone = int(cells.decode_np(int(row[key]))[0])
                keys, vals = kv.get(zone, (np.empty(0, np.int64),
                                           np.empty(0, np.int64)))
                arr = codec.decode(row["bytes"], int(row["w"]),
                                   int(row["h"]), row["fmt"])
                L = codec.to_float_masked(
                    arr, codec.nodata_scalar(row["nodata"]))
                out = np.full(L.shape, np.nan)
                if keys.size:
                    fin = np.isfinite(L)
                    li = L[fin].astype(np.int64)
                    pos = np.searchsorted(keys, li)
                    pos = np.clip(pos, 0, len(keys) - 1)
                    hit = keys[pos] == li
                    tmp = np.full(li.shape, np.nan)
                    tmp[hit] = vals[pos[hit]].astype(np.float64)
                    out[fin] = tmp
                d = {c: row[c] for c in names}
                d["bytes"] = codec.encode(
                    codec.from_float(out, OUT_NODATA, np.float64),
                    "rawf64")
                d["fmt"] = "rawf64"
                d["nodata"] = OUT_NODATA
                out_rows.append(d)
            yield pd.DataFrame(out_rows, columns=names)

    return lab.mapInPandas(relabel, schema=out_schema)


# --------------------------------------------- downstream flow length ----

#: exact flow-length packing: a D8 path's length is fully determined
#: by its integer step-type counts (E/W steps at sx, N/S steps at sy,
#: diagonals at hypot(sx, sy)); the triple packs into one int64 —
#: addition is EXACT and order-free, so distributed partial sums can
#: associate any way they like and still match the mosaic kernel
#: bit-for-bit once converted to metres (one shared expression, at
#: paint only)
_FL_SHIFT = 21
_FL_MASK = (1 << _FL_SHIFT) - 1
#: D8 code -> packed single-step increment
_FL_STEP = {1: 1, 16: 1,                                   # E/W
            4: 1 << _FL_SHIFT, 64: 1 << _FL_SHIFT,          # N/S
            2: 1 << (2 * _FL_SHIFT), 8: 1 << (2 * _FL_SHIFT),
            32: 1 << (2 * _FL_SHIFT), 128: 1 << (2 * _FL_SHIFT)}


def _fl_metres(packed: np.ndarray, sx: float, sy: float) -> np.ndarray:
    """Packed step counts → float64 length. The ONE place counts meet
    floats — both the mosaic kernel and the distributed paint call
    this same expression, so their outputs are bit-identical."""
    p = np.asarray(packed, np.int64)
    n_ew = (p & _FL_MASK).astype(np.float64)
    n_ns = ((p >> _FL_SHIFT) & _FL_MASK).astype(np.float64)
    n_dg = ((p >> (2 * _FL_SHIFT)) & _FL_MASK).astype(np.float64)
    return n_ew * sx + n_ns * sy + n_dg * float(np.hypot(sx, sy))


def _packed_counts(c: np.ndarray):
    """Pointer doubling with additive packed step counts for one
    ``(H, W)`` D8 code plane: returns ``(rep, cnt, dest)`` where
    ``rep[p]`` is p's in-plane stopping pixel (exactly
    :func:`_resolve_reps`) and ``cnt[p]`` the packed step counts of
    the chain p → rep[p].  O(n log n), no pixel loop."""
    H, W_ = c.shape
    n = H * W_
    if n >= _FL_MASK:
        raise ValueError(
            f"flow_length: tile of {n} pixels overflows the "
            f"2^{_FL_SHIFT} per-type step budget; use smaller tiles")
    dest, _off = _dest_tables(c)
    valid = np.isfinite(c).ravel()
    nxt = np.arange(n)
    inb = (dest >= 0) & valid
    follow = inb.copy()
    follow[inb] = valid[dest[inb]]     # a nodata target stops the walk
    nxt[follow] = dest[follow]
    cnt = np.zeros(n, np.int64)
    cv = c.ravel()
    for code, step in _FL_STEP.items():
        cnt[follow & (cv == code)] = step
    while True:
        cnt = cnt + cnt[nxt]           # len(p → nxt²(p)); reps stay 0
        nxt2 = nxt[nxt]
        if np.array_equal(nxt2, nxt):
            return nxt, cnt, dest
        nxt = nxt2


def flow_length_np(codes: np.ndarray, sx: float, sy: float) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` D8 code planes
    (NaN = nodata) → float64 DOWNSTREAM flow length (ArcGIS FlowLength
    downstream / GRASS r.stream.distance to outlet): the along-path
    distance from each pixel's center to the center of the terminal
    pixel its drainage path stops at (sink, drain into nodata, or off
    the mosaic edge — the :func:`basins` outlet conventions), with
    cardinal steps at ``sx``/``sy`` and diagonals at ``hypot(sx, sy)``.
    Terminal pixels are 0.  The naive per-pixel walking twin lives in
    tests/test_hydrology.py."""
    codes = np.asarray(codes, np.float64)
    if codes.ndim != 3:
        raise ValueError("expected (bands, h, w) code planes")
    B, H, W_ = codes.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        c = codes[b]
        _rep, cnt, _dest = _packed_counts(c)
        ln = _fl_metres(cnt, sx, sy).reshape(H, W_)
        out[b] = np.where(np.isfinite(c), ln, np.nan)
    return out


def flow_length(df: DataFrame, key: str = "cell_id",
                pixel_size: float | tuple[float, float] | None = None,
                max_rounds: int = 64, reliable: bool = False,
                checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed downstream flow length over a one-row-per-cell tile
    table of D8 codes (the output of ``terrain(df, 'flowdir')``) —
    ArcGIS FlowLength (downstream), distributed.  Output schema ==
    input schema with the payload replaced by ``rawf32`` lengths
    (``-9999`` sentinel), ``pixel_size`` defaulting to each cell's own
    ground sample distance like :func:`vrtility_spark.terrain.terrain`.

    Spark-first plan — :func:`basins`' tile-boundary functional graph
    with ADDITIVE weights: per-tile pointer doubling contracts every
    chain onto its stop carrying exact packed step-type counts
    (:func:`_packed_counts` — E/W, N/S and diagonal step counts pack
    into one int64, so every partial sum is exact integer arithmetic
    and association order cannot perturb the result); edge-entry nodes
    then pointer-jump across tiles accumulating ``(partial-to-target,
    fallback-if-target-absent)`` count pairs in O(log chain-in-tiles)
    rounds; paint adds each pixel's in-tile counts to its rep's
    resolved downstream counts and converts to metres ONCE.  Node +
    ref rows are O(perimeter · bands) per tile; tile bytes never
    shuffle.  Missing/nodata targets outlet at the last valid pixel,
    exactly the basins fallback."""
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"flow_length input is missing column "
                             f"{req!r}")
    ps = pixel_size
    if ps is not None and np.isscalar(ps):
        ps = (float(ps), float(ps))

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    _K_NODE, _K_REF = 0, 1
    seed_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("kind", T.IntegerType()),   # 0 node / 1 ref
        T.StructField("band", T.IntegerType()),
        T.StructField("flat", T.LongType()),
        T.StructField("done", T.BooleanType()),
        T.StructField("acc", T.LongType()),   # packed: final len when
        T.StructField("fb", T.LongType()),    # done, else partial/fb
        T.StructField("nxt_cell", T.LongType()),
        T.StructField("nxt_flat", T.LongType()),
    ])

    def _decode_codes(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 codec.nodata_scalar(row.nodata))
        return codec.to_float_masked(arr, nd)

    def _contract(row):
        """Per band: ``(c, rep, cnt, term_set, exits)`` where exits
        maps each off-tile rep to ``(nxt_cell, nxt_flat,
        packed_crossing_step)``."""
        C = _decode_codes(row)
        B, H, W_ = C.shape
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        per_band = []
        for b in range(B):
            c = C[b]
            rep, cnt, dest = _packed_counts(c)
            _dest, off_flat = _dest_tables(c)
            uniq = np.unique(rep[np.isfinite(c).ravel()])
            term: set[int] = set()
            exits: dict[int, tuple[int, int, int]] = {}
            cv = c.ravel()
            for r in uniq.tolist():
                d = int(dest[r])
                if d <= _OFF_BASE:
                    k = int(_OFF_BASE - d)
                    cdy, cdx = k // 3 - 1, k % 3 - 1
                    ncell = cells.neighbor_cell(zone, res, ix, iy,
                                                cdx, cdy)
                    if ncell is None:      # zone edge: outlet here
                        term.add(r)
                    else:
                        exits[r] = (int(ncell), int(off_flat[r]),
                                    int(_FL_STEP[int(cv[r])]))
                else:
                    term.add(r)
            per_band.append((c, rep, cnt, term, exits))
        return per_band, (B, H, W_)

    def seed(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                per_band, (B, H, W_) = _contract(row)
                edge = np.zeros((H, W_), bool)
                edge[0, :] = edge[-1, :] = True
                edge[:, 0] = edge[:, -1] = True
                eflat = np.flatnonzero(edge.ravel())
                for b, (c, rep, cnt, term, exits) in \
                        enumerate(per_band):
                    vmask = np.isfinite(c).ravel()
                    for e in eflat.tolist():
                        if not vmask[e]:
                            continue
                        r = int(rep[e])
                        base = int(cnt[e])
                        if r in term:
                            out.append({
                                "cell": int(row.cell), "kind": _K_NODE,
                                "band": b, "flat": int(e), "done": True,
                                "acc": base, "fb": base,
                                "nxt_cell": None, "nxt_flat": None})
                        else:
                            nc, nf, stp = exits[r]
                            out.append({
                                "cell": int(row.cell), "kind": _K_NODE,
                                "band": b, "flat": int(e),
                                "done": False, "acc": base + stp,
                                "fb": base, "nxt_cell": nc,
                                "nxt_flat": nf})
                    for nc, nf in {(v[0], v[1]) for v in exits.values()}:
                        out.append({
                            "cell": int(row.cell), "kind": _K_REF,
                            "band": b, "flat": None, "done": False,
                            "acc": None, "fb": None, "nxt_cell": nc,
                            "nxt_flat": nf})
            if out:
                pdf2 = pd.DataFrame(
                    out, columns=[f.name for f in seed_schema.fields])
                for col, dt in (("cell", "Int64"), ("kind", "Int32"),
                                ("band", "Int32"), ("flat", "Int64"),
                                ("acc", "Int64"), ("fb", "Int64"),
                                ("nxt_cell", "Int64"),
                                ("nxt_flat", "Int64")):
                    pdf2[col] = pd.array(pdf2[col], dtype=dt)
                yield pdf2

    seeded = _ckpt(tiles_slim.mapInPandas(seed, schema=seed_schema),
                   False)
    nodes = seeded.where(F.col("kind") == _K_NODE) \
        .select("cell", "band", "flat", "done", "acc", "fb",
                "nxt_cell", "nxt_flat")
    refs = seeded.where(F.col("kind") == _K_REF) \
        .select(F.col("cell").alias("src"), "band",
                F.col("nxt_cell").alias("tcell"),
                F.col("nxt_flat").alias("tflat"))

    rounds = 0
    pending = nodes.where(~F.col("done")).count()
    while pending:
        rounds += 1
        if rounds > max_rounds:
            raise ValueError(
                f"flow_length did not converge in {max_rounds} "
                f"pointer-jumping rounds ({pending} boundary nodes "
                "pending) — chains double per round, so this means a "
                "CROSS-TILE CYCLE in the D8 codes (steepest-descent "
                "flowdir cannot cycle; inspect these planes).")
        tgt = nodes.select(
            F.col("cell").alias("t_cell"), F.col("band").alias("t_band"),
            F.col("flat").alias("t_flat"), F.col("done").alias("t_done"),
            F.col("acc").alias("t_acc"), F.col("fb").alias("t_fb"),
            F.col("nxt_cell").alias("t_nxt_cell"),
            F.col("nxt_flat").alias("t_nxt_flat"))
        und = nodes.where(~F.col("done"))
        jumped = (und.join(
            tgt, (und.nxt_cell == tgt.t_cell) & (und.band == tgt.t_band)
            & (und.nxt_flat == tgt.t_flat), "left")
            .select(
                "cell", "band", "flat",
                F.when(F.col("t_cell").isNull() | F.col("t_done"),
                       F.lit(True)).otherwise(F.lit(False))
                 .alias("done"),
                # absent target: outlet at own rep (fallback counts);
                # done or live target: add its counts (final or
                # partial) to ours
                F.when(F.col("t_cell").isNull(), F.col("fb"))
                 .otherwise(F.col("acc") + F.col("t_acc")).alias("acc"),
                F.when(F.col("t_cell").isNull() | F.col("t_done"),
                       F.lit(None).cast("long"))
                 .otherwise(F.col("acc") + F.col("t_fb")).alias("fb"),
                F.when(F.col("t_cell").isNotNull() & ~F.col("t_done"),
                       F.col("t_nxt_cell")).alias("nxt_cell"),
                F.when(F.col("t_cell").isNotNull() & ~F.col("t_done"),
                       F.col("t_nxt_flat")).alias("nxt_flat")))
        nodes = _ckpt(nodes.where(F.col("done")).unionByName(jumped),
                      False)
        pending = nodes.where(~F.col("done")).count()

    resolved = nodes.select(
        F.col("cell").alias("tcell"), F.col("band").alias("band"),
        F.col("flat").alias("tflat"), F.col("acc").alias("rlen"))
    ref_lens = (refs.join(resolved, ["tcell", "band", "tflat"], "left")
                .select(F.col("src").alias("cell"), "band", "tcell",
                        "tflat", F.col("rlen").alias("rlen")))
    per_cell = ref_lens.groupBy("cell").agg(
        F.collect_list(F.struct("band", "tcell", "tflat",
                                "rlen")).alias("lut"))

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def paint(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            has_lut = "lut" in pdf.columns
            for row in pdf.itertuples(index=False):
                per_band, (B, H, W_) = _contract(row)
                if ps is None:
                    _, res, _, _ = (int(v) for v in
                                    cells.decode_np(row.cell))
                    size = cells.cell_size(res)
                    sx, sy = size / W_, size / H
                else:
                    sx, sy = ps
                lut: dict[tuple[int, int, int], int | None] = {}
                if has_lut and isinstance(row.lut, (list, np.ndarray)):
                    for s in row.lut:
                        v = s["rlen"]
                        lut[(int(s["band"]), int(s["tcell"]),
                             int(s["tflat"]))] = (
                            None if v is None or codec.pd_isna(v)
                            else int(v))
                plane = np.full((B, H, W_), np.nan)
                for b, (c, rep, cnt, term, exits) in \
                        enumerate(per_band):
                    # packed downstream counts FROM each rep onward
                    down = np.zeros(H * W_, np.int64)
                    for r, (nc, nf, stp) in exits.items():
                        if (b, nc, nf) not in lut:
                            raise ValueError(
                                f"flow_length: exit ({nc},{nf}) band "
                                f"{b} in cell {row.cell} has no REF "
                                "row after pointer jumping — internal "
                                "invariant violated")
                        got = lut[(b, nc, nf)]
                        # NULL = target node absent: outlet at rep
                        down[r] = 0 if got is None else stp + got
                    vsel = np.isfinite(c).ravel()
                    total = cnt + down[rep]
                    ln = np.where(vsel, _fl_metres(total, sx, sy),
                                  np.nan)
                    plane[b] = ln.reshape(H, W_)
                d = {c2: getattr(row, c2) for c2 in names if c2 != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float32),
                    "rawf32")
                d["fmt"] = "rawf32"
                d["nodata"] = OUT_NODATA
                for c2 in meta_null:
                    d[c2] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    return (df.withColumnRenamed(key, "cell")
            .join(per_cell, "cell", "left")
            .mapInPandas(paint, schema=out_schema))


# ----------------------------------------------- upstream flow length ----

def _ufl_solve(c: np.ndarray, sx: float, sy: float,
               ext_need: np.ndarray | None = None,
               ext_len: np.ndarray | None = None):
    """Vectorized Kahn sweep for the LONGEST upstream path length of
    one ``(H, W)`` D8 code plane: every pixel resolves only after ALL
    its upstream contributions arrived (internal in-degree + declared
    externals), carrying exact packed step counts; the max runs on the
    metre value with a smallest-packed tie-break, so the result is
    deterministic even when distinct step mixes measure equal.
    Returns ``(best_packed, done, dest, off_flat)``."""
    H, W_ = c.shape
    n = H * W_
    dest, off_flat = _dest_tables(c)
    valid = np.isfinite(c).ravel()
    indeg = np.zeros(n, np.int64)
    src = np.flatnonzero(valid & (dest >= 0))
    tgt = dest[src]
    ok = valid[tgt]                 # draining into nodata: dropped
    np.add.at(indeg, tgt[ok], 1)
    if ext_need is not None:
        indeg = indeg + ext_need.astype(np.int64)
    stepp = np.zeros(n, np.int64)   # packed step to each pixel's dest
    cv = c.ravel()
    for code, sp in _FL_STEP.items():
        stepp[cv == code] = sp
    best = (np.zeros(n, np.int64) if ext_len is None
            else ext_len.astype(np.int64, copy=True))
    bm = _fl_metres(best, sx, sy)
    done = np.zeros(n, bool)
    frontier = np.flatnonzero(valid & (indeg == 0))
    guard = 0
    while frontier.size:
        done[frontier] = True
        mv = dest[frontier] >= 0
        q = dest[frontier[mv]]
        cand = best[frontier[mv]] + stepp[frontier[mv]]
        vq = valid[q]
        q, cand = q[vq], cand[vq]
        if q.size:
            cm = _fl_metres(cand, sx, sy)
            wave_m = np.full(n, -1.0)
            np.maximum.at(wave_m, q, cm)
            sel = cm == wave_m[q]
            wave_p = np.full(n, np.iinfo(np.int64).max)
            np.minimum.at(wave_p, q[sel], cand[sel])
            arr = np.zeros(n, np.int64)
            np.add.at(arr, q, 1)
            uq = np.unique(q)
            better = ((wave_m[uq] > bm[uq])
                      | ((wave_m[uq] == bm[uq])
                         & (wave_p[uq] < best[uq])))
            bu = uq[better]
            best[bu] = wave_p[bu]
            bm[bu] = wave_m[bu]
            indeg[uq] -= arr[uq]
            frontier = uq[(indeg[uq] == 0) & ~done[uq]]
        else:
            frontier = np.empty(0, np.int64)
        guard += 1
        if guard > n + 8:
            raise ValueError(
                "upstream_flow_length: cycle detected in D8 codes — "
                "input is not a flowdir product (steepest descent "
                "cannot cycle); fix the code plane first")
    return best, done, dest, off_flat


def upstream_flow_length_np(codes: np.ndarray, sx: float,
                            sy: float) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` D8 code planes
    (NaN = nodata) → float64 UPSTREAM flow length (ArcGIS FlowLength
    upstream): the length of the LONGEST along-path distance from any
    headwater down to each pixel — headwaters are 0, each step adds
    ``sx``/``sy``/``hypot(sx, sy)``.  The naive relaxation twin lives
    in tests/test_hydrology.py."""
    codes = np.asarray(codes, np.float64)
    if codes.ndim != 3:
        raise ValueError("expected (bands, h, w) code planes")
    B, H, W_ = codes.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        c = codes[b]
        best, done, _dest, _off = _ufl_solve(c, sx, sy)
        valid = np.isfinite(c).ravel()
        if np.any(valid & ~done):
            raise ValueError(
                "upstream_flow_length: unresolved pixels after the "
                "sweep — cycle in the D8 codes")
        m = _fl_metres(best, sx, sy)
        out[b] = np.where(valid, m, np.nan).reshape(H, W_)
    return out


def upstream_flow_length(df: DataFrame, key: str = "cell_id",
                         pixel_size: float | tuple[float, float] | None
                         = None,
                         max_rounds: int = 128, reliable: bool = False,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed upstream (longest-headwater-path) flow length over
    a one-row-per-cell tile table of D8 codes — ArcGIS FlowLength
    (upstream), distributed.  Output ``rawf32`` metres, ``-9999``
    sentinel.

    Spark-first plan — :func:`stream_order`'s cross-tile TOPOLOGICAL
    WAVEFRONT (a pixel's longest upstream path, like its Strahler
    order, needs ALL upstream contributions before it can resolve)
    carrying :func:`flow_length`'s exact packed step counts: a DECL
    pass gives every tile its exact external in-degree per entry
    pixel; each round, tiles with genuinely-new arrivals re-run the
    same vectorized Kahn sweep as the mosaic kernel
    (:func:`_ufl_solve` — arrived packed lengths fold into the
    max-by-metres merge, un-arrived externals block), and resolved
    edge-exits emit packed ``(length + crossing step)`` records,
    deduplicated by one anti-join.  Convergence = zero new arrivals;
    rounds = tile-graph depth.  All cross-tile arithmetic is exact
    integer packing, so the result matches the mosaic kernel
    bit-for-bit."""
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"upstream_flow_length input is missing "
                             f"column {req!r}")
    ps = pixel_size
    if ps is not None and np.isscalar(ps):
        ps = (float(ps), float(ps))

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    _UF_DECL, _UF_LEN = 0, 1
    rec_schema = T.StructType([
        T.StructField("cell", T.LongType()),    # destination tile
        T.StructField("kind", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("py", T.IntegerType()),   # entry pixel in dest
        T.StructField("px", T.IntegerType()),
        T.StructField("src", T.LongType()),
        T.StructField("sflat", T.LongType()),
        T.StructField("ulen", T.LongType()),    # packed counts
    ])
    _rec_cols = [f.name for f in rec_schema.fields]

    def _rec_pdf(rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows, columns=_rec_cols)
        for col, dt in (("cell", "Int64"), ("kind", "Int32"),
                        ("band", "Int32"), ("py", "Int32"),
                        ("px", "Int32"), ("src", "Int64"),
                        ("sflat", "Int64"), ("ulen", "Int64")):
            pdf[col] = pd.array(pdf[col], dtype=dt)
        return pdf

    def _decode_codes(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 row.nodata)
        return codec.to_float_masked(arr, nd)

    def _cell_ps(row, H: int, W_: int) -> tuple[float, float]:
        if ps is not None:
            return ps
        _, res, _, _ = (int(v) for v in cells.decode_np(row.cell))
        size = cells.cell_size(res)
        return size / W_, size / H

    def _fold_ext(row, B: int, n: int, W_: int, sx: float, sy: float):
        """need/arrival struct lists → (ext_need, ext_len)."""
        ext_need = np.zeros((B, n), np.int64)
        ext_len = np.zeros((B, n), np.int64)
        ext_m = np.zeros((B, n), np.float64)
        nd = getattr(row, "need", None)
        if isinstance(nd, (list, np.ndarray)):
            for s in nd:
                b, f = int(s["band"]), int(s["py"]) * W_ + int(s["px"])
                if not (0 <= b < B and 0 <= f < n):
                    raise ValueError(
                        f"upstream_flow_length: declared inflow at "
                        f"band {b} flat {f} is outside the tile of "
                        f"cell {row.cell} — mixed tile dims are not "
                        "supported")
                ext_need[b, f] += 1
        ar = getattr(row, "arr", None)
        if isinstance(ar, (list, np.ndarray)):
            for s in ar:
                b, f = int(s["band"]), int(s["py"]) * W_ + int(s["px"])
                v = int(s["ulen"])
                m = float(_fl_metres(np.array([v]), sx, sy)[0])
                ext_need[b, f] -= 1
                # max by metres, tie -> smaller packed (the _ufl_solve
                # rule); arrivals always measure > 0, so the 0 init
                # ("nothing arrived") never shadows one
                if (m > ext_m[b, f]
                        or (m == ext_m[b, f] and v < ext_len[b, f])):
                    ext_m[b, f] = m
                    ext_len[b, f] = v
        return ext_need, ext_len

    def _tile_solve(row):
        C = _decode_codes(row)
        B, H, W_ = C.shape
        n = H * W_
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        sx, sy = _cell_ps(row, H, W_)
        ext_need, ext_len = _fold_ext(row, B, n, W_, sx, sy)
        lens = np.zeros((B, n), np.int64)
        dones = np.zeros((B, n), bool)
        emits: list[dict] = []
        for b in range(B):
            c = C[b]
            best, done, dest, off_flat = _ufl_solve(
                c, sx, sy, ext_need[b], ext_len[b])
            lens[b] = best
            dones[b] = done
            stepp = np.zeros(n, np.int64)
            cv = c.ravel()
            for code, sp in _FL_STEP.items():
                stepp[cv == code] = sp
            ex = np.flatnonzero(done & (dest <= _OFF_BASE)
                                & np.isfinite(c).ravel())
            for p in ex.tolist():
                k = int(_OFF_BASE - dest[p])
                cdy, cdx = k // 3 - 1, k % 3 - 1
                ncell = cells.neighbor_cell(zone, res, ix, iy, cdx, cdy)
                if ncell is None:
                    continue       # zone edge: the void absorbs
                f = int(off_flat[p])
                emits.append({"cell": int(ncell), "kind": _UF_LEN,
                              "band": b, "py": f // W_, "px": f % W_,
                              "src": int(row.cell), "sflat": int(p),
                              "ulen": int(best[p] + stepp[p])})
        return lens, dones, C, emits

    def declare(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                C = _decode_codes(row)
                B, H, W_ = C.shape
                zone, res, ix, iy = (int(v)
                                     for v in cells.decode_np(row.cell))
                for b in range(B):
                    dest, off_flat = _dest_tables(C[b])
                    valid = np.isfinite(C[b]).ravel()
                    ex = np.flatnonzero(valid & (dest <= _OFF_BASE))
                    for p in ex.tolist():
                        k = int(_OFF_BASE - dest[p])
                        cdy, cdx = k // 3 - 1, k % 3 - 1
                        ncell = cells.neighbor_cell(zone, res, ix, iy,
                                                    cdx, cdy)
                        if ncell is None:
                            continue
                        f = int(off_flat[p])
                        out.append({"cell": int(ncell),
                                    "kind": _UF_DECL, "band": b,
                                    "py": f // W_, "px": f % W_,
                                    "src": int(row.cell),
                                    "sflat": int(p), "ulen": None})
            if out:
                yield _rec_pdf(out)

    def solve_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                _lens, _dones, _C, emits = _tile_solve(row)
                out.extend(emits)
            if out:
                yield _rec_pdf(out)

    decls = _ckpt(tiles_slim.mapInPandas(declare, schema=rec_schema),
                  False)
    need = (decls.groupBy("cell")
            .agg(F.collect_list(F.struct("band", "py", "px"))
                 .alias("need")))

    arrive_key = ["cell", "band", "py", "px", "src", "sflat"]
    arrived = None
    arr_grouped = None
    work = tiles_slim.join(need, "cell", "left")
    step = _ckpt(work.mapInPandas(solve_round, schema=rec_schema),
                 False)
    new = step.select(*arrive_key, "ulen")
    n_new = new.count()
    rounds = 0
    while n_new:
        rounds += 1
        if rounds > max_rounds:
            sample = [(int(r.cell), int(r.band), int(r.py), int(r.px))
                      for r in new.limit(5).collect()]
            raise ValueError(
                f"upstream_flow_length did not converge in "
                f"{max_rounds} rounds ({n_new} boundary records still "
                "arriving). EITHER a drainage path crosses more tiles "
                "than max_rounds — raise it (rounds are cheap: only "
                "touched tiles re-solve) — OR the code planes contain "
                "a CROSS-TILE cycle; flowdir-derived codes cannot "
                f"cycle. Sample arrivals: {sample}")
        arrived = _ckpt(new if arrived is None
                        else arrived.unionByName(new), False)
        arr_grouped = (arrived.groupBy("cell")
                       .agg(F.collect_list(
                           F.struct("band", "py", "px", "ulen"))
                           .alias("arr")))
        touched = new.select("cell").distinct()
        work = (tiles_slim.join(touched, "cell")
                .join(need, "cell", "left")
                .join(arr_grouped, "cell", "left"))
        step = work.mapInPandas(solve_round, schema=rec_schema)
        new = _ckpt(step.select(*arrive_key, "ulen")
                    .join(arrived, arrive_key, "left_anti"), False)
        n_new = new.count()

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def paint(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                lens, dones, C, _emits = _tile_solve(row)
                B, H, W_ = C.shape
                sx, sy = _cell_ps(row, H, W_)
                valid = np.isfinite(C).reshape(B, -1)
                if np.any(valid & ~dones):
                    b, f = [int(v[0]) for v in
                            np.nonzero(valid & ~dones)]
                    raise ValueError(
                        f"upstream_flow_length: pixel ({f // W_},"
                        f"{f % W_}) band {b} of cell {row.cell} never "
                        "resolved after convergence — CROSS-TILE "
                        "CYCLE in the code planes")
                m = _fl_metres(lens, sx, sy)
                plane = np.where(valid, m, np.nan).reshape(B, H, W_)
                d = {c2: getattr(row, c2) for c2 in names if c2 != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float32),
                    "rawf32")
                d["fmt"] = "rawf32"
                d["nodata"] = OUT_NODATA
                for c2 in meta_null:
                    d[c2] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    work_final = (df.withColumnRenamed(key, "cell")
                  .join(need, "cell", "left"))
    if arr_grouped is not None:
        work_final = work_final.join(arr_grouped, "cell", "left")
    return work_final.mapInPandas(paint, schema=out_schema)


# --------------------------------------------- Strahler stream order ----

def _order_solve(c: np.ndarray,
                 ext_need: np.ndarray | None = None,
                 ext_best: np.ndarray | None = None,
                 ext_cnt: np.ndarray | None = None):
    """Kahn-style topological propagation of Strahler orders over one
    ``(H, W)`` D8 code plane. A pixel's order is 1 with no upstream,
    else ``m`` when exactly one upstream attains the max upstream
    order ``m``, else ``m + 1`` (two or more attain it) — the classic
    Strahler confluence rule applied per pixel, evaluated with a
    running ``(best, cnt)`` merge that is associative, so external
    contributions fold in as an initial state. ``ext_need`` holds the
    count of NOT-yet-arrived external upstreams per flat pixel (such
    pixels — and everything downstream of them — stay unresolved at
    order 0); ``ext_best``/``ext_cnt`` the running merge over arrived
    external orders. Returns ``(order, dest, off_flat)`` with
    ``order`` a flat int64 array, 0 = unresolved. Vectorized wave
    sweep: no per-pixel Python in the hot path."""
    H, W_ = c.shape
    n = H * W_
    dest, off_flat = _dest_tables(c)
    valid = np.isfinite(c).ravel()
    indeg = np.zeros(n, np.int64)
    src = np.flatnonzero(valid & (dest >= 0))
    tgt = dest[src]
    ok = valid[tgt]                 # draining into nodata: dropped
    np.add.at(indeg, tgt[ok], 1)
    best = (np.zeros(n, np.int64) if ext_best is None
            else ext_best.astype(np.int64, copy=True))
    cnt = (np.zeros(n, np.int64) if ext_cnt is None
           else ext_cnt.astype(np.int64, copy=True))
    if ext_need is not None:
        indeg = indeg + ext_need.astype(np.int64)
    order = np.zeros(n, np.int64)
    frontier = np.flatnonzero(valid & (indeg == 0))
    guard = 0
    while frontier.size:
        o = np.where(best[frontier] == 0, 1,
                     best[frontier] + (cnt[frontier] >= 2))
        order[frontier] = o
        mv = dest[frontier] >= 0
        q = dest[frontier[mv]]
        op = o[mv]
        vq = valid[q]
        q, op = q[vq], op[vq]
        if q.size:
            wave_max = np.zeros(n, np.int64)
            np.maximum.at(wave_max, q, op)
            sel = op == wave_max[q]
            wave_cnt = np.zeros(n, np.int64)
            np.add.at(wave_cnt, q[sel], 1)
            arr = np.zeros(n, np.int64)
            np.add.at(arr, q, 1)
            uq = np.unique(q)
            gt = wave_max[uq] > best[uq]
            eq = ~gt & (wave_max[uq] == best[uq])
            bu = uq[gt]
            best[bu] = wave_max[bu]
            cnt[bu] = wave_cnt[bu]
            eu = uq[eq]
            cnt[eu] += wave_cnt[eu]
            indeg[uq] -= arr[uq]
            frontier = uq[(indeg[uq] == 0) & (order[uq] == 0)]
        else:
            frontier = np.empty(0, np.int64)
        guard += 1
        if guard > n + 8:
            raise ValueError(
                "stream_order: cycle detected in D8 codes — input is "
                "not a flowdir product (steepest descent cannot "
                "cycle); fix the code plane before ordering")
    return order, dest, off_flat


def stream_order_np(codes: np.ndarray) -> np.ndarray:
    """Whole-mosaic reference kernel: ``(B, H, W)`` D8 code planes
    (NaN = nodata) → float64 Strahler order planes (NaN where the code
    was nodata). Headwater pixels (no upstream) are order 1; a
    confluence where two or more upstreams share the max order ``m``
    yields ``m + 1``, otherwise the max passes through — GRASS
    ``r.stream.order`` / WhiteboxTools ``StrahlerStreamOrder``
    semantics applied to the full valid-pixel drainage forest (mask
    with :func:`stream_mask` for network-only orders). The naive
    per-pixel recursive twin lives in tests/oracle.py; the distributed
    operator is pinned against THIS kernel run on the assembled
    mosaic."""
    codes = np.asarray(codes, np.float64)
    if codes.ndim != 3:
        raise ValueError("expected (bands, h, w) code planes")
    B, H, W_ = codes.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        c = codes[b]
        order, _dest, _off = _order_solve(c)
        valid = np.isfinite(c).ravel()
        if np.any(valid & (order == 0)):
            raise ValueError(
                "stream_order: cycle detected in D8 codes — input is "
                "not a flowdir product")
        out[b] = np.where(valid, order.astype(np.float64),
                          np.nan).reshape(H, W_)
    return out


_SO_DECL, _SO_ORD = 0, 1


def stream_order(df: DataFrame, key: str = "cell_id",
                 max_rounds: int = 128, reliable: bool = False,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed Strahler stream order over a one-row-per-cell tile
    table of D8 flow-direction codes (the output of
    ``terrain(df, 'flowdir')``) — GRASS ``r.stream.order`` /
    WhiteboxTools ``StrahlerStreamOrder``, distributed. Output schema
    == input schema with the payload replaced by ``rawf32`` orders
    (small exact integers), ``-9999`` sentinel nodata.

    Spark-first plan — like :func:`flow_accumulation` a pixel's order
    depends on arbitrarily distant upstream terrain, but unlike mass
    the Strahler merge needs ALL upstream contributions before a pixel
    can resolve, so the rounds run a cross-tile TOPOLOGICAL WAVEFRONT:

    1. **Declare** (one ``mapInPandas``, zero tile-byte shuffle): every
       tile reads its own codes and emits one slim DECL record per
       valid edge pixel draining into an existing neighbor tile —
       grouped by destination, these give each tile its exact external
       in-degree per entry pixel, so no tile ever resolves early.
    2. **Rounds**: every tile runs the same vectorized Kahn sweep as
       the mosaic kernel (:func:`_order_solve`), with arrived external
       orders folded into the associative ``(best, cnt)`` merge and
       un-arrived externals blocking their entry pixels; resolved
       edge-exits emit ORD records (dest, entry pixel, order, source
       identity). New arrivals are separated with one anti-join
       against the accumulated-arrivals table (re-runs re-emit
       deterministically; duplicates die there), and ONLY tiles that
       received genuinely-new arrivals re-solve (inner join against
       the slim codes table). Convergence = zero new arrivals; round
       count = tile-graph depth of the drainage DAG, not path length
       in pixels.
    3. **Assembly**: one final per-tile solve against the complete
       arrival set paints payloads; any valid pixel still unresolved
       is a cross-tile CYCLE and raises loudly.

    At 100 TB each round shuffles O(perimeter · bands) DECL/ORD rows
    per touched tile; tile bytes are read only by touched-tile
    re-solves and the final assembly join."""
    names = df.columns
    for req in (key, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(f"stream_order input is missing column "
                             f"{req!r}")

    def _ckpt(d, eager):
        return truncate_lineage(d, eager=eager, reliable=reliable,
                                checkpoint_dir=checkpoint_dir)

    slim_cols = [F.col(key).alias("cell"), "bytes", "w", "h", "fmt",
                 "nodata"]
    if "band_nodata" in names:
        slim_cols.append("band_nodata")
    tiles_slim = _ckpt(df.select(*slim_cols), True)

    rec_schema = T.StructType([
        T.StructField("cell", T.LongType()),    # destination tile
        T.StructField("kind", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("py", T.IntegerType()),   # entry pixel in dest
        T.StructField("px", T.IntegerType()),
        T.StructField("src", T.LongType()),     # source tile
        T.StructField("sflat", T.LongType()),   # source pixel flat idx
        T.StructField("ord", T.IntegerType()),
    ])
    _rec_cols = [f.name for f in rec_schema.fields]

    def _rec_pdf(rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows, columns=_rec_cols)
        for col, dt in (("cell", "Int64"), ("kind", "Int32"),
                        ("band", "Int32"), ("py", "Int32"),
                        ("px", "Int32"), ("src", "Int64"),
                        ("sflat", "Int64"), ("ord", "Int32")):
            pdf[col] = pd.array(pdf[col], dtype=dt)
        return pdf

    def _decode_codes(row) -> np.ndarray:
        arr = codec.decode(row.bytes, int(row.w), int(row.h), row.fmt)
        nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                 row.nodata)
        return codec.to_float_masked(arr, nd)

    def _fold_ext(row, B: int, n: int, W_: int):
        """need/arrival struct lists → (ext_need, ext_best, ext_cnt)."""
        ext_need = np.zeros((B, n), np.int64)
        ext_best = np.zeros((B, n), np.int64)
        ext_cnt = np.zeros((B, n), np.int64)
        nd = getattr(row, "need", None)
        if isinstance(nd, (list, np.ndarray)):
            for s in nd:
                b, f = int(s["band"]), int(s["py"]) * W_ + int(s["px"])
                if not (0 <= b < B and 0 <= f < n):
                    raise ValueError(
                        f"stream_order: declared inflow at band {b} "
                        f"flat {f} is outside the tile of cell "
                        f"{row.cell} — mixed tile dims are not "
                        "supported")
                ext_need[b, f] += 1
        ar = getattr(row, "arr", None)
        if isinstance(ar, (list, np.ndarray)):
            for s in ar:
                b, f = int(s["band"]), int(s["py"]) * W_ + int(s["px"])
                o = int(s["ord"])
                ext_need[b, f] -= 1
                if o > ext_best[b, f]:
                    ext_best[b, f] = o
                    ext_cnt[b, f] = 1
                elif o == ext_best[b, f]:
                    ext_cnt[b, f] += 1
        return ext_need, ext_best, ext_cnt

    def _tile_solve(row) -> tuple[np.ndarray, np.ndarray, list[dict]]:
        """One tile against its current external state: returns the
        (B, n) order array, the decoded codes, and resolved-exit ORD
        emission rows."""
        C = _decode_codes(row)
        B, H, W_ = C.shape
        n = H * W_
        zone, res, ix, iy = (int(v) for v in cells.decode_np(row.cell))
        ext_need, ext_best, ext_cnt = _fold_ext(row, B, n, W_)
        ords = np.zeros((B, n), np.int64)
        emits: list[dict] = []
        for b in range(B):
            order, dest, off_flat = _order_solve(
                C[b], ext_need[b], ext_best[b], ext_cnt[b])
            ords[b] = order
            ex = np.flatnonzero((order > 0) & (dest <= _OFF_BASE))
            for p in ex.tolist():
                k = int(_OFF_BASE - dest[p])
                cdy, cdx = k // 3 - 1, k % 3 - 1
                ncell = cells.neighbor_cell(zone, res, ix, iy, cdx, cdy)
                if ncell is None:
                    continue       # zone edge: the void absorbs
                f = int(off_flat[p])
                emits.append({"cell": int(ncell), "kind": _SO_ORD,
                              "band": b, "py": f // W_, "px": f % W_,
                              "src": int(row.cell), "sflat": int(p),
                              "ord": int(order[p])})
        return ords, C, emits

    def declare(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                C = _decode_codes(row)
                B, H, W_ = C.shape
                zone, res, ix, iy = (int(v)
                                     for v in cells.decode_np(row.cell))
                for b in range(B):
                    dest, off_flat = _dest_tables(C[b])
                    valid = np.isfinite(C[b]).ravel()
                    ex = np.flatnonzero(valid & (dest <= _OFF_BASE))
                    for p in ex.tolist():
                        k = int(_OFF_BASE - dest[p])
                        cdy, cdx = k // 3 - 1, k % 3 - 1
                        ncell = cells.neighbor_cell(zone, res, ix, iy,
                                                    cdx, cdy)
                        if ncell is None:
                            continue
                        f = int(off_flat[p])
                        out.append({"cell": int(ncell),
                                    "kind": _SO_DECL, "band": b,
                                    "py": f // W_, "px": f % W_,
                                    "src": int(row.cell),
                                    "sflat": int(p), "ord": None})
            if out:
                yield _rec_pdf(out)

    def solve_round(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                _ords, _C, emits = _tile_solve(row)
                out.extend(emits)
            if out:
                yield _rec_pdf(out)

    decls = _ckpt(tiles_slim.mapInPandas(declare, schema=rec_schema),
                  False)
    need = (decls.groupBy("cell")
            .agg(F.collect_list(F.struct("band", "py", "px"))
                 .alias("need")))

    arrive_key = ["cell", "band", "py", "px", "src", "sflat"]
    arrived = None           # accumulated ORD rows
    arr_grouped = None       # cell -> list of (band, py, px, ord)
    # round 1: every tile solves with its declared in-degree
    work = tiles_slim.join(need, "cell", "left")
    step = _ckpt(work.mapInPandas(solve_round, schema=rec_schema),
                 False)
    new = step.select(*arrive_key, "ord")
    n_new = new.count()
    rounds = 0
    while n_new:
        rounds += 1
        if rounds > max_rounds:
            sample = [(int(r.cell), int(r.band), int(r.py), int(r.px))
                      for r in new.limit(5).collect()]
            raise ValueError(
                f"stream_order did not converge in {max_rounds} "
                f"rounds ({n_new} boundary-order records still "
                "arriving). EITHER a drainage path crosses more tiles "
                "than max_rounds — raise it (rounds are cheap: only "
                "touched tiles re-solve) — OR the code planes contain "
                "a CROSS-TILE cycle, which can never converge: "
                "flowdir-derived codes cannot cycle, so inspect how "
                "these planes were produced. Sample arrivals (cell, "
                f"band, py, px): {sample}")
        arrived = _ckpt(new if arrived is None
                        else arrived.unionByName(new), False)
        arr_grouped = (arrived.groupBy("cell")
                       .agg(F.collect_list(
                           F.struct("band", "py", "px", "ord"))
                           .alias("arr")))
        touched = new.select("cell").distinct()
        work = (tiles_slim.join(touched, "cell")
                .join(need, "cell", "left")
                .join(arr_grouped, "cell", "left"))
        step = work.mapInPandas(solve_round, schema=rec_schema)
        new = _ckpt(step.select(*arrive_key, "ord")
                    .join(arrived, arrive_key, "left_anti"), False)
        n_new = new.count()

    in_fields = [T.StructField(f.name, f.dataType, True)
                 for f in df.schema.fields]
    out_schema = T.StructType(in_fields)
    meta_null = [c for c in ("band_scale", "band_offset", "band_nodata")
                 if c in names]

    def paint(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ords, C, _emits = _tile_solve(row)
                B, H, W_ = C.shape
                valid = np.isfinite(C).reshape(B, -1)
                if np.any(valid & (ords == 0)):
                    b, f = [int(v[0]) for v in
                            np.nonzero(valid & (ords == 0))]
                    raise ValueError(
                        f"stream_order: pixel ({f // W_},{f % W_}) "
                        f"band {b} of cell {row.cell} never resolved "
                        "after convergence — the code planes contain "
                        "a CROSS-TILE CYCLE (tile A's edge pixel "
                        "drains into tile B and B's entry drains back "
                        "into A); flowdir-derived codes cannot cycle, "
                        "so inspect how these planes were produced")
                plane = np.where(valid, ords.astype(np.float64),
                                 np.nan).reshape(B, H, W_)
                d = {c2: getattr(row, c2) for c2 in names if c2 != key}
                d[key] = int(row.cell)
                d["bytes"] = codec.encode(
                    codec.from_float(plane, OUT_NODATA, np.float32),
                    "rawf32")
                d["fmt"] = "rawf32"
                d["nodata"] = OUT_NODATA
                for c2 in meta_null:
                    d[c2] = None
                out.append(d)
            if out:
                yield pd.DataFrame(out, columns=names)

    work_final = (df.withColumnRenamed(key, "cell")
                  .join(need, "cell", "left"))
    if arr_grouped is not None:
        work_final = work_final.join(arr_grouped, "cell", "left")
    return work_final.mapInPandas(paint, schema=out_schema)
