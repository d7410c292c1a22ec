"""The benchmark's workloads: ``composite`` and ``spatial_search``.

Each workload builds its inputs from the seed and materializes them
before any timing starts, runs one untimed pass whose outputs are
checked in full against the NumPy oracles of ``tests/oracle.py``, and
then repeats timed passes until their summed time reaches the run
length. Every timed operation is also checked, cheaply, so failures
count against the operations attempted.

With tracing on, spans wrap each call into a layer and, after the timed
loop, probes call the layers' public functions on the workload's own
data to give the per-layer metrics. The traced ``composite`` run also
probes the many-to-many path (regrid, Hampel filter, parquet write) on
a small input of its own.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vrtility_spark import (codec, composite, datagen, join, knn, masks,
                           schema, storage, timeseries, warp)
from vrtility_spark.cells import ZONE_SPAN
from vrtility_spark.pipeline import Pipeline

import harness

MASK_VALUES = datagen.S2_MASK_VALUES
ZONES = datagen.DEFAULT_ZONES
TILE_RES = datagen.TILE_RES
S = datagen.TILE_SPAN
MAX_PASSES = 1000  # a loop of instantly failing operations stops here
MIN_PASSES = 5    # each operation's median has five samples at least

# input sizes: 3 zones x nx x ny tiles x T dates of 5-band w x h scenes
COMPOSITE_SIZE = dict(nx=3, ny=3, n_dates=12, w=64, h=64)
# the regrid probe's input; the Hampel stage costs ~0.1 s per cell here
REGRID_SIZE = dict(nx=2, ny=1, n_dates=12, w=16, h=16)
# footprint catalog of spatial_search
N_FOOTPRINTS = 50_000
HOT_FRAC = 0.3            # share of footprints packed into the hot corner
HOT_SPAN = 2 * S          # the hot corner of zone ZONES[0]
EDGE_RANGE = (8_000.0, 40_000.0)  # footprint edge lengths, metres
CELL_RES = 6              # catalog cell_id resolution (16 km cells)
PREFIX_K = 4              # catalog partitions by the parent cell 4 levels up
MIN_COVERAGE = 0.01
# query sizes cycle with the pass number, so every run of five passes
# asks the same sizes and only the positions come from the seed
QUERY_EDGES = np.linspace(20_000.0, 60_000.0, MIN_PASSES)  # box edges, m
KNN_KS = [3, 4, 6, 8, 9]
ORACLE_SAMPLE_CELLS = 2
ORACLE_SAMPLE_PIXELS = 64


def load_oracle(root: str):
    """The repository's loop-based NumPy oracle module."""
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Context:
    """What a workload needs: the session, its seed and run length, the
    tracer, the outcome counter, a scratch directory and the oracle."""

    def __init__(self, spark, seed, seconds, cores, tracer, outcomes,
                 work, oracle, min_passes=MIN_PASSES):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.min_passes = min_passes
        self.cores, self.tracer, self.outcomes = cores, tracer, outcomes
        self.work, self.oracle = work, oracle
        self.rng = np.random.default_rng(seed)
        self.t0 = time.perf_counter()
        self.cpu: list[float] = []  # CPU seconds of each run_ops call
        self.cpu_meter = harness.TreeCpu(os.getpid())

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t0:7.1f}s] {msg}",
              file=sys.stderr, flush=True)


class Result:
    """Timed-loop outcome of one workload run."""

    def __init__(self, loop, inputs_per_pass, layers, strata=None):
        self.pass_ops, self.pass_cpu, self.window = loop
        # pass_ops / pass_cpu: latency / CPU seconds of each pass's ops;
        # window: (t0, t1) epoch seconds of the timed loop
        self.strata = strata                  # a label per latency, or None
        self.inputs_per_pass = inputs_per_pass
        self.layers = layers                  # name -> (value, unit)

    @property
    def op_s(self) -> list[float]:
        return [x for ops in self.pass_ops for x in ops]

    @property
    def wall_s(self) -> float:
        return harness.pass_median(self.pass_ops, self.strata)

    @property
    def cpu_s(self) -> float:
        return harness.pass_median(self.pass_cpu, self.strata)


def run_ops(ctx: Context, name: str, fn, check) -> float:
    """Time one operation, then check its output outside the timer.
    Returns the latency and appends the CPU seconds the whole process
    tree spent on it to ``ctx.cpu``; a raise or a failed check counts
    as failed."""
    c0 = ctx.cpu_meter.seconds()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(name):
            out = fn()
    except Exception as e:  # the loop must go on and report the failure
        dt = time.perf_counter() - t0
        ctx.cpu.append(ctx.cpu_meter.seconds() - c0)
        ctx.outcomes.record(False, f"{name}: {type(e).__name__}: {e}")
        return dt
    dt = time.perf_counter() - t0
    ctx.cpu.append(ctx.cpu_meter.seconds() - c0)
    try:
        ok = bool(check(out))
    except Exception as e:  # noqa: BLE001 - a crashing check is a failure
        ok, name = False, f"{name}: check raised {type(e).__name__}: {e}"
    ctx.outcomes.record(ok, name)
    return dt


def timed_loop(ctx: Context, one_pass, warm: int):
    """Run ``warm`` untimed passes, then repeat
    ``one_pass(i) -> [op latencies]`` at least
    ``ctx.min_passes`` times and then while the summed latency plus
    half a mean pass stays under ``ctx.seconds``, so a run overshoots
    its length by about half a pass at most; checks run between
    operations and are not counted. Returns the latencies and the CPU
    seconds of each pass and the loop's wall-clock window."""
    pass_ops, pass_cpu, spent = [], [], 0.0
    for i in range(-warm, 0):
        ctx.log(f"warm pass {i}: "
                + " ".join(f"{x:.3f}" for x in one_pass(i)))
    ctx.log("timed loop")
    t0 = time.time()
    for i in range(MAX_PASSES):
        n = len(pass_ops)
        if n >= ctx.min_passes and spent * (1 + 0.5 / n) >= ctx.seconds:
            break
        ctx.tracer.op = i
        ctx.cpu = []
        lat = one_pass(i)
        pass_ops.append(lat)
        pass_cpu.append(ctx.cpu)
        spent += sum(lat)
        ctx.log(f"pass {i}: " + " ".join(f"{x:.3f}" for x in lat)
                + " cpu " + " ".join(f"{x:.3f}" for x in ctx.cpu))
    ctx.tracer.op = None
    ctx.log(f"{len(pass_ops)} passes, median pass "
            f"{harness.pass_median(pass_ops):.3f}s")
    return pass_ops, pass_cpu, (t0, time.time())


def timed(fn, min_s: float = 0.2):
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def masked_stack(arrs) -> np.ndarray:
    """(T,B,H,W) float64 with the S2 class mask and nodata 0 as NaN —
    the oracle's own restatement of set_maskfun("int", MASK_VALUES)."""
    st = np.stack(arrs).astype(np.float64)
    bad = np.isin(st[:, -1], MASK_VALUES)
    data = st[:, :-1]
    data[np.broadcast_to(bad[:, None], data.shape)] = np.nan
    st[st == 0] = np.nan
    return st


def geomedian_1(oracle, X: np.ndarray) -> np.ndarray:
    """geomedian semantics for one pixel's (T,B) matrix: Weiszfeld on
    complete rows (oracle.weiszfeld_1), the band median wherever a band
    has gaps among the non-empty rows."""
    vr = ~np.all(np.isnan(X), axis=1)
    y = oracle.weiszfeld_1(X)
    col_na = np.any(np.isnan(X[vr]), axis=0)
    return np.where(col_na, np.nanmedian(X, axis=0), y)


def decode_rows(rows):
    return [codec.decode(r.bytes, r.w, r.h, r.fmt) for r in rows]


def pixel_layer_probes(scenes, out_fmt_arrays) -> dict:
    """codec and masks metrics on the workload's own payloads."""
    arrs = decode_rows(scenes)
    nbytes = sum(a.nbytes for a in arrs)
    dec = timed(lambda: decode_rows(scenes))
    enc = timed(lambda: [codec.encode(a, "raw16") for a in out_fmt_arrays])
    enc_bytes = sum(a.nbytes for a in out_fmt_arrays)
    fn = masks.make_scene_maskfun("int", MASK_VALUES)
    per_scene = timed(lambda: [fn(a, 0.0) for a in arrs]) / len(arrs)
    before = sum(int((a[:-1] == 0).sum()) for a in arrs)
    after = sum(int((fn(a, 0.0)[:-1] == 0).sum()) for a in arrs)
    total = sum(a[:-1].size for a in arrs)
    return {
        "codec.decode_mb_s": (nbytes / 2 ** 20 / dec, "MB/s"),
        "codec.encode_mb_s": (enc_bytes / 2 ** 20 / enc, "MB/s"),
        "masks.scene_fn_ms": (per_scene * 1e3, "ms"),
        "masks.masked_frac": ((after - before) / total, "fraction"),
    }


def median_of(xs) -> float:
    return harness.median(xs) if xs else 0.0


# ============================================================ composite

def run_composite(ctx: Context) -> Result:
    """Aligned scenes → mask → cell assignment → median and geomedian
    composites; T scenes reduce to one tile per cell."""
    spark, p = ctx.spark, COMPOSITE_SIZE
    images = datagen.images_spark(spark, seed=ctx.seed, **p).cache()
    n_scenes = images.count()
    n_cells = len(ZONES) * p["nx"] * p["ny"]
    ctx.log(f"{n_scenes} scenes materialized")

    def chain(reducer):
        return (Pipeline(images)
                .set_maskfun("int", MASK_VALUES)
                .warp(cell_res=TILE_RES)
                .composite(reducer).df)

    # ---- untimed pass, checked against the oracle on sampled cells
    cells = ctx.rng.choice(n_cells, ORACLE_SAMPLE_CELLS, replace=False)
    outs = {}
    for reducer in ("median", "geomedian"):
        run_ops(ctx, f"check.{reducer}",
                lambda r=reducer: outs.__setitem__(r, chain(r).collect()),
                lambda _, r=reducer: (len(outs[r]) == n_cells and sum(
                    x.n_scenes for x in outs[r]) == n_scenes))
    cell_ids = sorted(r.cell_id for r in outs["median"])
    sample = [cell_ids[i] for i in cells]
    scenes = (warp.assign_cells(images, TILE_RES)
              .where(F.col("cell_id").isin(sample)).collect())
    pix = ctx.rng.choice(p["h"] * p["w"], ORACLE_SAMPLE_PIXELS, replace=False)
    stacks = {}
    for cid in sample:
        rows = [r for r in scenes if r.cell_id == cid]
        st = masked_stack(decode_rows(rows))
        stacks[cid] = st
        got = {red: next(codec.decode(r.bytes, r.w, r.h, r.fmt)
                         for r in outs[red] if r.cell_id == cid)
               for red in ("median", "geomedian")}
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            exp_med = codec.from_float(
                ctx.oracle.composite_stack(st, "median"), 0.0, "uint16")
            flat = st.reshape(st.shape[0], st.shape[1], -1)
            exp_geo = np.stack([geomedian_1(ctx.oracle, flat[:, :, j])
                                for j in pix], axis=1)
        ok_med = np.abs(got["median"].astype(np.int64)
                        - exp_med.astype(np.int64)).max() <= 1
        got_geo = got["geomedian"].reshape(st.shape[1], -1)[:, pix]
        ok_geo = codec.psnr(got_geo, codec.from_float(
            exp_geo, 0.0, "uint16")) >= 40.0
        ctx.outcomes.record(bool(ok_med), f"median oracle, cell {cid}")
        ctx.outcomes.record(bool(ok_geo), f"geomedian oracle, cell {cid}")

    ctx.log("checked pass done")
    # ---- timed passes: each chain forced by an aggregate that checks
    # the row count and the scenes folded into the cells
    def forced(reducer):
        return chain(reducer).agg(F.count("*").alias("n"),
                                  F.sum("n_scenes").alias("s")).collect()[0]

    def ok(row):
        return row.n == n_cells and row.s == n_scenes

    def one_pass(i):
        return [run_ops(ctx, f"composite.{r}", lambda r=r: forced(r), ok)
                for r in ("median", "geomedian")]

    # the checked pass above warmed the chains once already
    loop = timed_loop(ctx, one_pass, warm=1)
    layers = {}
    if ctx.tracer.enabled:
        layers = composite_probes(ctx, images, n_scenes, n_cells, scenes,
                                  stacks, outs)
    images.unpersist()
    return Result(loop, n_scenes, layers)


def composite_probes(ctx, images, n_scenes, n_cells, scenes, stacks, outs):
    out_arrays = [codec.decode(r.bytes, r.w, r.h, r.fmt)
                  for r in outs["median"][:len(scenes)]]
    layers = pixel_layer_probes(scenes, out_arrays)
    layers["codec.bytes_decoded"] = (
        n_scenes * decode_rows(scenes[:1])[0].nbytes, "B/op")
    layers["warp.assign_cells_s"] = (wall(lambda: force(
        warp.assign_cells(images, TILE_RES).select("cell_id",
                                                    "cell_prefix"))), "s")
    assigned = (Pipeline(images).set_maskfun("int", MASK_VALUES)
                .warp(cell_res=TILE_RES).df.cache())
    assigned.count()
    for reducer in ("median", "geomedian"):
        layers[f"composite.{reducer}_s"] = (wall(
            lambda r=reducer: force(Pipeline(assigned).composite(r).df)),
            "s")
    assigned.unpersist()
    st = next(iter(stacks.values())).astype(np.float32)
    T, B, H, W = st.shape
    mpx = T * B * H * W / 1e6
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        t_med = timed(lambda: composite.median_t(st))
        t_geo = timed(lambda: composite.geomedian_mb(st.reshape(T, B, -1)))
    layers.update({
        "composite.median_kernel_mpx_s": (mpx / t_med, "Mpx/s"),
        "composite.geomedian_kernel_mpx_s": (mpx / t_geo, "Mpx/s"),
        "composite.scenes_per_cell": (n_scenes / n_cells, "count"),
    })
    layers.update(regrid_probes(ctx))
    return layers


# ======================================== many-to-many layer probes

def zone_offsets(rng) -> dict:
    """Seeded quarter-tile shift per zone, never zero on either axis,
    so every scene straddles four cells whatever the seed."""
    return {z: tuple(float(v) * S / 4 for v in rng.integers(1, 4, 2))
            for z in ZONES}


def shifted_footprints(images, offsets):
    dx = dy = F.lit(0.0)
    for z, (ox, oy) in offsets.items():
        dx = F.when(F.col("zone") == z, F.lit(ox)).otherwise(dx)
        dy = F.when(F.col("zone") == z, F.lit(oy)).otherwise(dy)
    return (images.withColumn("xmin", F.col("xmin") + dx)
            .withColumn("xmax", F.col("xmax") + dx)
            .withColumn("ymin", F.col("ymin") + dy)
            .withColumn("ymax", F.col("ymax") + dy))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def regrid_probes(ctx: Context) -> dict:
    """warp.regrid, timeseries.hampel and storage.write on their own
    seeded input: scenes shifted off the cell grid by quarter tiles, so
    each feeds four cells and T scenes give T outputs per cell."""
    spark, p = ctx.spark, REGRID_SIZE
    images = shifted_footprints(
        datagen.images_spark(spark, seed=ctx.seed, **p),
        zone_offsets(ctx.rng)).cache()
    n_scenes = images.count()
    rg = (Pipeline(images).set_maskfun("int", MASK_VALUES)
          .regrid(TILE_RES, p["w"], p["h"], resampling="nearest").df)
    layers = {"warp.regrid_s": (wall(lambda: force(rg)), "s")}
    tiles = rg.cache()
    layers["warp.cover_fanout"] = (tiles.count() / n_scenes, "ratio")
    filtered = timeseries.hampel(tiles, k=1)
    layers["timeseries.hampel_s"] = (wall(lambda: force(filtered)), "s")
    filtered = filtered.cache()
    filtered.count()
    path = os.path.join(ctx.work, "regrid_probe")
    layers["storage.write_s"] = (wall(
        lambda: filtered.write.mode("overwrite").parquet(path)), "s")
    written = dir_bytes(path)
    in_bytes = images.agg(F.sum(F.length("bytes"))).collect()[0][0]
    layers["storage.bytes_written"] = (written, "B")
    layers["storage.bytes_per_input_byte"] = (written / in_bytes, "ratio")
    cid = tiles.select("cell_id").first().cell_id
    rows = sorted(tiles.where(F.col("cell_id") == cid).collect(),
                  key=lambda r: r.datetime)
    X = np.stack([codec.to_float_masked(a, 0.0)[0].ravel()
                  for a in decode_rows(rows)])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        t = timed(lambda: timeseries.hampel_np(X, 1))
    layers["timeseries.hampel_kernel_mpx_s"] = (X.size / 1e6 / t, "Mpx/s")
    for df in (filtered, tiles, images):
        df.unpersist()
    return layers


# ======================================================= spatial_search

def footprint_catalog(rng) -> pd.DataFrame:
    """Seeded scene footprints: uniform over the zones, with a share
    packed into one corner so cells are skewed."""
    n = N_FOOTPRINTS
    hot = rng.random(n) < HOT_FRAC
    zone = np.where(hot, ZONES[0], rng.choice(ZONES, n))
    span = np.where(hot, HOT_SPAN, ZONE_SPAN - EDGE_RANGE[1])
    xmin = rng.random(n) * span
    ymin = rng.random(n) * span
    ew = rng.uniform(*EDGE_RANGE, n)
    eh = rng.uniform(*EDGE_RANGE, n)
    day = rng.integers(0, 730, n)
    ids = [f"F{i:06d}" for i in range(n)]
    return pd.DataFrame({
        "image_id": ids, "zone": zone.astype(np.int64),
        "xmin": xmin, "ymin": ymin, "xmax": xmin + ew, "ymax": ymin + eh,
        "caption": [f"footprint {i}" for i in ids],
        "phash": rng.integers(-2 ** 62, 2 ** 62, n),
        "datetime": pd.Timestamp("2024-01-01") + pd.to_timedelta(day, "D"),
    })


def query_box(rng, i: int, hot: bool):
    """A seeded query position in a random zone, or in the hot corner,
    with the box size of pass ``i``."""
    zone = ZONES[0] if hot else int(rng.choice(ZONES))
    span = HOT_SPAN if hot else ZONE_SPAN - 2 * EDGE_RANGE[1]
    x, y = rng.random(2) * span
    n = len(QUERY_EDGES)
    w, h = QUERY_EDGES[i % n], QUERY_EDGES[(i + n // 2) % n]
    return zone, float(x), float(y), float(x + w), float(y + h)


def overlaps(cat, zone, xmin, ymin, xmax, ymax):
    return ((cat.zone.values == zone) & (cat.xmin.values < xmax)
            & (cat.xmax.values > xmin) & (cat.ymin.values < ymax)
            & (cat.ymax.values > ymin))


def scan_files_read(df) -> int:
    """Files the executed scan of ``df`` read, from the scan node's
    ``numFiles`` metric; -1 when the plan does not expose it."""
    try:
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        n = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                n += m.apply("numFiles").value()
        return int(n)
    except Exception:  # noqa: BLE001 - the metric is optional
        return -1


def run_spatial_search(ctx: Context) -> Result:
    """One client in a closed loop: AOI coverage join, kNN and pruned
    bbox scan in rotation over a skewed footprint catalog."""
    spark, sc = ctx.spark, ctx.spark.sparkContext
    cat = footprint_catalog(ctx.rng)
    path = os.path.join(ctx.work, "catalog")
    # the Spark copy is read from a parquet file: a frame made with
    # createDataFrame would carry its rows inside every task, cached or not
    src = os.path.join(ctx.work, "footprints.parquet")
    cat.to_parquet(src, index=False, coerce_timestamps="us")
    cat_df = spark.read.parquet(src).withColumn(
        "datetime", F.col("datetime").cast("timestamp"))
    write_s = wall(lambda: storage.write_images(cat_df, path, CELL_RES,
                                                PREFIX_K))
    ctx.log(f"catalog written in {write_s:.1f}s")
    n_files = sum(f.endswith(".parquet") for _, _, fs in os.walk(path)
                  for f in fs)
    # joins and kNN run on an in-memory copy of the catalog: a cached
    # read of ``path`` would also serve scan_bbox from memory and skip
    # the pruned file scan it is there to measure
    catalog = warp.assign_cells(cat_df, CELL_RES, PREFIX_K).cache()
    n_cat = catalog.count()
    ctx.log(f"{n_cat} footprints written and cached")
    cat_ix = cat.set_index("image_id", drop=False)
    stats = {"join_rows": 0, "aois": [], "knn_jobs": [], "files": []}

    def aoi_query(q, i, hot):
        zone, x0, y0, x1, y1 = query_box(ctx.rng, i, hot)
        aoi = pd.DataFrame([{
            "aoi_id": f"a{q}", "srs": f"ZONE:{zone}",
            "geom_wkt": (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                         f"{x0} {y1}, {x0} {y0}))"),
            "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1,
            "min_coverage": MIN_COVERAGE}])
        stats["aois"].append(aoi)

        def call():
            with ctx.tracer.span("join.plan"):
                df = join.spatial_join(catalog, schema.aoi_df(spark, aoi),
                                       min_coverage_of_aoi=MIN_COVERAGE)
            with ctx.tracer.span("join.exec"):
                return df.select("aoi_id", "image_id").collect()

        def check(rows):
            stats["join_rows"] += len(rows)
            sub = cat[overlaps(cat, zone, x0, y0, x1, y1)]
            want = ctx.oracle.brute_force_join(sub, aoi, MIN_COVERAGE)
            return sorted((r.aoi_id, r.image_id) for r in rows) == want
        return run_ops(ctx, "query.aoi", call, check)

    def knn_query(q, i, hot):
        zone, x, y, _, _ = query_box(ctx.rng, i, hot)
        k = KNN_KS[i % len(KNN_KS)]
        qpdf = pd.DataFrame([{"query_id": f"k{q}", "srs": f"ZONE:{zone}",
                              "zone": zone, "x": x, "y": y, "k": k}])

        def call():
            with ctx.tracer.span("knn.plan"):
                df = knn.knn_tiles(catalog, schema.knn_df(spark, qpdf),
                                   res=CELL_RES)
            with ctx.tracer.span("knn.exec"):
                return df.select("image_id", "rank").collect()

        def check(rows):
            inz = cat[cat.zone.values == zone]
            d = np.hypot((inz.xmin.values + inz.xmax.values) / 2 - x,
                         (inz.ymin.values + inz.ymax.values) / 2 - y)
            near = inz.iloc[np.argsort(d, kind="stable")[:k + 16]]
            want = [i for _, i in
                    ctx.oracle.brute_force_knn(near, qpdf)[f"k{q}"]]
            return [r.image_id for r in sorted(rows, key=lambda r: r.rank)] \
                == want

        if ctx.tracer.enabled:
            sc.setJobGroup(f"k{q}", "knn query")
        lat = run_ops(ctx, "query.knn", call, check)
        if ctx.tracer.enabled:
            stats["knn_jobs"].append(
                len(sc.statusTracker().getJobIdsForGroup(f"k{q}")))
            sc.setJobGroup("perfbench", "benchmark")
        return lat

    def scan_query(q, i, hot):
        zone, x0, y0, x1, y1 = query_box(ctx.rng, i, hot)
        holder = {}

        def call():
            df = storage.scan_bbox(spark, path, zone, x0, y0, x1, y1,
                                   CELL_RES, PREFIX_K,
                                   max_footprint_edge=EDGE_RANGE[1]) \
                .select("image_id")
            holder["df"] = df
            return df.collect()

        def check(rows):
            if ctx.tracer.enabled:
                stats["files"].append(scan_files_read(holder["df"]))
            want = set(cat_ix.image_id.values[
                overlaps(cat, zone, x0, y0, x1, y1)])
            return {r.image_id for r in rows} == want
        return run_ops(ctx, "storage.scan_bbox", call, check)

    kinds = (aoi_query, knn_query, scan_query)
    q_counter = [0]

    def hot(i, t):
        # one query of each pass aims at the hot corner; the hot turn
        # moves to the next type every pass
        return (i + t) % len(kinds) == 0

    def one_pass(i):
        lat = []
        for t, kind in enumerate(kinds):
            q = q_counter[0]
            q_counter[0] += 1
            lat.append(kind(q, i, hot(i, t)))
        return lat

    # the query plans keep getting faster for several passes as the JIT
    # compiles them
    loop = timed_loop(ctx, one_pass, warm=2)
    layers = {}
    if ctx.tracer.enabled:
        layers = search_probes(ctx, catalog, cat, n_cat, n_files, write_s,
                               path, stats)
    catalog.unpersist()
    # hot-corner queries are a third of each type's queries, and the
    # AOI join takes ~30 % longer there: weigh them as a third
    strata = [[hot(i, t) for t in range(len(kinds))]
              for i in range(len(loop[0]))]
    return Result(loop, n_cat, layers, strata)


def search_probes(ctx, catalog, cat, n_cat, n_files, write_s, path, stats):
    spark = ctx.spark
    aois = pd.concat(stats["aois"], ignore_index=True)
    geo = ["zone", "xmin", "ymin", "xmax", "ymax"]
    a_cells = warp.cells_cover(
        schema.aoi_df(spark, aois).select("aoi_id", *geo),
        join.DEFAULT_JOIN_RES, out_col="jcell").select("jcell")
    i_cells = warp.cells_cover(catalog.select("image_id", *geo),
                               join.DEFAULT_JOIN_RES, out_col="jcell")
    candidates = i_cells.join(a_cells, "jcell").count()
    files = [f for f in stats["files"] if f >= 0]
    written = dir_bytes(path)
    return {
        "warp.assign_cells_s": (wall(lambda: force(
            warp.assign_cells(catalog.drop("cell_id", "cell_prefix"),
                              CELL_RES, PREFIX_K)
            .select("cell_id", "cell_prefix"))), "s"),
        "warp.cover_fanout": (i_cells.count() / n_cat, "ratio"),
        "storage.write_s": (write_s, "s"),
        "storage.bytes_written": (written, "B"),
        "storage.bytes_per_input_byte": (
            written / cat.memory_usage(deep=True).sum(), "ratio"),
        "storage.scan_bbox_s": (median_of(
            ctx.tracer.durations("storage.scan_bbox")), "s"),
        "storage.files_scanned_frac": (
            (sum(files) / len(files) / n_files) if files else 0.0,
            "fraction"),
        "join.plan_s": (median_of(ctx.tracer.durations("join.plan")), "s"),
        "join.exec_s": (median_of(ctx.tracer.durations("join.exec")), "s"),
        "join.results_per_candidate": (
            stats["join_rows"] / max(candidates, 1), "ratio"),
        "knn.plan_s": (median_of(ctx.tracer.durations("knn.plan")), "s"),
        "knn.exec_s": (median_of(ctx.tracer.durations("knn.exec")), "s"),
        "knn.jobs_per_query": (median_of(stats["knn_jobs"]), "count"),
    }


WORKLOADS = {
    "composite": run_composite,
    "spatial_search": run_spatial_search,
}
