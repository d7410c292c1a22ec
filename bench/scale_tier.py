#!/usr/bin/env python
"""sf0.1 → sf1 scale-tier check for the slowest bench families
(VERDICT r4 item #5): dedup_corpus, near_dup_clusters,
image_polygonize_pipeline — plus the flowacc, ANN-training, and
IR-MAD families added as they landed.

Near-linear wall growth at 10x the input confirms the capped-pair /
seam-volume O-claims with data; superlinear growth would expose a
hidden all-pairs. No sf1 testdata exists, so the 10x inputs are
synthesized DETERMINISTICALLY:

* documents: each sf0.1 row replicated ``REPL`` times with a distinct
  doc_id and EVERY word prefixed by the replica id, so each replica's
  shingle universe is disjoint from every other replica's — the
  per-shingle document-frequency distribution (what drives the
  stop-shingle cap and the candidate pair graph) is exactly sf0.1's,
  repeated 10x. Candidate pairs therefore scale exactly 10x. Plain
  copies would fail in BOTH directions: identical replicas form
  quadratic duplicate cliques, while shared shingles crossing the DF
  cap would instead EMPTY the pair graph.
* polygonize: the same datagen pipeline at a 625-tile grid per zone
  (25x25 vs 8x8 — 9.77x the scenes).
* ann_training: train_ivf + train_pq wall at 10x vs 100x replicated
  embeddings (20k → 200k rows, input ratio 10) — per-row assignment /
  partial-sum cost should grow linearly; the base tier is already 10x
  so Spark fixed costs don't masquerade as sublinearity.

Each (key, tier) is timed best-of-``SPARK_GRAFT_BENCH_REPS`` (default
2) with the noop sink; the kernel probe annotates the window. Prints
one JSON line and appends a row block to BENCH/SCALE_TIER.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from probe import kernel_probe  # noqa: E402

from vrtility_spark import datagen  # noqa: E402
from vrtility_spark.pipeline import Pipeline  # noqa: E402
from vrtility_spark.session import get_spark  # noqa: E402

REPL = int(os.environ.get("SPARK_GRAFT_TIER_REPL", "10"))
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALED_DIR = os.environ.get("SPARK_GRAFT_TIER_DIR",
                            "/tmp/spark_graft_sf_tier")


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def build_scaled_documents(spark) -> str:
    """documents.parquet at REPL x sf0.1, deterministic (no RNG)."""
    from pyspark.sql import functions as F
    src = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    n = src.count()
    reps = spark.range(REPL).withColumnRenamed("id", "_r")
    tagged = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.concat(F.lit("r"),
                                       F.col("_r").cast("string"),
                                       F.lit("_"), w)), " ")
    scaled = (src.crossJoin(reps)
              .select((F.col("doc_id") + F.col("_r") * F.lit(n * 4))
                      .alias("doc_id"),
                      tagged.alias("text"),
                      "lang", "source", "n_chars"))
    out = os.path.join(SCALED_DIR, f"x{REPL}")
    scaled.write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))
    return out


def build_scaled_embeddings(spark, repl: int) -> str:
    """embeddings.parquet at ``repl`` x sf0.1, deterministic: each
    vector replicated with a distinct vec_id. Exact copies are the
    right scaling input for TRAINING wall (assignment + partial-sum
    cost is per-row; the cluster structure is preserved, so iteration
    counts can't drift between tiers)."""
    from pyspark.sql import functions as F
    src = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    n = src.count()
    reps = spark.range(repl).withColumnRenamed("id", "_r")
    scaled = (src.crossJoin(reps)
              .select((F.col("vec_id") + F.col("_r") * F.lit(n * 4))
                      .alias("vec_id"), "embedding")
              .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))))
    out = os.path.join(SCALED_DIR, f"emb_x{repl}", "embeddings.parquet")
    scaled.write.mode("overwrite").parquet(out)
    return out


def time_key(fn, reps: int) -> float:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        _force(fn())
        t = time.perf_counter() - t0
        best = t if best is None or t < best else best
    return round(best, 3)


def time_call(fn, reps: int) -> float:
    """best-of-reps for calls that do their own actions (trainers)."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        t = time.perf_counter() - t0
        best = t if best is None or t < best else best
    return round(best, 3)


def polygonize_shape(spark, nx: int, ny: int):
    images = datagen.images_spark(spark, zones=(30, 31, 27), nx=nx,
                                  ny=ny, n_dates=5, w=64, h=64).cache()
    n = images.count()

    def run():
        return (Pipeline(images)
                .warp(cell_res=datagen.TILE_RES)
                .composite("first")
                .polygonize(band=-1))
    return images, n, run


def flowacc_shape(spark, nx: int, ny: int):
    """Composite → flowdir → flow accumulation at a given grid size:
    scales the CROSS-TILE boundary-mass rounds with the grid (more
    tiles = potentially longer tile-crossing drainage chains), which
    is exactly the O-claim to check with data."""
    images = datagen.images_spark(spark, zones=(30, 31, 27), nx=nx,
                                  ny=ny, n_dates=5, w=64, h=64).cache()
    n = images.count()

    def run():
        return (Pipeline(images)
                .warp(cell_res=datagen.TILE_RES)
                .composite("first")
                .terrain("flowdir")
                .flow_accumulation().df)
    return images, n, run


def flowlength_shape(spark, nx: int, ny: int):
    """Composite → flowdir → downstream flow length at a given grid
    size: scales the boundary-graph pointer-jumping rounds (node rows
    O(perimeter), rounds O(log chain-in-tiles)) — the packed-count
    O-claim to check with data."""
    images = datagen.images_spark(spark, zones=(30, 31, 27), nx=nx,
                                  ny=ny, n_dates=5, w=64, h=64).cache()
    n = images.count()

    def run():
        return (Pipeline(images)
                .warp(cell_res=datagen.TILE_RES)
                .composite("first")
                .terrain("flowdir")
                .flow_length().df)
    return images, n, run


def irmad_shape(spark, nx: int, ny: int):
    """Two epoch composites → IR-MAD fit (n_iter=1) + applied change
    planes at a given grid size: per-iteration cost is one
    tile_algebra-shaped join + an O(tiles) decimal agg, so wall
    should track the tile count linearly — a hidden pixel collect or
    quadratic agg would show superlinear."""
    images = datagen.images_spark(spark, zones=(30, 31, 27), nx=nx,
                                  ny=ny, n_dates=5, w=64, h=64).cache()
    n = images.count()
    from pyspark.sql import functions as SF

    from vrtility_spark import mad as _mad

    def epoch(pred):
        return (Pipeline(images.filter(pred))
                .warp(cell_res=datagen.TILE_RES)
                .composite("median").df)

    def run():
        early = epoch(SF.month("datetime") <= 4)
        late = epoch(SF.month("datetime") >= 5)
        out, _m = _mad.irmad(early, late, n_iter=1)
        return out
    return images, n, run


def kriging_shape(spark, n_zones: int, per_zone: int = 2000,
                  span: int = 131072):
    """Ordinary kriging (autofit + solve) at constant POINT DENSITY
    over ``n_zones`` independent zones, each holding the same
    deterministic ``per_zone``-point lattice (x is a bijective
    modular map of the in-zone index — coprime multiplier over the
    power-of-two span — so no duplicate coordinates can make an OK
    system singular). Pair volume (density x lag-disk area) and krige
    tile count both scale exactly with the zone count, so wall should
    be linear; superlinear would expose an all-pairs or a
    cross-zone leak."""
    from pyspark.sql import functions as SF

    from vrtility_spark import kriging as _kg

    ids = spark.range(n_zones * per_zone)
    lx = SF.col("id") % per_zone
    pts = ids.select(
        SF.col("id").alias("point_id"),
        (SF.lit(30) + (SF.col("id") / per_zone).cast("long"))
        .alias("zone"),
        ((lx * 40961 + 12289) % span).cast("double").alias("x"),
        ((lx * 24593 + 4099) % span).cast("double").alias("y"),
        (((SF.col("id") * 73 + 29) % 400) / 4.0 + 10.0)
        .alias("value")).cache()
    n = pts.count()

    def run():
        out = _kg.krige_points(pts, datagen.TILE_RES, 16, 16,
                               radius=60000.0, max_lag=60000.0,
                               n_lags=8, max_points=8)
        _force(out)
    return pts, n, run


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    probe0 = kernel_probe()
    spark = get_spark("vrtility-scale-tier", cores=cpus,
                      shuffle_partitions=cpus)
    qs = entrymod.queries()

    # warm up python workers
    def _warm(batches):
        yield from batches
    _force(spark.range(64).repartition(64).mapInPandas(_warm, "id long"))

    scaled_sf = build_scaled_documents(spark)
    base_docs = spark.read.parquet(
        os.path.join(BASE_SF, "documents.parquet")).count()
    scaled_docs = spark.read.parquet(
        os.path.join(scaled_sf, "documents.parquet")).count()

    results: dict[str, dict] = {}
    for key in ("near_dup_clusters", "dedup_corpus"):
        base = time_key(lambda: qs[key](spark, BASE_SF), reps)
        big = time_key(lambda: qs[key](spark, scaled_sf), reps)
        ratio = scaled_docs / base_docs
        results[key] = {
            "base_sec": base, "scaled_sec": big,
            "input_ratio": round(ratio, 3),
            "wall_ratio": round(big / base, 3),
            "wall_per_input": round(big / base / ratio, 3),
        }

    imgs_b, n_b, run_b = polygonize_shape(spark, 8, 8)
    base = time_key(run_b, reps)
    imgs_b.unpersist()
    imgs_s, n_s, run_s = polygonize_shape(spark, 25, 25)
    big = time_key(run_s, reps)
    imgs_s.unpersist()
    ratio = n_s / n_b
    results["image_polygonize_pipeline"] = {
        "base_sec": base, "scaled_sec": big,
        "base_scenes": n_b, "scaled_scenes": n_s,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }
    # ANN training family: train_ivf + train_pq wall vs corpus size.
    # Base is already 10x sf0.1 (20k rows) so the base tier is not
    # fixed-cost-dominated; the scaled tier is 100x (200k rows) —
    # input ratio 10, same as the other families. Both tiers scan a
    # real parquet table, so the cached-projection path (one scan,
    # then in-memory passes) is what's being measured.
    from vrtility_spark import ann as _ann, pq as _pq
    emb_b = spark.read.parquet(build_scaled_embeddings(spark, 10))
    emb_s = spark.read.parquet(build_scaled_embeddings(spark, 100))
    nb, ns = emb_b.count(), emb_s.count()

    def train_both(df):
        def run():
            _ann.train_ivf(df, "embedding", "vec_id", n_clusters=16,
                           iters=2)
            _pq.train_pq(df, "embedding", "vec_id", m=8, ksub=32,
                         iters=2)
        return run
    base = time_call(train_both(emb_b), reps)
    big = time_call(train_both(emb_s), reps)
    ratio = ns / nb
    results["ann_training"] = {
        "base_sec": base, "scaled_sec": big,
        "base_rows": nb, "scaled_rows": ns,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }

    imgs_b, n_b, run_b = flowacc_shape(spark, 8, 8)
    base = time_key(run_b, reps)
    imgs_b.unpersist()
    imgs_s, n_s, run_s = flowacc_shape(spark, 25, 25)
    big = time_key(run_s, reps)
    imgs_s.unpersist()
    ratio = n_s / n_b
    results["image_flowacc_pipeline"] = {
        "base_sec": base, "scaled_sec": big,
        "base_scenes": n_b, "scaled_scenes": n_s,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }

    imgs_b, n_b, run_b = irmad_shape(spark, 8, 8)
    base = time_key(run_b, reps)
    imgs_b.unpersist()
    imgs_s, n_s, run_s = irmad_shape(spark, 25, 25)
    big = time_key(run_s, reps)
    imgs_s.unpersist()
    ratio = n_s / n_b
    results["image_irmad_pipeline"] = {
        "base_sec": base, "scaled_sec": big,
        "base_scenes": n_b, "scaled_scenes": n_s,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }

    pts_b, n_b, run_b = kriging_shape(spark, 1)
    base = time_call(run_b, reps)
    pts_b.unpersist()
    pts_s, n_s, run_s = kriging_shape(spark, 10)
    big = time_call(run_s, reps)
    pts_s.unpersist()
    ratio = n_s / n_b
    results["kriging_pipeline"] = {
        "base_sec": base, "scaled_sec": big,
        "base_points": n_b, "scaled_points": n_s,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }

    imgs_b, n_b, run_b = flowlength_shape(spark, 8, 8)
    base = time_key(run_b, reps)
    imgs_b.unpersist()
    imgs_s, n_s, run_s = flowlength_shape(spark, 25, 25)
    big = time_key(run_s, reps)
    imgs_s.unpersist()
    ratio = n_s / n_b
    results["image_flowlength_pipeline"] = {
        "base_sec": base, "scaled_sec": big,
        "base_scenes": n_b, "scaled_scenes": n_s,
        "input_ratio": round(ratio, 3),
        "wall_ratio": round(big / base, 3),
        "wall_per_input": round(big / base / ratio, 3),
    }

    spark.stop()
    probe1 = kernel_probe()

    out = {"metric": "sf_tier_scaling", "repl": REPL, "cpus": cpus,
           "reps": reps, "probe_start": probe0, "probe_end": probe1,
           "keys": results}
    print(json.dumps(out))

    md = os.path.join(ROOT, "BENCH", "SCALE_TIER.md")
    stamp = os.environ.get("SPARK_GRAFT_TIER_STAMP", "run")
    lines = [f"\n## {stamp} — repl={REPL}, cpus={cpus}, reps={reps}, "
             f"probe {probe0['per_proc_chunks_per_sec_min']}→"
             f"{probe1['per_proc_chunks_per_sec_min']} "
             f"(quiet={probe0['quiet'] and probe1['quiet']})\n",
             "| key | base s | 10x s | input ratio | wall ratio | "
             "wall/input |\n", "|---|---|---|---|---|---|\n"]
    for k, v in results.items():
        lines.append(f"| {k} | {v['base_sec']} | {v['scaled_sec']} | "
                     f"{v['input_ratio']} | {v['wall_ratio']} | "
                     f"{v['wall_per_input']} |\n")
    with open(md, "a") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
