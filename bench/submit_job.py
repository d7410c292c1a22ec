#!/usr/bin/env python
"""spark-submit entrypoint (the cluster launch path of BASELINE.json).

Packaging + launch:

    cd /root/repo && zip -r /tmp/vrtility_spark.zip vrtility_spark
    spark-submit --master <cluster-or-local[N]> \
        --py-files /tmp/vrtility_spark.zip \
        bench/submit_job.py --job composite --reducer geomedian \
        --nx 16 --ny 16 --px 96 --out /tmp/composite_out

Under spark-submit, SparkSession config (master, executors) comes from
the launcher; this script only declares the job. It runs the same
pipeline the library exposes, writes results + a per-partition lineage
snapshot, and prints one JSON status line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# driver-side import works both under spark-submit --py-files and as a
# plain script run from anywhere; executors get the package from
# --py-files (cluster) or session.ship_package (local)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=["composite", "bounded", "hampel", "join", "knn"],
                    default="composite")
    ap.add_argument("--reducer", default="geomedian")
    ap.add_argument("--budget", type=int, default=None,
                    help="bounded job: per-cell stack budget in bytes "
                         "(composite.MAX_STACK_BYTES default)")
    ap.add_argument("--nx", type=int, default=8)
    ap.add_argument("--ny", type=int, default=8)
    ap.add_argument("--px", type=int, default=64)
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip partitions already committed to --out")
    args = ap.parse_args()

    spark = SparkSession.builder.appName(f"vrtility-{args.job}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from vrtility_spark import composite, datagen, knn, lineage, schema, timeseries, warp
    from vrtility_spark.join import spatial_join
    from vrtility_spark.masks import vrt_set_maskfun

    images = datagen.images_spark(
        spark, nx=args.nx, ny=args.ny, w=args.px, h=args.px,
        partitions=spark.sparkContext.defaultParallelism * 2)
    celled = warp.assign_cells(images, datagen.TILE_RES)

    t0 = time.perf_counter()
    if args.job == "composite":
        masked = vrt_set_maskfun(celled, "int", datagen.S2_MASK_VALUES)
        result = composite.composite(masked, args.reducer)
        tbl = lineage.SnapshotTable(args.out)
        if args.resume:
            result = tbl.remaining(result, "cell_id")
        manifest = tbl.commit(result, "cell_id")
        n = sum(p["rows"] for p in manifest["partitions"].values())
    elif args.job == "bounded":
        # RAM-budgeted composite: measures group sizes, splits to child
        # cells if needed, reassembles — the cluster-shaped entry point
        # for the tiling policy (composite_auto)
        masked = vrt_set_maskfun(celled, "int", datagen.S2_MASK_VALUES)
        kw = {} if args.budget is None else {"max_stack_bytes": args.budget}
        result = composite.composite_auto(masked, args.reducer, **kw)
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    elif args.job == "hampel":
        result = timeseries.hampel(celled, k=1, t0=3.0)
        result.write.mode("overwrite").partitionBy("datetime").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    elif args.job == "join":
        aoi = schema.aoi_df(spark, datagen.aoi_pandas(nx=args.nx, ny=args.ny))
        result = spatial_join(images, aoi, n_salts=8, broadcast_aoi=False)
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:  # knn
        q = schema.knn_df(spark, datagen.knn_queries_pandas(n=50))
        result = knn.knn_tiles(celled, q, res=datagen.TILE_RES)
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()

    print(json.dumps({
        "job": args.job, "rows": int(n),
        "wall_sec": round(time.perf_counter() - t0, 3),
        "parallelism": spark.sparkContext.defaultParallelism,
    }))


if __name__ == "__main__":
    main()
