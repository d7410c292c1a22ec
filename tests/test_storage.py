"""Partition layout: pruning must fire (the 100-TB design check —
a scan that reads every directory for a one-zone bbox query is wrong
regardless of result correctness)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vrtility_spark import datagen, schema, storage


def test_partitioned_write_and_pruned_scan(spark, tiny_images, tiny_images_pdf,
                                           tmp_path):
    path = str(tmp_path / "images_tbl")
    storage.write_images(tiny_images, path, cell_res=datagen.TILE_RES)
    # layout: zone=.../cell_prefix=...
    zones = [d for d in os.listdir(path) if d.startswith("zone=")]
    assert sorted(zones) == ["zone=27", "zone=30", "zone=31"]
    sub = os.listdir(os.path.join(path, zones[0]))
    assert any(d.startswith("cell_prefix=") for d in sub)

    # pruned scan for a bbox inside zone 30 covering tile (0,0) only
    S = datagen.TILE_SPAN
    df = storage.scan_bbox(spark, path, zone=30, xmin=0.1 * S, ymin=0.1 * S,
                           xmax=0.9 * S, ymax=0.9 * S,
                           cell_res=datagen.TILE_RES)
    got = df.select("image_id").toPandas()
    exp = tiny_images_pdf[(tiny_images_pdf.zone == 30)
                          & (tiny_images_pdf.xmin == 0.0)
                          & (tiny_images_pdf.ymin == 0.0)]
    assert sorted(got.image_id) == sorted(exp.image_id)

    # the physical plan must show partition-level pruning, not a filter
    plan = storage.explain_str(df)
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell_prefix" in m.group(1) and "zone" in m.group(1)


def test_time_pruning(spark, tiny_images, tmp_path):
    path = str(tmp_path / "images_tbl2")
    storage.write_images(tiny_images, path, cell_res=datagen.TILE_RES)
    S = datagen.TILE_SPAN
    df = storage.scan_bbox(spark, path, 30, 0, 0, 2 * S, 2 * S,
                           cell_res=datagen.TILE_RES,
                           t0="2024-04-01", t1="2024-08-01")
    dts = {str(r.datetime.date()) for r in df.select("datetime").collect()}
    assert dts == {"2024-05-01", "2024-07-01"}
    plan = storage.explain_str(df)
    assert "PushedFilters" in plan and "datetime" in plan

def test_bucketed_join_has_zero_exchange(spark, tiny_images):
    """Two tables bucketed on cell_prefix join and aggregate with NO
    shuffle — the co-located-join contract that matters at 10^12 rows."""
    from vrtility_spark import storage
    from vrtility_spark.datagen import TILE_RES
    import shutil
    spark.sql("drop table if exists imgs_a")
    spark.sql("drop table if exists imgs_b")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in ("imgs_a", "imgs_b"):
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    storage.write_images_bucketed(tiny_images, "imgs_a", TILE_RES, n_buckets=4)
    storage.write_images_bucketed(tiny_images.limit(30), "imgs_b", TILE_RES,
                                  n_buckets=4)
    a = storage.read_images_table(spark, "imgs_a").select(
        "cell_prefix", "image_id")
    b = storage.read_images_table(spark, "imgs_b").select(
        "cell_prefix", F.col("image_id").alias("b_id"))
    joined = a.join(b, "cell_prefix")
    plan = storage.explain_str(joined)
    assert ") Exchange" not in plan, plan
    assert joined.count() > 0
    agg = storage.read_images_table(spark, "imgs_a") \
        .groupBy("cell_prefix").count()
    assert ") Exchange" not in storage.explain_str(agg)


def test_recorded_schema_scan_runs_one_job(spark, tiny_images, tmp_path):
    """``write_images`` records the read schema, so a pruned scan runs
    one Spark job (no footer read to infer it) and returns what an
    inferred read returns; without the record it falls back to
    inference with the same rows."""
    import re

    path = str(tmp_path / "images_schema")
    storage.write_images(tiny_images, path, cell_res=datagen.TILE_RES)
    S = datagen.TILE_SPAN
    box = dict(zone=30, xmin=0.1 * S, ymin=0.1 * S, xmax=1.9 * S,
               ymax=0.9 * S, cell_res=datagen.TILE_RES)
    sc = spark.sparkContext
    sc.setJobGroup("scan-jobs", "one pruned scan")
    try:
        df = storage.scan_bbox(spark, path, **box)
        rows = df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("scan-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs

    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert dict(inferred.dtypes)["zone"] == "int"
    want = inferred.where((F.col("zone") == 30) & ~(
        (F.col("xmax") <= box["xmin"]) | (F.col("xmin") >= box["xmax"])
        | (F.col("ymax") <= box["ymin"]) | (F.col("ymin") >= box["ymax"])))
    assert rows and sorted(rows) == sorted(want.collect())  # by image_id
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", storage.explain_str(df))
    assert m and "cell_prefix" in m.group(1) and "zone" in m.group(1)

    os.remove(os.path.join(path, storage.SCHEMA_FILE))
    fallback = storage.scan_bbox(spark, path, **box)
    assert fallback.schema == inferred.schema
    assert sorted(fallback.collect()) == sorted(rows)


def test_empty_write_records_no_schema(spark, tiny_images, tmp_path):
    """An empty frame writes no parquet file, so there is no schema to
    infer or record; the write still succeeds."""
    path = str(tmp_path / "images_empty")
    storage.write_images(tiny_images.limit(0), path, cell_res=datagen.TILE_RES)
    assert not os.path.exists(os.path.join(path, storage.SCHEMA_FILE))
