"""Table layout: partition spec + pruned scans.

At 10^12 images the scan must prune, not filter: the reference pushes
bbox+datetime to the STAC server and windows reads with projwin
(R/stac-utils.R:211-218, R/vrt-warp.R:579-581); the Spark equivalent is
a *partition spec designed so Catalyst prunes directories* and parquet
min/max stats skip row groups.

Layout: ``/zone=Z/cell_prefix=P/*.parquet``, rows sorted within files
by (cell_id, datetime):

- ``zone`` (≤60 values) and ``cell_prefix`` (coarse cell, ~256 children
  each) give directory-level pruning for any AOI query;
- the within-file sort gives row-group min/max skipping on ``cell_id``
  and ``datetime`` — the same two axes every engine query filters on.

``scan_bbox`` turns a bbox query into (a) a partition-column predicate
(pruning), (b) a cell_id range predicate (row-group skipping), and (c)
the exact bbox refine — all before any pixel bytes are touched.

``write_images`` also records the table's read schema, as Spark infers
it right after the write (``zone`` int), in ``<path>/_read_schema.json``;
Spark's file listing skips names that start with ``_``. ``read_images``
and ``scan_bbox`` read with it, so a scan lists the directories and
runs no job to infer the schema from a parquet footer. A table without
the file (written before it existed, or by other means) is read with
inference; an empty frame writes no parquet file, so nothing is
recorded. The file is written and read through the Hadoop FileSystem,
so it works on any path Spark can write.
"""

from __future__ import annotations

import json

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vrtility_spark.cells import cover_bbox_np, parent_np
from vrtility_spark.warp import assign_cells


SCHEMA_FILE = "_read_schema.json"


def _schema_file(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` and ``Path`` of ``path``'s schema file."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path, SCHEMA_FILE)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_images(df: DataFrame, path: str, cell_res: int, prefix_k: int = 2,
                 mode: str = "overwrite") -> None:
    """Write an images table with the pruning-oriented layout, and
    record its read schema (module docstring)."""
    out = assign_cells(df, cell_res, prefix_k)
    (out.repartition("zone", "cell_prefix")
        .sortWithinPartitions("cell_id", "datetime")
        .write.mode(mode)
        .partitionBy("zone", "cell_prefix")
        .parquet(path))
    spark = df.sparkSession
    try:
        text = spark.read.parquet(path).schema.json()
    except AnalysisException:  # an empty frame writes no file to infer from
        return
    fs, p = _schema_file(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode()))
    finally:
        stream.close()


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """The images table at ``path``, read with its recorded schema, or
    with inference when it has none."""
    fs, p = _schema_file(spark, path)
    if not fs.exists(p):
        return spark.read.parquet(path)
    stream = fs.open(p)
    try:
        text = bytes(spark._jvm.org.apache.hadoop.io.IOUtils
                     .readFullyToByteArray(stream)).decode()
    finally:
        stream.close()
    return spark.read.schema(StructType.fromJson(json.loads(text))) \
        .parquet(path)


def write_images_bucketed(df: DataFrame, table: str, cell_res: int,
                          n_buckets: int = 16, prefix_k: int = 2,
                          mode: str = "overwrite") -> None:
    """Bucketed layout for CO-LOCATED cell joins: hash-bucket on
    ``cell_prefix`` with an in-bucket sort. Two tables bucketed the
    same way join / aggregate on ``cell_prefix`` with **zero
    Exchange** — at 10^12 rows the repeated join shuffle is the cost
    this kills (SURVEY.md §2.3: "co-located joins via bucketing").
    Bucket count is a table property; pick it once per deployment so
    every producer matches."""
    out = assign_cells(df, cell_res, prefix_k)
    (out.write.mode(mode).format("parquet")
        .bucketBy(n_buckets, "cell_prefix")
        .sortBy("cell_prefix", "cell_id")
        .saveAsTable(table))


def read_images_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def scan_bbox(spark: SparkSession, path: str, zone: int,
              xmin: float, ymin: float, xmax: float, ymax: float,
              cell_res: int, prefix_k: int = 2,
              t0=None, t1=None,
              max_footprint_edge: float = 0.0) -> DataFrame:
    """Pruned scan of all scenes whose footprint may intersect the bbox.

    The candidate ``cell_prefix`` list is computed driver-side from the
    bbox (tiny), giving an `IN` predicate on partition columns that
    Catalyst turns into directory pruning; the exact bbox test runs
    only on surviving rows.

    ``cell_prefix`` derives from a scene's footprint CENTER, so the
    prefix list must cover every center a bbox-intersecting scene can
    have. Grid-aligned tiles (footprint == one cell at ``cell_res``)
    need no slack; for ARBITRARY footprints pass the table's maximum
    footprint edge length as ``max_footprint_edge`` — the bbox is
    expanded by half of it before the cover, since an intersecting
    scene's center lies within half its edge of the bbox. Without it,
    a scene straddling the bbox edge with its center in a neighbouring
    prefix cell would be pruned away before the exact refine.
    """
    e2 = float(max_footprint_edge) / 2.0
    prefixes = sorted(set(parent_np(
        cover_bbox_np(zone, xmin - e2, ymin - e2, xmax + e2, ymax + e2,
                      cell_res), prefix_k
    ).tolist()))
    df = read_images(spark, path)
    df = df.where((F.col("zone") == zone) & F.col("cell_prefix").isin(prefixes))
    df = df.where(~((F.col("xmax") <= xmin) | (F.col("xmin") >= xmax)
                    | (F.col("ymax") <= ymin) | (F.col("ymin") >= ymax)))
    if t0 is not None:
        df = df.where(F.col("datetime") >= t0)
    if t1 is not None:
        df = df.where(F.col("datetime") < t1)
    return df


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture .explain() output (for plan-assertion tests)."""
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()
