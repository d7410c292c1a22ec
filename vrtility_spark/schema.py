"""Canonical schemas + nodata conventions (SURVEY.md §1.2).

The input table is the ``input_hint`` shape of BASELINE.json —
``(image_id, bytes, w, h, fmt, caption, phash)`` — plus the derived
metadata the reference carries per vrt_block
(/root/reference/R/vrt-block.R:25-40): datetime, srs/zone, bbox, res,
bands, nodata, scale/offset, and catalog columns (cloud_cover,
platform, orbit_state).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
    T.StructField("datetime", T.TimestampType(), True),
    T.StructField("srs", T.StringType(), True),
    T.StructField("zone", T.LongType(), True),
    T.StructField("xmin", T.DoubleType(), True),
    T.StructField("ymin", T.DoubleType(), True),
    T.StructField("xmax", T.DoubleType(), True),
    T.StructField("ymax", T.DoubleType(), True),
    T.StructField("res_x", T.DoubleType(), True),
    T.StructField("res_y", T.DoubleType(), True),
    T.StructField("bands", T.ArrayType(T.StringType()), True),
    T.StructField("nodata", T.DoubleType(), True),
    T.StructField("scale", T.DoubleType(), True),
    T.StructField("offset", T.DoubleType(), True),
    # per-band metadata aligned with ``bands`` — the reference carries
    # scale/offset per band (R/vrt-collect.R:139-148) and
    # type-dependent nodata per band (R/gdalraster-tools.R:118-135);
    # null arrays fall back to the scalar columns above
    T.StructField("band_scale", T.ArrayType(T.DoubleType()), True),
    T.StructField("band_offset", T.ArrayType(T.DoubleType()), True),
    T.StructField("band_nodata", T.ArrayType(T.DoubleType()), True),
    T.StructField("cloud_cover", T.DoubleType(), True),
    T.StructField("platform", T.StringType(), True),
    T.StructField("orbit_state", T.StringType(), True),
])

AOI_SCHEMA = T.StructType([
    T.StructField("aoi_id", T.StringType(), False),
    T.StructField("srs", T.StringType(), True),
    T.StructField("geom_wkt", T.StringType(), False),
    T.StructField("xmin", T.DoubleType(), True),
    T.StructField("ymin", T.DoubleType(), True),
    T.StructField("xmax", T.DoubleType(), True),
    T.StructField("ymax", T.DoubleType(), True),
    T.StructField("min_coverage", T.DoubleType(), True),
])

KNN_QUERY_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType(), False),
    T.StructField("srs", T.StringType(), True),
    T.StructField("zone", T.LongType(), False),
    T.StructField("x", T.DoubleType(), False),
    T.StructField("y", T.DoubleType(), False),
    T.StructField("k", T.IntegerType(), False),
])

# type-dependent nodata defaults, mirroring
# /root/reference/R/gdalraster-tools.R:118-135
DEFAULT_NODATA = {
    "uint8": 255.0, "int8": -128.0,
    "uint16": 65535.0, "int16": -32768.0,
    "uint32": 4294967293.0, "int32": -2147483647.0,
    "float32": float("nan"), "float64": float("nan"),
}


def images_df(spark, pdf, extra_cols=()):
    """pandas fixture → Spark DataFrame with the canonical schema.

    The ``aoi``/``zone`` split exists because a Spark schema is static
    while the reference discovers band layout dynamically
    (SURVEY.md §1.3)."""
    cols = [f.name for f in IMAGE_SCHEMA.fields] + list(extra_cols)
    schema = T.StructType(
        [f for f in IMAGE_SCHEMA.fields] +
        [T.StructField(c, T.DoubleType()) for c in extra_cols])
    return spark.createDataFrame(pdf[cols], schema=schema)


def aoi_df(spark, pdf):
    pdf = pdf.copy()
    pdf["zone"] = pdf["srs"].str.split(":").str[1].astype("int64")
    schema = T.StructType(AOI_SCHEMA.fields + [T.StructField("zone", T.LongType())])
    return spark.createDataFrame(
        pdf[[f.name for f in schema.fields]], schema=schema)


def knn_df(spark, pdf):
    return spark.createDataFrame(
        pdf[[f.name for f in KNN_QUERY_SCHEMA.fields]], schema=KNN_QUERY_SCHEMA)


def driver_frame(df) -> pd.DataFrame:
    """A small frame's rows on the driver, as pandas.

    Built on ``collect()``: a frame made from a non-empty pandas frame
    (Arrow) plans as a ``LocalRelation``, whose rows ``collect()``
    returns without a Spark job, while ``toPandas()`` always runs one.
    Any other frame costs the one job either way."""
    return pd.DataFrame.from_records([tuple(r) for r in df.collect()],
                                     columns=df.columns)


def empty_frame(df, ddl: str):
    """An empty frame with the columns of ``ddl``, planned from ``df``.

    The always-false filter folds the plan to an empty
    ``LocalRelation``, which runs no task. ``createDataFrame`` of an
    empty list or an empty pandas frame plans as a Python RDD instead,
    and starts Python workers to return nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string
    return df.where(F.lit(False)).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in _parse_datatype_string(ddl).fields])
