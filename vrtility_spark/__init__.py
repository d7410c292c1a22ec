"""vrtility_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query semantics of
Permian-Global-Research/vrtility (GDAL/VRT earth-observation pipelines)
as a distributed raster<->vector engine over tables of image + caption
rows:

- hierarchical cell indexing (H3/S2-style quadtree over synthetic planar
  zones) — :mod:`vrtility_spark.cells`
- mask kernels (int mask / bitmask / buffered mask) —
  :mod:`vrtility_spark.masks`
- grid alignment ("warp") — :mod:`vrtility_spark.warp`
- temporal compositing (median/mean/geomean/quantile/mean_db, mosaic,
  medoid/quantoid/geomedoid/geomedian) — :mod:`vrtility_spark.composite`
- time-series filtering (Hampel, moving window) —
  :mod:`vrtility_spark.timeseries`
- spatial joins (cell-prefix hash join with salting, point-in-polygon
  refinement, coverage filter) and kNN via ring expansion —
  :mod:`vrtility_spark.join`, :mod:`vrtility_spark.knn`
- checkpoint / lineage snapshots — :mod:`vrtility_spark.lineage`
- a composable pipeline facade mirroring the reference's vrt_* verbs —
  :mod:`vrtility_spark.pipeline`

Everything is DataFrame-first: plans are built from built-in
``pyspark.sql.functions`` wherever semantics allow (Catalyst codegen),
and drop to Arrow-vectorized ``pandas_udf`` / ``applyInPandas`` /
``applyInArrow`` only for pixel-space kernels; the grouped time-stack
operators read their cells straight from Arrow
(:func:`vrtility_spark.composite.cell_stack`). No per-row Python UDFs
anywhere.
"""

__version__ = "0.1.0"

# session: inside a PySpark worker, importing it installs the archive
# re-read guard (see its docstring)
from vrtility_spark import cells, codec, session  # noqa: F401
