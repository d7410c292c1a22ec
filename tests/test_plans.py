"""Physical-plan quality gates — the scale contract, asserted.

Correctness tests prove the queries return the right rows; these prove
they'd still be the right PLANS at 100 TB: filters reach the parquet
scan (PushedFilters), column pruning reaches ReadSchema, small
dimensions broadcast instead of shuffling, window queries shuffle
exactly once, and the hot relational path stays inside whole-stage
codegen. The reference gets the analogous properties from GDAL
(projwin pushdown R/vrt-warp.R:579-581, band selection
R/vrt-collect.R:113-117); here they must come out of Catalyst — and a
regression that silently un-broadcasts a join or un-pushes a filter
would only show up at scale, so it's pinned here.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from vrtility_spark.storage import explain_str  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return explain_str(entry.queries()[name](spark, SF))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "pricing_summary")
    # ReadSchema must not drag unused wide columns through the scan
    read = plan.split("ReadSchema", 1)[1][:500]
    assert "l_comment" not in read and "l_shipinstruct" not in read


def test_small_dims_broadcast(spark):
    plan = _plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, "local_supplier")
    # nation + region are broadcast; the big fact joins stay shuffled
    assert plan.count("BroadcastHashJoin") >= 2


def test_spatial_join_broadcasts_aoi_cells(spark):
    plan = _plan(spark, "spatial_join")
    assert "BroadcastHashJoin" in plan


def test_window_queries_shuffle_once(spark):
    # single-window rewrites must not reintroduce self-join shuffles
    for name in ("hampel", "moving_avg", "locf", "mosaic_latest"):
        plan = _plan(spark, name)
        n_exchanges = plan.count(") Exchange")  # details-section entries
        assert n_exchanges == 1, f"{name}: {n_exchanges} shuffles"


def test_asof_join_one_shuffle_no_pair_join(spark):
    """asof_join is union + window: exactly ONE Exchange (the window's
    partitioning) and NO join operator — the pair-explosion shape
    (equi-join then top-1) is O(clicks x prior purchases) per key and
    melts down on a hot key at scale."""
    plan = _plan(spark, "asof_join")
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"asof_join: {n_exchanges} shuffles"
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan


def test_rect_aoi_spatial_join_is_udf_free(spark):
    """Rectangle-AOI coverage join must stay entirely JVM-side: the
    exact refine is a clamp expression, so the plan may contain NO
    Python/Arrow evaluation node — at 1e12 scenes an Arrow transfer of
    every matched pair would dominate the join."""
    plan = _plan(spark, "coverage_filter")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_relational_core_stays_in_codegen(spark):
    plan = explain_str(entry.queries()["pricing_summary"](spark, SF),
                       mode="codegen")
    assert "WholeStageCodegen" in plan
    # at least scan→filter→partial-agg fused into one generated stage
    assert "Found" in plan and "subtree" in plan


def test_reproject_cells_stays_in_codegen(spark):
    """Cross-zone reprojection is pure Column arithmetic: exactly the
    two Exchanges a count-distinct aggregation needs (partial on
    (cell, src_zone), final on cell) and no Python evaluation — the
    transform itself adds NO shuffle and NO UDF."""
    plan = _plan(spark, "reproject_cells")
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 2, f"reproject_cells: {n_exchanges} shuffles"
    assert "EvalPython" not in plan


def test_regrid_pipeline_single_shuffle_one_arrow_map(spark):
    """The general-warp pipeline's scale contract, pinned: the
    expression-only cover explode plus mask-fused regrid is ONE Arrow
    map stage with NO Exchange before the composite's single shuffle.
    A second MapInPandas would mean a materialized masked copy; a
    second Exchange would mean the explode shuffled."""
    plan = _plan(spark, "image_regrid_composite")
    assert plan.count(") Exchange") == 1, plan
    assert plan.count(") MapInPandas") == 1, plan
    assert "FlatMapGroupsInArrow" in plan


def test_remedian_single_exchange_streaming_map(spark):
    """The remedian composite is Exchange(cell) → Sort-within →
    streaming MapInPandas — scenes shuffle once and are NEVER grouped
    into a stacked pdf (no FlatMapGroupsInPandas anywhere)."""
    from vrtility_spark import composite, datagen, schema, warp
    images = schema.images_df(
        spark, datagen.images_pandas(nx=2, ny=2, w=16, h=16))
    celled = warp.assign_cells(images, datagen.TILE_RES)
    plan = explain_str(composite.composite_remedian(celled))
    assert plan.count(") Exchange") == 1
    assert plan.count(") MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_trend_partials_shuffle_not_scenes(spark):
    """Incremental trend pins the map-before-exchange shape: the
    narrow accumulator MapInPandas runs BELOW the single Exchange —
    formatted plans number nodes leaf-up, so the map's node number is
    SMALLER — meaning only fixed-size partial rows shuffle."""
    from vrtility_spark import datagen, schema, trend, warp
    images = schema.images_df(
        spark, datagen.images_pandas(nx=2, ny=2, w=16, h=16))
    celled = warp.assign_cells(images, datagen.TILE_RES)
    import re
    plan = explain_str(trend.trend(celled))
    assert plan.count(") Exchange") == 1
    map_n = int(re.search(r"MapInPandas \((\d+)\)", plan).group(1))
    ex_n = int(re.search(r"Exchange \((\d+)\)", plan).group(1))
    assert map_n < ex_n  # map is deeper: it runs before the shuffle


def test_phash_pairs_bucket_join_prunes_payload(spark):
    """Candidate generation is ONE band-bucket join over (id, phash)
    rows — no cartesian product, and the image payload bytes never
    enter the plan."""
    from vrtility_spark import datagen, dedup, schema
    images = schema.images_df(spark, datagen.with_near_duplicates(
        datagen.images_pandas(nx=2, ny=2, w=16, h=16)))
    plan = explain_str(dedup.phash_pairs(images))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    import re
    assert len(re.findall(
        r"^\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan, re.M)) == 1
    for line in plan.splitlines():
        if "LocalTableScan" in line:
            assert "bytes" not in line  # payload pruned at the scan


def test_harmonic_partials_shuffle_not_scenes(spark):
    """Incremental harmonic inherits trend's map-before-exchange
    contract: one Exchange, and the accumulator MapInPandas runs below
    it (fixed-size normal-equation blocks shuffle, scenes don't)."""
    from vrtility_spark import datagen, harmonic, schema, warp
    images = schema.images_df(
        spark, datagen.images_pandas(nx=2, ny=2, w=16, h=16))
    celled = warp.assign_cells(images, datagen.TILE_RES)
    import re
    plan = explain_str(harmonic.harmonic(celled))
    assert plan.count(") Exchange") == 1
    map_n = int(re.search(r"MapInPandas \((\d+)\)", plan).group(1))
    ex_n = int(re.search(r"Exchange \((\d+)\)", plan).group(1))
    assert map_n < ex_n


def test_pansharpen_one_join_one_fused_map(spark):
    """Two-resolution fusion is ONE cell join + ONE Arrow map (the
    upsample lives inside it): a second map would mean an
    intermediate-resolution rewrite, a second join a replan."""
    import re
    import numpy as np
    import pandas as pd
    from vrtility_spark import cells, codec, pansharpen
    rows_ms, rows_pan = [], []
    for ix in (1, 2):
        cid = int(cells.encode_np(30, 3, ix, 1))
        rows_ms.append({"cell_id": cid, "bytes": codec.encode(
            np.ones((2, 4, 4), np.uint16), "raw16"),
            "w": 4, "h": 4, "fmt": "raw16", "nodata": 0.0})
        rows_pan.append({"cell_id": cid, "bytes": codec.encode(
            np.ones((1, 8, 8), np.uint16), "raw16"),
            "w": 8, "h": 8, "fmt": "raw16", "nodata": 0.0})
    sch = ("cell_id long, bytes binary, w int, h int, fmt string, "
           "nodata double")
    out = pansharpen.pansharpen(
        spark.createDataFrame(pd.DataFrame(rows_ms), sch),
        spark.createDataFrame(pd.DataFrame(rows_pan), sch))
    plan = explain_str(out)
    assert plan.count(") MapInPandas") == 1, plan
    assert len(re.findall(
        r"^\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan, re.M)) == 1, plan


def test_proximity_rides_focal_exchange(spark):
    """Proximity = band subset (narrow map) + the focal halo exchange:
    exactly ONE Exchange total — the distance transform adds no
    shuffle of its own — and the grouped assemble is the only stacked
    stage."""
    import numpy as np
    import pandas as pd
    from vrtility_spark import cells, codec, proximity
    rows = [{"cell_id": int(cells.encode_np(30, 3, 1, 1)),
             "bytes": codec.encode(np.ones((2, 8, 8), np.uint16),
                                   "raw16"),
             "w": 8, "h": 8, "fmt": "raw16", "nodata": 0.0}]
    df = spark.createDataFrame(pd.DataFrame(rows),
                               "cell_id long, bytes binary, w int, "
                               "h int, fmt string, nodata double")
    plan = explain_str(proximity.proximity(df, values=[1.0],
                                           max_dist=3.0))
    assert plan.count(") Exchange") == 1, plan
    assert plan.count(") FlatMapGroupsInPandas") == 1, plan


def test_sampling_is_pure_expression_no_shuffle(spark):
    """Hash sampling compiles to Column expressions: no Exchange, no
    Python eval node anywhere — Catalyst keeps the filter in the scan
    stage, the property that makes a 1% sample of 100 TB one pruned
    pass."""
    from vrtility_spark import sampling
    df = spark.range(0, 1000)
    for plan in (
            explain_str(sampling.sample_fraction(df, ["id"], 0.25)),
            explain_str(sampling.assign_splits(
                df, ["id"], {"train": 0.9, "test": 0.1}))):
        assert ") Exchange" not in plan, plan
        assert "EvalPython" not in plan and "MapInPandas" not in plan
