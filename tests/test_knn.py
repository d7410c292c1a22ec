from __future__ import annotations

import numpy as np

import oracle
from vrtility_spark import datagen, knn, schema, warp


def test_knn_matches_bruteforce(spark, tiny_images, tiny_images_pdf):
    queries_pdf = datagen.knn_queries_pandas(n=12)
    queries = schema.knn_df(spark, queries_pdf)
    tiles = warp.assign_cells(tiny_images, datagen.TILE_RES)
    got = knn.knn_tiles(tiles, queries, res=datagen.TILE_RES).toPandas()
    exp = oracle.brute_force_knn(tiny_images_pdf, queries_pdf)
    for q in queries_pdf.itertuples(index=False):
        g = got[got.query_id == q.query_id].sort_values("rank")
        e = exp[q.query_id]
        want_n = min(q.k, len(e))
        assert len(g) == want_n, q.query_id
        # distances must match the true kNN distances (ids may differ
        # only on exact ties, which the fixture avoids)
        np.testing.assert_allclose(g.dist.values,
                                   [d for d, _ in e[:want_n]], rtol=1e-12)
        assert list(g.image_id) == [i for _, i in e[:want_n]]


def test_knn_caption_passthrough(spark, tiny_images, tiny_images_pdf):
    queries = schema.knn_df(spark, datagen.knn_queries_pandas(n=3))
    tiles = warp.assign_cells(tiny_images, datagen.TILE_RES)
    got = knn.knn_tiles(tiles, queries, res=datagen.TILE_RES).toPandas()
    cap = dict(zip(tiny_images_pdf.image_id, tiny_images_pdf.caption))
    assert all(got.caption.iloc[i] == cap[got.image_id.iloc[i]]
               for i in range(len(got)))


def test_knn_randomized_exactness(spark):
    """Seeded random tile sets with clustered + sparse regions and
    random k: the two-phase count/probe search must return exactly the
    brute-force top-k (distances AND ids) every time."""
    import pandas as pd
    from vrtility_spark import cells, schema

    rng = np.random.default_rng(42)
    res = 5
    for trial in range(3):
        n = int(rng.integers(40, 160))
        # half clustered in one corner (hot cells), half uniform (voids)
        xy = np.vstack([
            rng.uniform(0, 2e5, (n // 2, 2)),
            rng.uniform(0, cells.ZONE_SPAN, (n - n // 2, 2)),
        ])
        tiles_pdf = pd.DataFrame({
            "image_id": [f"t{trial}_{i:04d}" for i in range(n)],
            "zone": 30, "xmin": xy[:, 0], "xmax": xy[:, 0],
            "ymin": xy[:, 1], "ymax": xy[:, 1],
            "caption": [f"c{i}" for i in range(n)],
            "phash": np.arange(n, dtype=np.int64),
        })
        tiles_pdf["cell_id"] = cells.xy_to_cell_np(
            30, xy[:, 0], xy[:, 1], res)
        qs = pd.DataFrame({
            "query_id": [f"q{j}" for j in range(5)],
            "zone": 30,
            "x": rng.uniform(0, cells.ZONE_SPAN, 5),
            "y": rng.uniform(0, cells.ZONE_SPAN, 5),
            "k": rng.integers(1, 12, 5),
        })
        got = knn.knn_tiles(
            spark.createDataFrame(tiles_pdf),
            spark.createDataFrame(qs), res=res).toPandas()
        for q in qs.itertuples(index=False):
            d = np.hypot(xy[:, 0] - q.x, xy[:, 1] - q.y)
            order = sorted(range(n), key=lambda i: (d[i], tiles_pdf.image_id[i]))
            want = order[: min(q.k, n)]
            g = got[got.query_id == q.query_id].sort_values("rank")
            assert list(g.image_id) == [tiles_pdf.image_id[i] for i in want]
            np.testing.assert_allclose(g.dist.values, d[want], rtol=1e-12)


def test_auto_radius_clamped_to_max_rings(spark):
    """A sparse tile table at high res makes the density-derived
    initial count radius huge; it must clamp to max_rings so the first
    count round never enumerates a quadratic cell disk driver-side.
    Within the ring budget the answer is the best bounded-partial."""
    import pandas as pd

    from vrtility_spark import cells

    res = 10  # 1024 x 1024 cells per zone
    xy = [(100.0, 100.0), (900000.0, 900000.0), (901000.0, 901000.0)]
    tiles_pdf = pd.DataFrame({
        "image_id": [f"s{i}" for i in range(3)], "zone": 30,
        "xmin": [x for x, _ in xy], "xmax": [x for x, _ in xy],
        "ymin": [y for _, y in xy], "ymax": [y for _, y in xy],
        "caption": ["c"] * 3, "phash": [0, 1, 2],
    })
    tiles_pdf["cell_id"] = cells.xy_to_cell_np(
        30, tiles_pdf.xmin.values, tiles_pdf.ymin.values, res)
    qs = pd.DataFrame({"query_id": ["q0"], "zone": 30,
                       "x": [899000.0], "y": [899000.0], "k": [3]})
    got = knn.knn_tiles(spark.createDataFrame(tiles_pdf),
                        spark.createDataFrame(qs), res=res,
                        max_rings=6).toPandas()
    # the two nearby tiles are inside the 6-ring budget (cell ~1024 m);
    # the far corner tile is not — bounded-partial answer, never a
    # zone-wide enumeration
    assert list(got.sort_values("rank").image_id) == ["s1", "s2"]


def test_distributed_knn_parity_with_driver_loop(spark):
    """knn_tiles_distributed must return the SAME rows as knn_tiles on
    seeded random tile sets (clustered + sparse, random k), including
    the ring-expansion, zone-cover, and max_rings-partial paths."""
    import pandas as pd
    from vrtility_spark import cells

    rng = np.random.default_rng(7)
    res = 5
    for trial, rings in ((0, 64), (1, 64), (2, 1)):  # rings=1: partial
        n = int(rng.integers(40, 160))
        xy = np.vstack([
            rng.uniform(0, 2e5, (n // 2, 2)),
            rng.uniform(0, cells.ZONE_SPAN, (n - n // 2, 2)),
        ])
        tiles_pdf = pd.DataFrame({
            "image_id": [f"t{trial}_{i:04d}" for i in range(n)],
            "zone": 30, "xmin": xy[:, 0], "xmax": xy[:, 0],
            "ymin": xy[:, 1], "ymax": xy[:, 1],
            "caption": [f"c{i}" for i in range(n)],
            "phash": np.arange(n, dtype=np.int64),
        })
        tiles_pdf["cell_id"] = cells.xy_to_cell_np(
            30, xy[:, 0], xy[:, 1], res)
        qs = pd.DataFrame({
            "query_id": [f"q{j}" for j in range(6)],
            "zone": 30,
            "x": rng.uniform(0, cells.ZONE_SPAN, 6),
            "y": rng.uniform(0, cells.ZONE_SPAN, 6),
            "k": rng.integers(1, 12, 6),
        })
        tiles = spark.createDataFrame(tiles_pdf)
        queries = spark.createDataFrame(qs)
        a = sorted(map(tuple, knn.knn_tiles(
            tiles, queries, res=res, max_rings=rings).collect()))
        b = sorted(map(tuple, knn.knn_tiles_distributed(
            tiles, queries, res=res, max_rings=rings).collect()))
        assert a == b and a, (trial, rings)


def test_distributed_knn_never_collects_queries(spark, monkeypatch):
    """10^4 queries: nothing query-sized may reach the driver — the
    only collect() during the call is the 1-row stats aggregate (the
    per-round signal is a scalar count)."""
    import pandas as pd
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F
    from vrtility_spark import cells

    res = 5
    rng = np.random.default_rng(3)
    n = 200
    xy = rng.uniform(0, cells.ZONE_SPAN, (n, 2))
    tiles_pdf = pd.DataFrame({
        "image_id": [f"t{i:04d}" for i in range(n)],
        "zone": 30, "xmin": xy[:, 0], "xmax": xy[:, 0],
        "ymin": xy[:, 1], "ymax": xy[:, 1],
        "caption": "c", "phash": np.arange(n, dtype=np.int64),
    })
    tiles_pdf["cell_id"] = cells.xy_to_cell_np(30, xy[:, 0], xy[:, 1], res)
    tiles = spark.createDataFrame(tiles_pdf)
    # 10^4 queries built DISTRIBUTED from spark.range — never a pandas
    # table, so a driver collect would be the only way they'd leave
    span = float(cells.ZONE_SPAN)
    queries = (spark.range(10_000)
               .select(F.concat(F.lit("q"), F.col("id")).alias("query_id"),
                       F.lit(30).alias("zone"),
                       (F.pmod(F.col("id") * 7919, 10_000)
                        / 10_000.0 * span).alias("x"),
                       (F.pmod(F.col("id") * 104729, 10_000)
                        / 10_000.0 * span).alias("y"),
                       F.lit(3).alias("k")))
    collected = []
    orig = _DF.collect
    monkeypatch.setattr(
        _DF, "collect",
        lambda self: (lambda rows: (collected.append(len(rows)),
                                    rows)[1])(orig(self)))
    out = knn.knn_tiles_distributed(tiles, queries, res=res)
    monkeypatch.undo()
    assert max(collected, default=0) <= 1  # the stats row only
    assert out.count() == 30_000  # every query filled to k=3
    # spot-check one query against brute force
    got = sorted((r["rank"], r["image_id"])
                 for r in out.where("query_id = 'q123'").collect())
    qx, qy = (123 * 7919 % 10_000) / 10_000.0 * span, \
        (123 * 104729 % 10_000) / 10_000.0 * span
    d = np.hypot(xy[:, 0] - qx, xy[:, 1] - qy)
    want = sorted(range(n), key=lambda i: (d[i], tiles_pdf.image_id[i]))[:3]
    assert [i for _, i in got] == [tiles_pdf.image_id[i] for i in want]


def _point_tiles(rng, n, zones, res):
    """``n`` point footprints per zone, half clustered in one corner
    and half uniform, with their cell ids at ``res``."""
    import pandas as pd
    from vrtility_spark import cells

    parts = []
    for z in zones:
        xy = np.vstack([rng.uniform(0, 2e5, (n // 2, 2)),
                        rng.uniform(0, cells.ZONE_SPAN, (n - n // 2, 2))])
        parts.append(pd.DataFrame({
            "image_id": [f"z{z}_{i:04d}" for i in range(n)], "zone": z,
            "xmin": xy[:, 0], "xmax": xy[:, 0],
            "ymin": xy[:, 1], "ymax": xy[:, 1],
            "caption": "c", "phash": np.arange(n, dtype=np.int64),
            "cell_id": cells.xy_to_cell_np(z, xy[:, 0], xy[:, 1], res)}))
    return pd.concat(parts, ignore_index=True)


def _queries(rng, n, zones):
    import pandas as pd
    from vrtility_spark import cells

    return pd.DataFrame({
        "query_id": [f"q{j}" for j in range(n)],
        "zone": rng.choice(zones, n),
        "x": rng.uniform(0, cells.ZONE_SPAN, n),
        "y": rng.uniform(0, cells.ZONE_SPAN, n),
        "k": rng.integers(1, 12, n)})


def test_knn_plan_has_no_python_rdd(spark):
    """The count and probe relations reach Spark through Arrow
    (LocalTableScan), never as a Python RDD (Scan ExistingRDD)."""
    rng = np.random.default_rng(11)
    tiles = spark.createDataFrame(_point_tiles(rng, 200, [30], 6))
    queries = spark.createDataFrame(_queries(rng, 4, [30]))
    out = knn.knn_tiles(tiles, queries, res=6)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_knn_one_query_runs_at_most_seven_jobs(spark):
    rng = np.random.default_rng(12)
    tiles = spark.createDataFrame(_point_tiles(rng, 500, [30], 8)).cache()
    tiles.count()
    queries = spark.createDataFrame(_queries(rng, 1, [30]))
    sc = spark.sparkContext
    sc.setJobGroup("knn-jobs", "one kNN query")
    try:
        rows = knn.knn_tiles(tiles, queries, res=8).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tiles.unpersist()
    assert rows and len(jobs) <= 7, jobs


def test_knn_many_queries_match_bruteforce(spark):
    """256 queries over 3 zones, k in 1..11: the per-query count
    predicates stay exact well past a short probe list."""
    rng = np.random.default_rng(13)
    zones = [30, 31, 32]
    tiles_pdf = _point_tiles(rng, 150, zones, 5)
    qs = _queries(rng, 256, zones)
    got = knn.knn_tiles(spark.createDataFrame(tiles_pdf),
                        spark.createDataFrame(qs), res=5).toPandas()
    exp = oracle.brute_force_knn(tiles_pdf, qs)
    assert len(got) == qs.k.sum()
    for qid, g in got.groupby("query_id"):
        g = g.sort_values("rank")
        assert list(g.image_id) == [i for _, i in exp[qid]], qid
        np.testing.assert_allclose(g.dist.values, [d for d, _ in exp[qid]],
                                   rtol=1e-12)


def test_knn_empty_queries(spark):
    rng = np.random.default_rng(14)
    tiles = spark.createDataFrame(_point_tiles(rng, 20, [30], 5))
    queries = spark.createDataFrame(_queries(rng, 0, [30]),
                                    "query_id string, zone long, x double,"
                                    " y double, k long")
    for search in (knn.knn_tiles, knn.knn_tiles_distributed):
        out = search(tiles, queries, res=5)
        assert out.schema == spark.createDataFrame([], knn._OUT_SCHEMA).schema
        assert out.count() == 0
        # the empty result folds to a LocalRelation: no Python-RDD scan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan


def test_knn_one_pandas_query_runs_at_most_five_jobs(spark):
    """A query frame built from pandas is read to the driver without a
    Spark job: the count job and the probe are all that run."""
    rng = np.random.default_rng(12)
    tiles = spark.createDataFrame(_point_tiles(rng, 500, [30], 8)).cache()
    tiles.count()
    queries = spark.createDataFrame(_queries(rng, 1, [30]))
    sc = spark.sparkContext
    sc.setJobGroup("knn-pandas-jobs", "one pandas-built kNN query")
    try:
        rows = knn.knn_tiles(tiles, queries, res=8).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-pandas-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tiles.unpersist()
    assert rows and len(jobs) <= 5, jobs
