from __future__ import annotations

import numpy as np
import pytest

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
    """Seeded random catalogs over 3 zones (one of them empty), cached,
    with clustered + sparse regions, tiles stacked on one point, k = 0,
    k above the zone's tile count and ties across the K cut: every call
    returns exactly the brute-force top-k (distances AND ids), also the
    calls that read the count index built by an earlier call."""
    import pandas as pd
    from vrtility_spark import cells

    rng = np.random.default_rng(42)
    res, zones = 5, [30, 31, 32]
    c, d = 5.0e5, 1.0e4  # four tiles at distance d from (c, c)
    for trial in range(3):
        tiles_pdf = _point_tiles(rng, int(rng.integers(40, 160)),
                                 zones[:2], res)
        x = np.array([c + d, c - d, c, c, c, c])
        y = np.array([c, c, c + d, c - d, c, c])
        ties = pd.DataFrame({
            "image_id": [f"tie{i}" for i in (3, 1, 4, 2, 0, 5)], "zone": 31,
            "xmin": x, "xmax": x, "ymin": y, "ymax": y, "caption": "c",
            "phash": np.arange(6), "cell_id": cells.xy_to_cell_np(31, x, y,
                                                                  res)})
        tiles_pdf = pd.concat([tiles_pdf, ties], ignore_index=True)
        tiles_pdf["image_id"] = [f"t{trial}_{i}" for i in tiles_pdf.image_id]
        tiles = spark.createDataFrame(tiles_pdf).cache()
        n_max = int(tiles_pdf.zone.value_counts().max())
        try:
            for call in range(3):
                qs = _queries(rng, 10, zones if call else zones[:1])
                qs["query_id"] = [f"c{call}_{i}" for i in qs.query_id]
                qs.loc[0, "k"] = 0
                qs.loc[1, "k"] = n_max + 5
                qs.loc[2, ["zone", "x", "y", "k"]] = [31, c, c, 2 + call]
                got = knn.knn_tiles(tiles, spark.createDataFrame(qs),
                                    res=res).toPandas()
                exp = oracle.brute_force_knn(tiles_pdf, qs)
                assert len(got) == sum(map(len, exp.values())), (trial, call)
                for qid, want in exp.items():
                    g = got[got.query_id == qid].sort_values("rank")
                    assert list(g.image_id) == [i for _, i in want], qid
                    np.testing.assert_allclose(
                        g.dist.values, [dd for dd, _ in want], rtol=1e-12)
        finally:
            tiles.unpersist()


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


def test_knn_one_spark_query_runs_at_most_four_jobs(spark):
    """A query frame that Spark has to compute costs one collect job on
    top of the count job and the probe scan."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(12)
    tiles = spark.createDataFrame(_point_tiles(rng, 500, [30], 8)).cache()
    tiles.count()
    queries = spark.range(1).select(
        F.lit("q0").alias("query_id"), F.lit(30).alias("zone"),
        F.lit(4.0e5).alias("x"), F.lit(6.0e5).alias("y"), F.lit(5).alias("k"))
    sc = spark.sparkContext
    sc.setJobGroup("knn-jobs", "one kNN query")
    try:
        rows = knn.knn_tiles(tiles, queries, res=8).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tiles.unpersist()
    assert len(rows) == 5 and len(jobs) <= 4, jobs


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


def test_knn_one_pandas_query_runs_at_most_three_jobs(spark):
    """A query frame built from pandas is read to the driver without a
    Spark job: the count job and the probe scan are all that run, and
    reading the driver-built result runs none."""
    rng = np.random.default_rng(12)
    tiles = spark.createDataFrame(_point_tiles(rng, 500, [30], 8)).cache()
    tiles.count()
    queries = spark.createDataFrame(_queries(rng, 1, [30]))
    sc = spark.sparkContext
    sc.setJobGroup("knn-pandas-jobs", "one pandas-built kNN query")
    try:
        out = knn.knn_tiles(tiles, queries, res=8)
        searched = len(sc.statusTracker().getJobIdsForGroup("knn-pandas-jobs"))
        rows = out.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-pandas-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tiles.unpersist()
    assert rows and len(jobs) <= 3 and len(jobs) == searched, jobs


def test_knn_ties_come_back_in_image_id_order(spark):
    """Tiles at one distance rank by ``image_id``, across the K cut too,
    as the rank window of the distributed path orders them."""
    import pandas as pd
    from vrtility_spark import cells

    c, d = 5.0e5, 1.0e4
    x = np.array([c + d, c - d, c, c, c + 3 * d])
    y = np.array([c, c, c + d, c - d, c])
    tiles = spark.createDataFrame(pd.DataFrame({
        "image_id": ["t3", "t1", "t4", "t2", "t0"], "zone": 30,
        "xmin": x, "xmax": x, "ymin": y, "ymax": y, "caption": "c",
        "phash": np.arange(5), "cell_id": cells.xy_to_cell_np(30, x, y, 6)}))
    queries = spark.createDataFrame(pd.DataFrame(
        {"query_id": ["q"], "zone": [30], "x": [c], "y": [c], "k": [3]}))
    for search in (knn.knn_tiles, knn.knn_tiles_distributed):
        got = sorted((r["rank"], r.image_id, r.dist)
                     for r in search(tiles, queries, res=6).collect())
        assert got == [(1, "t1", d), (2, "t2", d), (3, "t3", d)], search


def test_knn_duplicate_query_id_raises(spark):
    """Two query rows that share an id would be ranked together, each
    getting a top-K mixed from the other's tiles."""
    import pandas as pd

    rng = np.random.default_rng(15)
    tiles = spark.createDataFrame(_point_tiles(rng, 300, [30], 6))
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": ["q", "q", "p"], "zone": 30, "x": [1e5, 5e5, 3e5],
        "y": [1e5, 5e5, 3e5], "k": 3}))
    with pytest.raises(ValueError, match=r"duplicate query_id \['q'\]"):
        knn.knn_tiles(tiles, queries, res=6)


def test_knn_query_outside_zone_extent_raises(spark):
    """The ring bound assumes the query point lies inside the cell it
    was mapped to. A point west of its zone used to be clipped to a
    column-0 cell and got A0 A1 A2, where brute force says B0 A0 A1;
    such a query, or a NaN one, is rejected by both paths."""
    import pandas as pd
    from vrtility_spark import cells

    size = cells.cell_size(6)
    x = np.array([2.5, 2.5, 2.5, 0.5]) * size
    y = np.array([30.5, 30.5, 30.5, 40.5]) * size
    tiles = spark.createDataFrame(pd.DataFrame({
        "image_id": ["A0", "A1", "A2", "B0"], "zone": 30,
        "xmin": x, "xmax": x, "ymin": y, "ymax": y, "caption": "c",
        "phash": np.arange(4), "cell_id": cells.xy_to_cell_np(30, x, y, 6)}))
    span = cells.ZONE_SPAN
    bad = pd.DataFrame({
        "query_id": ["west", "ok", "nan", "east"], "zone": 30,
        "x": [-1e6, 1e5, np.nan, span], "y": [30.5 * size, 1e5, 1e5, 1e5],
        "k": 3})
    with pytest.raises(ValueError, match=r"\['east', 'nan', 'west'\]"):
        knn.knn_tiles(tiles, spark.createDataFrame(bad), res=6)
    with pytest.raises(ValueError, match=r"3 queries .* 'east'"):
        knn.knn_tiles_distributed(tiles, spark.createDataFrame(bad), res=6)


def _catalog(rng, near: bool):
    """Zone-30 point tiles at res 6: 40 tiles inside 2 km of (5e5, 5e5)
    when ``near``, else 12 tiles at least 200 km from it."""
    import pandas as pd
    from vrtility_spark import cells

    if near:
        xy = 5e5 + rng.uniform(-2e3, 2e3, (40, 2))
    else:
        a = rng.uniform(0, 2 * np.pi, 12)
        xy = 5e5 + np.c_[np.cos(a), np.sin(a)] * rng.uniform(2e5, 4e5, (12, 1))
    return pd.DataFrame({
        "image_id": [f"{'dn'[near]}{i:02d}" for i in range(len(xy))],
        "zone": 30, "xmin": xy[:, 0], "xmax": xy[:, 0],
        "ymin": xy[:, 1], "ymax": xy[:, 1], "caption": "c",
        "phash": np.arange(len(xy), dtype=np.int64),
        "cell_id": cells.xy_to_cell_np(30, xy[:, 0], xy[:, 1], 6)})


def _top(rows):
    return [(r.query_id, r["rank"], r.image_id, round(r.dist, 6))
            for r in sorted(rows, key=lambda r: (r.query_id, r["rank"]))]


def _want(tiles_pdf, qs):
    return sorted((qid, j + 1, i, round(d, 6))
                  for qid, ds in oracle.brute_force_knn(tiles_pdf, qs).items()
                  for j, (d, i) in enumerate(ds))


_QUERY = {"query_id": ["q"], "zone": [30], "x": [5e5], "y": [5e5], "k": [5]}


def test_knn_index_dies_with_its_cache_entry(spark, tmp_path):
    """A catalog dense near the query is cached, queried (and indexed),
    unpersisted and overwritten on disk by one sparse near it. The new
    read plans like the old one, so counts kept for the plan would give
    r0 = 0 and a probe that misses every true neighbour; a new cache
    entry starts a new index."""
    import pandas as pd

    rng = np.random.default_rng(16)
    path = tmp_path / "catalog"
    qs = pd.DataFrame(_QUERY)
    for near in (True, False):
        pdf = _catalog(rng, near)
        path.mkdir(exist_ok=True)
        pdf.to_parquet(path / "part-0.parquet", index=False)
        tiles = spark.read.parquet(str(path)).cache()
        try:
            got = knn.knn_tiles(tiles, spark.createDataFrame(qs), res=6)
            assert _top(got.collect()) == _want(pdf, qs), near
        finally:
            tiles.unpersist()


_NEW_SESSION_SCRIPT = """
import json, sys
import numpy as np, pandas as pd
sys.path.insert(0, sys.argv[1])
import test_knn as t
from vrtility_spark import knn
from vrtility_spark.session import get_spark

out = []
for near in (True, False):
    spark = get_spark("knn-index", cores=1, shuffle_partitions=2)
    pdf = t._catalog(np.random.default_rng(17), near)
    tiles = spark.createDataFrame(pdf).cache()
    qs = pd.DataFrame(t._QUERY)
    got = knn.knn_tiles(tiles, spark.createDataFrame(qs), res=6).collect()
    out.append({"key": list(knn._cache_key(tiles, 6)),
                "got": t._top(got), "want": t._want(pdf, qs)})
    spark.stop()
print(json.dumps(out))
"""


def test_knn_index_not_reused_by_a_new_session():
    """RDD ids restart with each SparkContext: the sparse catalog of a
    second session gets the cache RDD id of the first session's dense
    one. Its own application id keeps it off the stale counts. Runs in
    its own interpreter, since only one SparkContext may live in a
    process."""
    import json
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ, PYTHONPATH=os.path.dirname(here),
               SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, "-c", _NEW_SESSION_SCRIPT, here],
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    a, b = json.loads(r.stdout.strip().splitlines()[-1])
    assert a["key"][1:] == b["key"][1:] and a["key"][0] != b["key"][0]
    for run in (a, b):
        assert [tuple(x) for x in run["got"]] == \
            [tuple(x) for x in run["want"]]


def test_knn_indexed_zone_query_runs_one_job(spark):
    """On a cached catalog the first query that reaches a zone counts
    it (≤ 3 jobs with the probe); a later query in that zone reads the
    count index and runs only the probe scan."""
    import pandas as pd

    rng = np.random.default_rng(18)
    tiles = spark.createDataFrame(_point_tiles(rng, 300, [30, 31], 6)).cache()
    tiles.count()
    sc = spark.sparkContext
    jobs = []
    try:
        for i, (zone, x) in enumerate([(30, 4e5), (30, 7e5), (31, 2e5)]):
            queries = spark.createDataFrame(pd.DataFrame({
                "query_id": [f"q{i}"], "zone": [zone], "x": [x],
                "y": [6e5], "k": [4]}))
            sc.setJobGroup(f"knn-index-{i}", "one kNN query")
            rows = knn.knn_tiles(tiles, queries, res=6).collect()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(
                f"knn-index-{i}")))
            assert len(rows) == 4
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tiles.unpersist()
    assert jobs[0] <= 3 and jobs[1] == 1 and jobs[2] <= 3, jobs
