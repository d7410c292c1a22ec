"""Spatial join: exact row-set match vs the brute-force oracle
(the BASELINE.json 'join output rows must match exactly' invariant)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import oracle
from vrtility_spark import datagen, schema
from vrtility_spark import join as J
from vrtility_spark import lineage


def test_clip_area_rect():
    ring = J.parse_wkt_polygon("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert J.polygon_area(ring) == 100
    clipped = J.clip_polygon_rect(ring, 5, 5, 20, 20)
    assert J.polygon_area(clipped) == 25
    assert len(J.clip_polygon_rect(ring, 20, 20, 30, 30)) == 0


def test_clip_concave():
    # L-shape, area 3; clip to its bbox is identity
    wkt = "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))"
    assert abs(J.intersection_area_wkt(wkt, 0, 0, 2, 2) - 3.0) < 1e-12
    assert abs(J.intersection_area_wkt(wkt, 0, 0, 1, 1) - 1.0) < 1e-12
    # clip window over the notch
    assert abs(J.intersection_area_wkt(wkt, 1, 1, 2, 2) - 0.0) < 1e-12


def test_pip():
    ring = J.parse_wkt_polygon("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    xs = np.array([1.0, 5.0, 3.9])
    ys = np.array([1.0, 1.0, 3.9])
    assert (J.points_in_polygon_np(xs, ys, ring) == [True, False, True]).all()


def test_spatial_join_matches_bruteforce(spark, tiny_images, tiny_aoi,
                                         tiny_images_pdf, tiny_aoi_pdf):
    got = J.spatial_join(tiny_images, tiny_aoi).select("aoi_id", "image_id") \
          .toPandas()
    got_pairs = sorted(map(tuple, got.values))
    exp_pairs = oracle.brute_force_join(tiny_images_pdf, tiny_aoi_pdf)
    assert got_pairs == sorted(exp_pairs)
    assert len(got_pairs) > 0
    # disjoint AOI joins nothing
    assert not any(a == "disjoint" for a, _ in got_pairs)


def test_spatial_join_salted_identical_rows(spark, tiny_images, tiny_aoi,
                                            tiny_images_pdf, tiny_aoi_pdf):
    got = J.spatial_join(tiny_images, tiny_aoi, n_salts=4,
                         broadcast_aoi=False) \
        .select("aoi_id", "image_id").toPandas()
    got_pairs = sorted(map(tuple, got.values))
    assert got_pairs == sorted(oracle.brute_force_join(tiny_images_pdf,
                                                       tiny_aoi_pdf))


def test_broadcast_join_rejects_salting(spark, tiny_images, tiny_aoi):
    """The broadcast join has no shuffle to salt: n_salts > 0 fails by
    name instead of being ignored; "auto" resolves to no salt."""
    import pytest as _pt
    with _pt.raises(ValueError, match="broadcast_aoi=False"):
        J.spatial_join(tiny_images, tiny_aoi, n_salts=4)
    assert J.spatial_join(tiny_images, tiny_aoi, n_salts="auto") \
        .select("aoi_id", "image_id").count() > 0


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_one_rect_aoi_join_runs_at_most_two_jobs(spark, tiny_images,
                                                 tiny_images_pdf,
                                                 tiny_aoi_pdf):
    """A driver-held rectangle AOI plans without a Spark job (its rows
    are read from the Arrow-built relation) and executes as one
    broadcast zone/bbox join: no cover-cell explode of the catalog."""
    tiny_images.count()
    aoi_pdf = tiny_aoi_pdf[tiny_aoi_pdf.aoi_id == "hot"]
    aoi = schema.aoi_df(spark, aoi_pdf)
    df, plan_jobs = _jobs_in_group(
        spark, "join-plan", lambda: J.spatial_join(tiny_images, aoi))
    rows, exec_jobs = _jobs_in_group(
        spark, "join-exec", lambda: df.select("aoi_id", "image_id").collect())
    assert plan_jobs == 0
    assert exec_jobs <= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "BroadcastHashJoin" in plan, plan
    assert sorted((r.aoi_id, r.image_id) for r in rows) \
        == oracle.brute_force_join(tiny_images_pdf, aoi_pdf)
    assert rows


def test_empty_aoi_returns_empty_result(spark, tiny_images, tiny_aoi_pdf):
    aoi = schema.aoi_df(spark, tiny_aoi_pdf.iloc[:0])
    for broadcast in (True, False):
        out = J.spatial_join(tiny_images, aoi, broadcast_aoi=broadcast)
        assert out.columns == ["aoi_id", "image_id", "zone", "caption",
                               "phash", "datetime", "isect_area",
                               "coverage"]
        assert out.collect() == []


def test_multipart_rect_and_concave_parts_across_zones(spark, tiny_images,
                                                       tiny_images_pdf):
    """One AOI whose parts are a rectangle in zone 30 and a concave
    L-shape in zone 31: the broadcast join refines both through the
    polygon UDF and sums them over the whole geometry's area."""
    import pandas as pd
    rect = (16384.0, 8192.0, 98304.0, 73728.0)
    l_shape = ("POLYGON ((8192 8192, 122880 8192, 122880 57344, "
               "57344 57344, 57344 122880, 8192 122880, 8192 8192))")
    x0, y0, x1, y1 = rect
    aoi_pdf = pd.DataFrame([
        dict(aoi_id="mixed", srs="ZONE:30", xmin=x0, ymin=y0, xmax=x1,
             ymax=y1, geom_wkt=(f"POLYGON (({x0} {y0}, {x1} {y0}, "
                                f"{x1} {y1}, {x0} {y1}, {x0} {y0}))")),
        dict(aoi_id="mixed", srs="ZONE:31", xmin=8192.0, ymin=8192.0,
             xmax=122880.0, ymax=122880.0, geom_wkt=l_shape)])
    aoi = schema.aoi_df(spark, aoi_pdf.assign(min_coverage=0.0))
    got = J.spatial_join(tiny_images, aoi).toPandas()
    assert sorted(zip(got.aoi_id, got.image_id)) \
        == oracle.brute_force_join(tiny_images_pdf, aoi_pdf)
    assert set(got.zone) == {30, 31}
    total = sum(J.polygon_area(J.parse_wkt_polygon(w))
                for w in aoi_pdf.geom_wkt)
    np.testing.assert_allclose(got.coverage, got.isect_area / total,
                               rtol=1e-12)


def test_salting_flattens_partitions(spark, tiny_images, tiny_aoi):
    """north_rule: skew handled explicitly — salting must spread a hot
    cell across partitions (measured, not assumed)."""
    imgs = J.cells_cover(
        tiny_images.select("image_id", "zone", "xmin", "ymin", "xmax", "ymax"),
        2, out_col="jcell")
    plain = imgs.repartition(8, "jcell")
    salted = imgs.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("int")
    ).repartition(8, "jcell", "salt")
    h_plain = lineage.partition_metrics(plain).toPandas()["count"]
    h_salted = lineage.partition_metrics(salted).toPandas()["count"]
    assert h_salted.max() < h_plain.max()


def test_coverage_filter(spark, tiny_images, tiny_aoi, tiny_images_pdf,
                         tiny_aoi_pdf):
    got = J.spatial_join(tiny_images, tiny_aoi, min_coverage_of_aoi=0.2) \
        .select("aoi_id", "image_id").toPandas()
    exp = oracle.brute_force_join(tiny_images_pdf, tiny_aoi_pdf,
                                  min_coverage=0.2)
    assert sorted(map(tuple, got.values)) == sorted(exp)


def test_semi_anti_partition(spark, tiny_images, tiny_aoi):
    semi = J.spatial_semi_join(tiny_images, tiny_aoi)
    anti = J.spatial_anti_join(tiny_images, tiny_aoi)
    assert semi.count() + anti.count() == tiny_images.count()
    assert semi.join(anti, "image_id", "inner").count() == 0


def test_catalog_filters(spark, tiny_images):
    n = tiny_images.count()
    assert J.cloud_filter(tiny_images, 101).count() == n
    assert 0 < J.cloud_filter(tiny_images, 10).count() < n
    assert J.orbit_filter(tiny_images, ["ascending"]).count() == \
        tiny_images.where("orbit_state = 'ascending'").count()
    assert J.drop_duplicates_stac(tiny_images).count() == n  # all unique
    dup = tiny_images.unionByName(tiny_images.limit(5))
    assert J.drop_duplicates_stac(dup).count() == n


def test_multipart_aoi_every_part_evaluated(spark, tiny_images, tiny_images_pdf):
    """A multipart AOI (several geometry rows per aoi_id, same or
    different zones) uses the reference's WHOLE-geometry semantics
    (R/stac-utils.R:494-506): isect areas sum over parts and coverage
    = sum(isect) / area(all parts) — so isect_area and coverage are
    mutually consistent. Every part is refined (not an arbitrary
    survivor of a premature dedup). Verified against brute force."""
    import pandas as pd
    parts = []
    rng = np.random.default_rng(7)
    for zone in (30, 31):
        for p in range(2):  # 2 rectangles per zone under ONE aoi_id
            x0, y0 = rng.uniform(0, 5e5, 2)
            x1, y1 = x0 + rng.uniform(1e5, 4e5), y0 + rng.uniform(1e5, 4e5)
            parts.append(dict(
                aoi_id="multi", zone=zone, srs=f"ZONE:{zone}",
                xmin=x0, ymin=y0, xmax=x1, ymax=y1,
                geom_wkt=(f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                          f"{x0} {y1}, {x0} {y0}))")))
    aoi_pdf = pd.DataFrame(parts)
    aoi = spark.createDataFrame(aoi_pdf)
    got = J.spatial_join(tiny_images, aoi, min_coverage_of_aoi=0.1) \
        .select("aoi_id", "image_id", "coverage").toPandas()
    exp = oracle.brute_force_join(tiny_images_pdf, aoi_pdf, min_coverage=0.1)
    assert sorted(map(tuple, got[["aoi_id", "image_id"]].values)) \
        == sorted(set(exp))
    # one output row per pair, even when several parts intersect
    assert not got.duplicated(["aoi_id", "image_id"]).any()
    # whole-geometry coverage -> within (threshold, 1]
    assert ((got.coverage > 0.1) & (got.coverage <= 1.0 + 1e-9)).all()
    # coverage and isect_area are mutually consistent: cov = isect/total
    from vrtility_spark.join import parse_wkt_polygon, polygon_area
    total = sum(polygon_area(parse_wkt_polygon(w))
                for w in aoi_pdf.geom_wkt.unique())
    got2 = J.spatial_join(tiny_images, aoi, min_coverage_of_aoi=0.1) \
        .select("isect_area", "coverage").toPandas()
    np.testing.assert_allclose(got2.coverage, got2.isect_area / total,
                               rtol=1e-12)


def test_asof_join_property_vs_bruteforce(spark):
    """Randomized guard for the union+window as-of rewrite: output must
    equal the brute-force 'latest right at or before each left row'
    (max tiebreak on equal timestamps), inner semantics, both
    directions."""
    import pandas as pd
    rng = np.random.default_rng(13)
    n_l, n_r = 120, 80
    left = pd.DataFrame({
        "lid": np.arange(n_l),
        "k": rng.integers(0, 6, n_l),
        "ts": rng.integers(0, 50, n_l),
    })
    right = pd.DataFrame({
        "k": rng.integers(0, 6, n_r),
        "rts": rng.integers(0, 50, n_r),
        "rid": np.arange(n_r),
        "v": rng.normal(size=n_r).round(3),
    })
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    for direction in ("backward", "forward"):
        got = J.asof_join(ldf, rdf, on="k", left_time="ts",
                          right_time="rts", left_id="lid",
                          direction=direction, tiebreak="rid") \
            .select("lid", "rid").toPandas()
        exp = {}
        for l in left.itertuples(index=False):
            cands = [r for r in right.itertuples(index=False)
                     if r.k == l.k and (r.rts <= l.ts if direction ==
                                        "backward" else r.rts >= l.ts)]
            if cands:
                if direction == "backward":
                    best = max(cands, key=lambda r: (r.rts, r.rid))
                else:
                    best = max(cands, key=lambda r: (-r.rts, r.rid))
                exp[l.lid] = best.rid
        assert dict(zip(got.lid, got.rid)) == exp, direction


def test_parse_wkt_outer_ring_ignores_holes():
    """POLYGON with interior rings parses to the OUTER ring (holes
    ignored by contract); MULTIPOLYGON raises by name, pointing at the
    one-row-per-part multipart contract."""
    import pytest as _pt

    from vrtility_spark.join import parse_wkt_polygon, polygon_area
    ring = parse_wkt_polygon(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
        "(2 2, 3 2, 3 3, 2 3, 2 2))")
    assert ring.shape == (5, 2)
    assert polygon_area(ring) == 100.0
    with _pt.raises(ValueError, match="one row per part"):
        parse_wkt_polygon(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))")


def test_asof_join_ignores_null_timestamps(spark):
    """Null-ts right rows must never match (NULLS FIRST would sort one
    'before everything' and fabricate matches for unmatched left rows);
    null-ts left rows are dropped."""
    import datetime as dt

    from vrtility_spark.join import asof_join
    t = lambda s: dt.datetime(2024, 1, s)
    left = spark.createDataFrame(
        [(1, t(5), 100), (1, t(1), 101), (1, None, 102)],
        "user_id long, ts timestamp, event_id long")
    right = spark.createDataFrame(
        [(1, t(3), 900), (1, None, 901)],
        "user_id long, pts timestamp, p_id long")
    out = asof_join(left, right, on="user_id", left_time="ts",
                    right_time="pts", left_id="event_id").toPandas()
    # only the t(5) click matches (to the t(3) purchase); the t(1)
    # click has no prior purchase and the null rows are gone
    assert sorted(out.event_id) == [100]
    assert list(out.p_id) == [900]


def test_auto_salt_count_and_flattening(spark, tiny_images, tiny_aoi,
                                        tiny_images_pdf, tiny_aoi_pdf):
    """n_salts='auto' sizes itself from the measured per-cell
    histogram: a hot-key table (one footprint repeated) auto-selects
    n_salts > 0 and the salted key histogram flattens; a uniform table
    auto-selects 0; joined rows are identical to the unsalted join."""
    import pandas as pd

    # uniform occupancy -> no salting
    uni = J.cells_cover(
        tiny_images.select("image_id", "zone", "xmin", "ymin",
                           "xmax", "ymax"),
        datagen.TILE_RES, out_col="jcell")
    assert J.auto_salt_count(uni) == 0

    # hot cell: every scene of zone 0 duplicated onto ONE footprint
    pdf = tiny_images_pdf.copy()
    hot = pdf.iloc[0]
    dups = []
    for i in range(len(pdf)):
        r = pdf.iloc[0].copy()
        r.image_id = f"hot_{i}"
        dups.append(r)
    hot_pdf = pd.concat([pdf, pd.DataFrame(dups)], ignore_index=True)
    hot_df = schema.images_df(spark, hot_pdf)
    hot_cells = J.cells_cover(
        hot_df.select("image_id", "zone", "xmin", "ymin", "xmax", "ymax"),
        datagen.TILE_RES, out_col="jcell")
    n = J.auto_salt_count(hot_cells)
    assert n > 0
    # the (jcell, salt) histogram flattens vs the raw jcell histogram
    raw = hot_cells.groupBy("jcell").count().toPandas()["count"]
    salted = (hot_cells.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(n)).cast("int"))
        .groupBy("jcell", "salt").count().toPandas()["count"])
    assert salted.max() < raw.max()

    # end-to-end: auto-salted non-broadcast join == plain join rows
    a = J.spatial_join(hot_df, tiny_aoi, n_salts="auto",
                       broadcast_aoi=False) \
        .select("aoi_id", "image_id").toPandas()
    b = J.spatial_join(hot_df, tiny_aoi).select("aoi_id", "image_id") \
        .toPandas()
    assert sorted(map(tuple, a.values)) == sorted(map(tuple, b.values))
