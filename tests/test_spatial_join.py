"""Flagship spatial-join correctness vs a brute-force oracle
(SURVEY.md §5: "envelope-containment join results vs a brute-force
pandas oracle")."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from changesetmd_spark import profile, synth
from changesetmd_spark.functions import geo
from changesetmd_spark.operators import polygon_join as pj
from changesetmd_spark.operators import spatial_join as sj


def _points_df(spark, n=3000, seed=11):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n),
            "lat": rng.uniform(-89, 89, n),
            "lon": rng.uniform(-179, 179, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _boxes_df(spark, n=300, seed=12):
    rng = np.random.default_rng(seed)
    clat = rng.uniform(-85, 85, n)
    clon = rng.uniform(-175, 175, n)
    dlat = rng.uniform(0.01, 4.0, n)
    dlon = rng.uniform(0.01, 4.0, n)
    pdf = pd.DataFrame(
        {
            "box_id": np.arange(n),
            "min_lat": clat - dlat,
            "max_lat": clat + dlat,
            "min_lon": clon - dlon,
            "max_lon": clon + dlon,
        }
    )
    # poison a few rows: inverted / out-of-range (the ST_MakeValid cases)
    pdf.loc[0, ["min_lat", "max_lat"]] = [50.0, 40.0]
    pdf.loc[1, "max_lat"] = 94.0
    pdf.loc[1, "min_lat"] = 88.0
    return spark.createDataFrame(pdf), pdf


def _oracle_pairs(points: pd.DataFrame, boxes: pd.DataFrame) -> set[tuple[int, int]]:
    b = boxes.copy()
    lo_lat = np.minimum(b.min_lat, b.max_lat).clip(-90, 90)
    hi_lat = np.maximum(b.min_lat, b.max_lat).clip(-90, 90)
    lo_lon = np.minimum(b.min_lon, b.max_lon)
    hi_lon = np.maximum(b.min_lon, b.max_lon)
    out = set()
    for pid, plat, plon in points[["point_id", "lat", "lon"]].itertuples(index=False):
        hit = (plat >= lo_lat) & (plat <= hi_lat) & (plon >= lo_lon) & (plon <= hi_lon)
        for bid in b.box_id[hit.to_numpy()]:
            out.add((int(pid), int(bid)))
    return out


def test_contains_join_matches_oracle_all_strategies(spark):
    points, ppdf = _points_df(spark)
    boxes, bpdf = _boxes_df(spark)
    want = _oracle_pairs(ppdf, bpdf)
    assert len(want) > 100  # non-trivial workload

    for kwargs in (dict(), dict(salt_buckets=4, point_salt_key="point_id")):
        got = {
            (r.point_id, r.box_id)
            for r in sj.contains_join(points, boxes, res=3, **kwargs)
            .select("point_id", "box_id")
            .collect()
        }
        assert got == want, f"mismatch for {kwargs}"


def test_contains_join_res_invariance(spark):
    """Result must not depend on the index resolution (only the plan
    shape does)."""
    points, _ = _points_df(spark, n=800, seed=21)
    boxes, _ = _boxes_df(spark, n=60, seed=22)
    results = []
    for res in (2, 3, 5):
        got = {
            (r.point_id, r.box_id)
            for r in sj.contains_join(points, boxes, res=res)
            .select("point_id", "box_id")
            .collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_no_duplicate_pairs(spark):
    points, _ = _points_df(spark, n=2000, seed=31)
    boxes, _ = _boxes_df(spark, n=150, seed=32)
    out = sj.contains_join(points, boxes, res=3)
    n = out.count()
    d = out.select("point_id", "box_id").distinct().count()
    assert n == d


def test_assign_images_payload_pruned_and_reattached(spark):
    images = synth.images(spark, 400)
    boxes, _ = _boxes_df(spark, n=80, seed=41)
    slim = sj.assign_images(images, boxes, res=3)
    assert "bytes" not in slim.columns
    full = sj.assign_images(images, boxes, res=3, keep_payload=True)
    assert "bytes" in full.columns
    assert full.count() == slim.count()
    # geotag parity: recompute lat from phash and compare
    chk = full.select(
        (F.abs(geo.clamp_lat(geo.phash_to_lat(F.col("phash"))) - F.col("lat")) < 1e-12).alias("ok")
    )
    assert chk.filter(~F.col("ok")).count() == 0


def test_broadcast_join_plan_is_shuffle_free_on_points(spark):
    """The broadcast path must not shuffle the (big) point side."""
    points, _ = _points_df(spark, n=500, seed=51)
    boxes, _ = _boxes_df(spark, n=40, seed=52)
    out = sj.contains_join(points, boxes, res=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_null_coordinates_join_nothing(spark):
    """A null lon gets hex cell 0, which no cover cell equals. A null
    lat is clamped to 90, so it lands in the polar cell this box's
    cover holds, and the refine on the raw null lat drops it. Either
    way the point is absent from every contains_join path's output."""
    points = spark.createDataFrame(
        [(0, 89.5, 0.5), (1, None, 0.5), (2, 89.5, None)],
        "point_id long, lat double, lon double",
    )
    boxes = spark.createDataFrame(
        [(0, 89.0, 90.0, 0.0, 1.0)],
        "box_id long, min_lat double, max_lat double, min_lon double, max_lon double",
    )
    cells = {r.point_id: r.hex_cell for r in sj.tile_points(points, res=3).collect()}
    assert cells[2] == 0
    assert cells[1] == sj.tile_points(
        spark.createDataFrame([(90.0, 0.5)], "lat double, lon double"), res=3
    ).first().hex_cell
    cover = {r.hex_cell for r in sj.cover_boxes(boxes, res=3).collect()}
    assert cells[1] in cover and 0 not in cover
    for kw in ({}, {"salt_buckets": 4, "point_salt_key": "point_id"}):
        got = {r.point_id for r in sj.contains_join(points, boxes, res=3, **kw).collect()}
        assert got == {0}, kw


def test_skewed_hot_cell_salted_parity(spark):
    """Hot-cell skew (city effect): 40% of points in one 0.5-degree
    spot. The salted shuffle path must agree with broadcast exactly."""
    rng = np.random.default_rng(77)
    n = 4000
    hot = rng.random(n) < 0.4
    lat = np.where(hot, 48.85 + rng.uniform(-0.25, 0.25, n), rng.uniform(-80, 80, n))
    lon = np.where(hot, 2.35 + rng.uniform(-0.25, 0.25, n), rng.uniform(-170, 170, n))
    points = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(n), "lat": lat, "lon": lon})
    )
    boxes, _ = _boxes_df(spark, n=100, seed=78)
    ref = {
        (r.point_id, r.box_id)
        for r in sj.contains_join(points, boxes, res=3)
        .select("point_id", "box_id").collect()
    }
    salted = {
        (r.point_id, r.box_id)
        for r in sj.contains_join(
            points, boxes, res=3, salt_buckets=8, point_salt_key="point_id",
        ).select("point_id", "box_id").collect()
    }
    assert salted == ref and len(ref) > 50


def test_antimeridian_wrap_split_matches_bruteforce(spark, tmp_path):
    """Boxes crossing ±180° (min_lon > max_lon wrap convention):
    split_antimeridian + cover join must equal the straight wraparound
    predicate, and a wrapping box must NOT match points on the far
    side of the globe (the failure mode of naive min/max swapping).
    The gate's keying is used: one key per half, grouped back by
    ``box_id >> 1``. The boxes come from a parquet file, which the
    join reads once per phase."""
    rng = np.random.default_rng(31)
    n = 4000
    pts_pdf = pd.DataFrame(
        {
            "point_id": np.arange(n),
            "lat": rng.uniform(-80, 80, n),
            "lon": rng.uniform(-180, 180, n),
        }
    )
    # boxes centered on the seam: half wrap, half don't
    m = 60
    clat = rng.uniform(-70, 70, m)
    clon = rng.uniform(170, 190, m)  # raw, pre-wrap
    slat = rng.uniform(0.5, 5, m)
    slon = rng.uniform(0.5, 8, m)
    w = lambda x: (x + 180.0) % 360.0 - 180.0  # noqa: E731
    boxes_pdf = pd.DataFrame(
        {
            "box_id": np.arange(m),
            "min_lat": clat - slat,
            "max_lat": clat + slat,
            "min_lon": w(clon - slon),
            "max_lon": w(clon + slon),
        }
    )
    # plus a near-global wrapping box: its halves are tall, and a cover
    # is an axial (q, r) rectangle sheared in lon by lat/3, so the west
    # half's cover reaches past lon −170 into the east half's cells
    near_global = dict(box_id=m, min_lat=-75.0, max_lat=75.0, min_lon=-170.0, max_lon=-175.0)
    boxes_pdf = pd.concat([boxes_pdf, pd.DataFrame([near_global])], ignore_index=True)
    east, west = (
        {r.hex_cell for r in sj.cover_boxes(spark.createDataFrame(
            [(-75.0, 75.0, lo, hi)], "min_lat double, max_lat double, min_lon double, max_lon double"
        ), res=3).collect()}
        for lo, hi in ((-170.0, 180.0), (-180.0, -175.0))
    )
    assert east & west
    assert (boxes_pdf.min_lon > boxes_pdf.max_lon).any()

    boxes_path = str(tmp_path / "boxes.parquet")
    spark.createDataFrame(boxes_pdf).write.parquet(boxes_path)
    halves = sj.split_antimeridian(spark.read.parquet(boxes_path))
    pairs = sj.contains_join(spark.createDataFrame(pts_pdf), halves, res=3).select(
        "point_id", F.shiftright("box_id", 1).alias("box_id")
    )
    got_rows = [(r.point_id, r.box_id) for r in pairs.collect()]
    agg = pairs.groupBy().count()
    assert agg.collect()[0][0] == len(got_rows)
    assert len(profile.operators(agg, "FileSourceScanExec")) == 2
    got = set(got_rows)
    want = set()
    for b in boxes_pdf.itertuples(index=False):
        in_lat = (pts_pdf.lat >= b.min_lat) & (pts_pdf.lat <= b.max_lat)
        if b.min_lon <= b.max_lon:
            in_lon = (pts_pdf.lon >= b.min_lon) & (pts_pdf.lon <= b.max_lon)
        else:
            in_lon = (pts_pdf.lon >= b.min_lon) | (pts_pdf.lon <= b.max_lon)
        for pid in pts_pdf.point_id[(in_lat & in_lon).to_numpy()]:
            want.add((int(pid), int(b.box_id)))
    assert got == want and len(want) > 100
    # a point matches a split box at most once (halves are disjoint),
    # even where they share cover cells — checked on the raw row list,
    # before set-dedup could mask it
    assert len(got_rows) == len(got)


def _run(df):
    """Run ``df``'s count; return (matches, rows out of phase 1, and
    each executed join as its class name + left keys, sorted)."""
    agg = df.groupBy().count()
    n = agg.collect()[0][0]
    joins = profile.operators(
        agg, "BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec"
    )
    keys = [[j.leftKeys().apply(i).name() for i in range(j.leftKeys().size())] for j in joins]
    (phase1,) = [j for j, k in zip(joins, keys) if k[0] == "hex_cell"]
    names = sorted(f"{j.getClass().getSimpleName()}{k}" for j, k in zip(joins, keys))
    return n, phase1.metrics().apply("numOutputRows").value(), names


def test_cover_join_plan_shapes(spark):
    """Both operators run the two-phase plan: by default two broadcast
    hash joins and no shuffled join; ``salt_buckets>0`` makes the cell
    join a ShuffledHashJoin on (hex_cell, _salt). Phase 1's output is
    the candidate set, so it reads more rows than the matches."""
    points, _ = _points_df(spark, n=1500, seed=81)
    boxes, _ = _boxes_df(spark, n=80, seed=82)
    hexagon = np.array([[1.0, 0.5, -0.5, -1.0, -0.5, 0.5], [0.0, 0.9, 0.9, 0.0, -0.9, -0.9]])
    polys = spark.createDataFrame(
        [(i, *(c[:, None] + 8.0 * hexagon).tolist()) for i, c in enumerate(
            np.random.default_rng(83).uniform([-150, -70], [150, 70], (30, 2)))],
        "poly_id long, xs array<double>, ys array<double>",
    )
    for df, key in (
        (sj.contains_join(points, boxes, res=3), "box_id"),
        (pj.polygon_contains_join(points, polys, n_vertices=6, res=3), "poly_id"),
    ):
        n, cand, names = _run(df)
        assert names == sorted(f"BroadcastHashJoinExec{[k]}" for k in ("hex_cell", key))
        assert cand > n > 0

    n, cand, names = _run(
        sj.contains_join(points, boxes, res=3, salt_buckets=4, point_salt_key="point_id")
    )
    assert "ShuffledHashJoinExec['hex_cell', '_salt']" in names
    assert cand > n > 0


def test_contains_join_frozen_keywords_accept_only_true(spark):
    import pytest

    points, _ = _points_df(spark, n=10, seed=91)
    boxes, _ = _boxes_df(spark, n=5, seed=92)
    sj.contains_join(points, boxes, broadcast_boxes=True, compact_build=True)
    for kw in ({"broadcast_boxes": False}, {"broadcast_boxes": None}, {"compact_build": False}):
        with pytest.raises(ValueError):
            sj.contains_join(points, boxes, **kw)
