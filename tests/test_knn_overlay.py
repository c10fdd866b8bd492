"""kNN join + overlay operator tests (SURVEY.md §2.c)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from changesetmd_spark.operators import knn as K
from changesetmd_spark.operators import overlay as ov


def _pts(spark, n=4000, seed=5):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n),
                "lat": rng.uniform(-80, 80, n),
                "lon": rng.uniform(-175, 175, n),
            }
        )
    )


def _queries(spark, n=25, seed=6):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(n),
                "q_lat": rng.uniform(-70, 70, n),
                "q_lon": rng.uniform(-160, 160, n),
            }
        )
    )


def test_ring_knn_equals_exact(spark):
    """The cell-ring accelerated kNN must return exactly the global
    kNN when the ring guarantee covers the k-th neighbor distance."""
    pts, qs = _pts(spark), _queries(spark)
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 5).select("query_id", "point_id", "knn_rank").collect()
    }
    rings = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_rings(qs, pts, 5, res=2, rings=4)
        .select("query_id", "point_id", "knn_rank")
        .collect()
    }
    assert rings == exact
    assert len(exact) == 25 * 5
    # sanity on the guarantee the params promise at the equator
    assert K.min_ring_guarantee_km(2, 4) > 250


def test_guarantee_shrinks_with_latitude_and_near_antimeridian(spark):
    """The per-query certificate must scale with cos(lat) — the flat
    111 km/deg conversion over-certified above ~65° — vanish near the
    antimeridian where the degree-space disk under-covers, and switch
    to the (large, cos-free) polar-cap latitude bound poleward of
    POLAR_LAT_DEG, growing with |lat| there."""
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [0, 1, 2, 3, 4, 5],
                "q_lat": [0.0, 60.0, 79.0, 85.0, 89.5, 0.0],
                "q_lon": [0.0, 0.0, 0.0, 0.0, 0.0, 179.5],
            }
        )
    )
    g = qs.select(
        "query_id", K.ring_guarantee_km(F.col("q_lat"), F.col("q_lon"), 2, 4).alias("g")
    )
    got = {r.query_id: r.g for r in g.collect()}
    assert got[0] > got[1] > got[2] > 0
    assert got[1] < got[0] * 0.6  # cos(60°+g) scaling bites
    # polar regime: cap coverage makes the bound a pure meridian arc —
    # LARGER than the collapsing disk bound, growing toward the pole
    assert got[3] > got[2] and got[4] > got[3]
    g_deg = K.ring_disk_radius_deg(2, 4) / (2 ** 0.5)
    assert abs(got[3] - 111.19 * (85.0 - (K.POLAR_LAT_DEG - g_deg))) < 1e-9
    assert got[5] == 0.0  # near-antimeridian (non-polar): never certified


def test_safe_knn_exact_straddling_polar_threshold(spark):
    """Queries just below and just above POLAR_LAT_DEG (the coverage
    regime switch) with points clustered around the threshold — both
    regimes must return the exact global kNN, including neighbors on
    the other side of the threshold from the query."""
    rng = np.random.default_rng(55)
    n = 2000
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n),
                "lat": rng.uniform(70.0, 90.0, n),
                "lon": rng.uniform(-180.0, 180.0, n),
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(8),
                "q_lat": [79.2, 79.8, 79.95, 80.0, 80.05, 80.8, 83.0, 88.0],
                "q_lon": [10.0, -170.0, 60.0, -60.0, 120.0, 179.0, 0.0, -90.0],
            }
        )
    )
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 5).select("query_id", "point_id", "knn_rank").collect()
    }
    safe = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_safe(qs, pts, 5, res=2, rings=4)
        .select("query_id", "point_id", "knn_rank").collect()
    }
    assert safe == exact


def test_safe_knn_exact_across_ring_configs(spark):
    """knn_join_safe must equal the brute-force answer for EVERY
    (res, rings) config — coarse and fine grids alike — on a mixed
    distribution (uniform + polar crowd + antimeridian band). The
    certificate/fallback split differs wildly across configs; the
    output must not."""
    rng = np.random.default_rng(91)
    n = 2500
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n),
                "lat": np.concatenate(
                    [
                        rng.uniform(-80, 80, n - 800),
                        rng.uniform(78, 90, 400),          # polar crowd
                        rng.uniform(-60, 60, 400),         # antimeridian band
                    ]
                ),
                "lon": np.concatenate(
                    [
                        rng.uniform(-175, 175, n - 800),
                        rng.uniform(-180, 180, 400),
                        np.where(rng.uniform(0, 1, 400) < 0.5, 1, -1)
                        * rng.uniform(176, 180, 400),
                    ]
                ),
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(10),
                "q_lat": [0.0, 45.0, -45.0, 70.0, 82.0, -86.0, 10.0, -30.0, 60.0, 88.5],
                "q_lon": [0.0, 100.0, -100.0, 179.0, -178.0, 30.0, -179.5, 179.8, -90.0, 0.0],
            }
        )
    )
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 4).select("query_id", "point_id", "knn_rank").collect()
    }
    for res, rings in ((1, 2), (2, 4), (3, 3)):
        safe = {
            (r.query_id, r.point_id, r.knn_rank)
            for r in K.knn_join_safe(qs, pts, 4, res=res, rings=rings)
            .select("query_id", "point_id", "knn_rank").collect()
        }
        assert safe == exact, f"config res={res} rings={rings} diverged"


def test_safe_knn_k_exceeds_ring_candidates(spark):
    """k larger than any query's ring-candidate count: no query can
    certify (nk < k), the band-less full fallback runs, and the answer
    still equals brute force — including k > |points| (everyone gets
    all points, ranked)."""
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(6),
                "lat": [0.0, 10.0, -20.0, 45.0, -60.0, 70.0],
                "lon": [0.0, 50.0, -90.0, 120.0, -150.0, 30.0],
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "q_lat": [5.0, -55.0], "q_lon": [5.0, -140.0]})
    )
    for k in (4, 10):  # 10 > |points|
        exact = {
            (r.query_id, r.point_id, r.knn_rank)
            for r in K.knn_join_exact(qs, pts, k).select("query_id", "point_id", "knn_rank").collect()
        }
        safe = {
            (r.query_id, r.point_id, r.knn_rank)
            for r in K.knn_join_safe(qs, pts, k, res=2, rings=2)
            .select("query_id", "point_id", "knn_rank").collect()
        }
        assert safe == exact and len(safe) == 2 * min(k, 6)


def test_polar_cap_cells_superset_property():
    """polar_cap_cells must contain EVERY cell that any point of its
    hemisphere cap can hash to — the superset invariant the kNN polar
    certificate rests on. 200k random cap points per hemisphere."""
    from changesetmd_spark.functions import hexgrid as HG

    rng = np.random.default_rng(42)
    for res, lat0 in ((2, 77.0), (3, 78.4), (1, 72.5)):
        for north in (True, False):
            cap = set(HG.polar_cap_cells(res, lat0, north))
            lat = rng.uniform(lat0, 90.0, 200_000)
            if not north:
                lat = -lat
            lon = rng.uniform(-180.0, 180.0, 200_000)
            cells = HG.hex_cell_np(lat, lon, res)
            missing = set(np.unique(cells)) - cap
            assert not missing, f"cap misses {len(missing)} cells (res={res}, north={north})"
            # and it is not absurdly fat for the res (rows × lon cells)
            assert len(cap) < 3000 * (7 ** max(0, res - 2))


def test_safe_knn_exact_at_extreme_latitudes(spark):
    """Queries at ±85° with points clustered across cell boundaries:
    the old flat-km certificate could wrongly certify here; the
    cos-scaled one must fall back to exact and match it."""
    rng = np.random.default_rng(77)
    n = 3000
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n),
                # half the points crowded into the polar caps
                "lat": np.concatenate(
                    [rng.uniform(75, 90, n // 2), rng.uniform(-90, -75, n - n // 2)]
                ),
                "lon": rng.uniform(-180, 180, n),
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(12),
                "q_lat": np.concatenate([rng.uniform(80, 89, 6), rng.uniform(-89, -80, 6)]),
                "q_lon": rng.uniform(-179, 179, 12),
            }
        )
    )
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 5).select("query_id", "point_id", "knn_rank").collect()
    }
    safe = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_safe(qs, pts, 5, res=2, rings=4)
        .select("query_id", "point_id", "knn_rank").collect()
    }
    assert safe == exact


def test_knn_ranks_are_distance_ordered(spark):
    pts, qs = _pts(spark, 800), _queries(spark, 5)
    out = K.knn_join_exact(qs, pts, 4).toPandas().sort_values(["query_id", "knn_rank"])
    for _, grp in out.groupby("query_id"):
        d = grp.dist_km.to_numpy()
        assert (np.diff(d) >= -1e-9).all()


def test_overlay_matches_bruteforce(spark):
    rng = np.random.default_rng(9)

    def boxes(n, seed):
        r = np.random.default_rng(seed)
        clat, clon = r.uniform(-70, 70, n), r.uniform(-160, 160, n)
        dlat, dlon = r.uniform(0.1, 5, n), r.uniform(0.1, 5, n)
        return pd.DataFrame(
            {
                "box_id": np.arange(n),
                "min_lat": clat - dlat,
                "max_lat": clat + dlat,
                "min_lon": clon - dlon,
                "max_lon": clon + dlon,
            }
        )
    A, B = boxes(120, 1), boxes(60, 2)
    got = {
        (r.a_box_id, r.b_box_id)
        for r in ov.overlay_join(
            spark.createDataFrame(A), spark.createDataFrame(B), zoom=5
        ).select("a_box_id", "b_box_id").collect()
    }
    want = set()
    for a in A.itertuples(index=False):
        hit = ~(
            (a.max_lon < B.min_lon) | (B.max_lon < a.min_lon)
            | (a.max_lat < B.min_lat) | (B.max_lat < a.min_lat)
        )
        for b in B.box_id[hit.to_numpy()]:
            want.add((int(a.box_id), int(b)))
    assert got == want and len(want) > 20


def test_safe_knn_exact_at_sparse_density(spark):
    """knn_join_safe must equal exact even when rings alone fail
    (sparse points, distant queries — the sf0.001 regression)."""
    rng = np.random.default_rng(13)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(120),  # very sparse globally
                "lat": rng.uniform(-80, 80, 120),
                "lon": rng.uniform(-175, 175, 120),
            }
        )
    )
    qs = _queries(spark, n=15, seed=14)
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 5).select("query_id", "point_id", "knn_rank").collect()
    }
    rings_only = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_rings(qs, pts, 5, res=2, rings=4)
        .select("query_id", "point_id", "knn_rank").collect()
    }
    safe = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_safe(qs, pts, 5, res=2, rings=4)
        .select("query_id", "point_id", "knn_rank").collect()
    }
    assert rings_only != exact  # rings alone genuinely insufficient here
    assert safe == exact        # fallback certifies and repairs


def test_polygon_contains_matches_numpy_oracle(spark):
    """Convex point-in-polygon join vs a numpy half-plane oracle."""
    from changesetmd_spark.operators import polygon_join as pj

    rng = np.random.default_rng(21)
    npts, npoly = 3000, 40
    pts_pdf = pd.DataFrame(
        {
            "point_id": np.arange(npts),
            "lat": rng.uniform(-80, 80, npts),
            "lon": rng.uniform(-170, 170, npts),
        }
    )
    dx = np.array([1.0, 0.5, -0.5, -1.0, -0.5, 0.5])
    dy = np.array([0.0, 0.9, 0.9, 0.0, -0.9, -0.9])
    cx = rng.uniform(-150, 150, npoly)
    cy = rng.uniform(-70, 70, npoly)
    r = rng.uniform(1, 15, npoly)
    polys_pdf = pd.DataFrame(
        {
            "poly_id": np.arange(npoly),
            "xs": [(cx[i] + r[i] * dx).tolist() for i in range(npoly)],
            "ys": [(cy[i] + r[i] * dy).tolist() for i in range(npoly)],
        }
    )
    got = {
        (rw.point_id, rw.poly_id)
        for rw in pj.polygon_contains_join(
            spark.createDataFrame(pts_pdf),
            spark.createDataFrame(polys_pdf),
            n_vertices=6, res=2,
        ).select("point_id", "poly_id").collect()
    }
    want = set()
    for i in range(npoly):
        xs, ys = np.array(polys_pdf["xs"][i]), np.array(polys_pdf["ys"][i])
        inside = np.ones(npts, dtype=bool)
        for e in range(6):
            j = (e + 1) % 6
            cross = (xs[j] - xs[e]) * (pts_pdf.lat - ys[e]) - (ys[j] - ys[e]) * (
                pts_pdf.lon - xs[e]
            )
            inside &= (cross >= 0).to_numpy()
        for pid in pts_pdf.point_id[inside]:
            want.add((int(pid), i))
    assert got == want and len(want) > 50


def test_safe_knn_guard_rejects_oversized_certificate(spark):
    """r6 ADVICE fix: the driver-side certificate collect is bounded by
    max_cert_rows — a query side past the broadcast-small contract must
    fail loudly instead of silently collecting |Q|*k rows."""
    import pytest

    pts, qs = _pts(spark, n=500), _queries(spark, n=25)
    with pytest.raises(ValueError, match="max_cert_rows"):
        K.knn_join_safe(qs, pts, 5, res=2, rings=4, max_cert_rows=10).count()


def test_safe_knn_preserves_extra_query_columns(spark):
    """r6 ADVICE fix: when some queries fail to certify, the exact
    fallback must carry the caller's extra query columns (the r5
    rebuild dropped them and the final union raised)."""
    from pyspark.sql import functions as F

    pts = _pts(spark, n=300)  # sparse: some queries will not certify
    qs = _queries(spark, n=15).withColumn(
        "label", F.concat(F.lit("q"), F.col("query_id"))
    )
    out = K.knn_join_safe(qs, pts, 5, res=2, rings=2)
    rows = out.collect()
    assert "label" in out.columns
    assert all(r["label"] == f"q{r['query_id']}" for r in rows)
    # answers still exactly match the global brute force
    exact = {
        (r.query_id, r.point_id, r.knn_rank)
        for r in K.knn_join_exact(qs, pts, 5)
        .select("query_id", "point_id", "knn_rank")
        .collect()
    }
    got = {(r.query_id, r.point_id, r.knn_rank) for r in rows}
    assert got == exact
