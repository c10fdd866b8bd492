"""Point-in-POLYGON containment join (true polygons, not envelopes).

The reference's geometry column is always a bbox envelope
(ST_MakeEnvelope, changesetmd.py:166), but its query surface is the
generic ``ST_CoveredBy(geom, geom)`` (README.md:232-234) — this
operator closes that gap for CONVEX query polygons.

``polygon_contains_join`` is the flagship's two-phase
``spatial_join.cover_join`` with two swaps: the cover comes from the
polygon's bounding box, and the refine is the exact half-plane test per
edge, as pure column expressions — for a CCW convex polygon, point p is
inside iff cross(v_i→v_{i+1}, v_i→p) ≥ 0 for every edge (boundary
counts as inside, PostGIS ST_Covers convention).

No geometry library needed; the predicate is exact double arithmetic
and therefore cross-engine reproducible (the DuckDB oracle uses the
identical formula — POLYGON_CONTAINS_SQL). Non-convex polygons
decompose into convex pieces upstream (fan triangulation for star-
shaped; general decomposition out of scope this round).

Polygon encoding: one row per polygon with vertex arrays
``xs: array<double>, ys: array<double>`` in CCW order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spatial_join import cover_join


def polygon_bbox(xs: Column, ys: Column) -> tuple[Column, Column, Column, Column]:
    """(min_lat, max_lat, min_lon, max_lon) of a vertex-array polygon."""
    return (
        F.array_min(ys),
        F.array_max(ys),
        F.array_min(xs),
        F.array_max(xs),
    )


def point_in_convex_polygon(
    px: Column, py: Column, xs: Column, ys: Column, n_vertices: int
) -> Column:
    """CCW convex containment: every edge's cross product ≥ 0.
    ``n_vertices`` fixed per call site → fully unrolled column exprs
    (whole-stage codegen, no UDF)."""
    cond = F.lit(True)
    for i in range(n_vertices):
        j = (i + 1) % n_vertices
        x1, y1 = F.element_at(xs, i + 1), F.element_at(ys, i + 1)
        x2, y2 = F.element_at(xs, j + 1), F.element_at(ys, j + 1)
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        cond = cond & (cross >= 0)
    return cond


def POINT_IN_CONVEX_POLYGON_SQL(
    px: str, py: str, xs: str, ys: str, n_vertices: int
) -> str:
    """Identical predicate in ANSI SQL (DuckDB 1-based list indexing —
    same as Spark's element_at)."""
    terms = []
    for i in range(n_vertices):
        j = (i + 1) % n_vertices
        x1, y1 = f"{xs}[{i + 1}]", f"{ys}[{i + 1}]"
        x2, y2 = f"{xs}[{j + 1}]", f"{ys}[{j + 1}]"
        terms.append(
            f"(({x2} - {x1}) * ({py} - {y1}) - ({y2} - {y1}) * ({px} - {x1})) >= 0"
        )
    return "(" + " AND ".join(terms) + ")"


def polygon_contains_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    n_vertices: int,
    res: int = 3,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Inner join of points with every convex polygon containing them.
    ``polygons`` needs (poly_id, xs, ys), one row per ``poly_id``: the
    ``cover_join`` of the polygons' bounding boxes, refined by the
    half-plane test. The vertex arrays stay out of the exploded cover."""
    xs, ys = F.col("xs"), F.col("ys")
    return cover_join(
        points, polygons, "poly_id", polygon_bbox(xs, ys),
        point_in_convex_polygon(F.col(lon), F.col(lat), xs, ys, n_vertices),
        res=res, lat=lat, lon=lon,
    )


def polygon_area_q(xs: Column, ys: Column, n_vertices: int, quant: int = 10**6) -> Column:
    """Planar polygon area via the shoelace formula, quantized to
    floor(|Σ cross| / 2 · quant) for exact cross-engine comparison.
    The vertex coordinates come in as fixed-length arrays (CCW); the
    cross terms are expanded per edge as plain column arithmetic —
    codegen, no interpreted array lambdas. (The degree-space analog of
    ST_Area on the true polygon, vs geo.bbox_area_km2's envelope.)"""
    terms = None
    for e in range(n_vertices):
        j = e + 1                          # 1-based element_at
        jn = (e + 1) % n_vertices + 1
        t = F.element_at(xs, j) * F.element_at(ys, jn) - F.element_at(xs, jn) * F.element_at(ys, j)
        terms = t if terms is None else terms + t
    return F.floor(F.abs(terms) / F.lit(2.0) * F.lit(float(quant)))


def POLYGON_AREA_Q_SQL(xs: str, ys: str, n_vertices: int, quant: int = 10**6) -> str:
    terms = " + ".join(
        f"({xs}[{e + 1}] * {ys}[{(e + 1) % n_vertices + 1}]"
        f" - {xs}[{(e + 1) % n_vertices + 1}] * {ys}[{e + 1}])"
        for e in range(n_vertices)
    )
    return f"CAST(floor(abs({terms}) / 2.0 * {quant}) AS BIGINT)"
