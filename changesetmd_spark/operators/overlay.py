"""Raster-tile ↔ vector-bbox overlay (SURVEY.md §2.c).

Maps web-mercator raster tiles (z/x/y slippy scheme, pure column math
in functions/geo.py) against vector boxes:

- ``tiles_for_boxes``: each box → the tile-id range it intersects at a
  zoom (sequence² → explode, JVM-side).
- ``overlay_join``: coarse equi-join on tile id + exact box-overlap
  refine — the same two-phase shape as the flagship containment join,
  with tiles as the grid. Generalizes the reference's viz workflow
  (README.md:182-190: filter changesets, raster-render them) into an
  engine operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from .spatial_join import normalize_boxes


def tiles_for_boxes(
    boxes: DataFrame,
    zoom: int,
    *,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
    out: str = "tile",
) -> DataFrame:
    """Explode each box into every (z,x,y) tile id it touches.
    Note tile_y grows southward: max_lat → y_lo."""
    x_lo = geo.tile_x(F.col(min_lon), zoom)
    x_hi = geo.tile_x(F.col(max_lon), zoom)
    y_lo = geo.tile_y(F.col(max_lat), zoom)
    y_hi = geo.tile_y(F.col(min_lat), zoom)
    return (
        boxes.withColumn("_tx", F.explode(F.sequence(x_lo, x_hi)))
        .withColumn("_ty", F.explode(F.sequence(y_lo, y_hi)))
        .withColumn(out, geo.tile_id(F.col("_tx"), F.col("_ty"), zoom))
        .drop("_tx", "_ty")
    )


def overlay_join(
    boxes_a: DataFrame,
    boxes_b: DataFrame,
    zoom: int,
    *,
    a_prefix: str = "a_",
    b_prefix: str = "b_",
) -> DataFrame:
    """All intersecting (a, b) box pairs: tile equi-join against the
    broadcast ``boxes_b`` tiles + exact overlap refine. Column names
    get prefixed to avoid collisions.
    Pair-dedup note: unlike the point case, a box pair CAN meet in
    several tiles → full-row ``dropDuplicates`` after refine (cheap:
    refined output ≪ candidates)."""
    a = normalize_boxes(boxes_a).select(
        *[F.col(c).alias(a_prefix + c) for c in boxes_a.columns]
    )
    b = normalize_boxes(boxes_b).select(
        *[F.col(c).alias(b_prefix + c) for c in boxes_b.columns]
    )
    at = tiles_for_boxes(
        a, zoom,
        min_lat=a_prefix + "min_lat", max_lat=a_prefix + "max_lat",
        min_lon=a_prefix + "min_lon", max_lon=a_prefix + "max_lon",
    )
    bt = tiles_for_boxes(
        b, zoom,
        min_lat=b_prefix + "min_lat", max_lat=b_prefix + "max_lat",
        min_lon=b_prefix + "min_lon", max_lon=b_prefix + "max_lon",
    )
    refined = at.join(F.broadcast(bt), "tile").filter(
        geo.boxes_overlap(
            F.col(a_prefix + "min_lat"), F.col(a_prefix + "max_lat"),
            F.col(a_prefix + "min_lon"), F.col(a_prefix + "max_lon"),
            F.col(b_prefix + "min_lat"), F.col(b_prefix + "max_lat"),
            F.col(b_prefix + "min_lon"), F.col(b_prefix + "max_lon"),
        )
    )
    return refined.drop("tile").dropDuplicates()
