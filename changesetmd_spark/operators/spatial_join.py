"""Spatial containment join — the engine's flagship operator.

Generalizes the reference's ``ST_CoveredBy`` cookbook query
(README.md:232-234, backed by the GiST index queries.py:57-59) into one
Spark-native two-phase join, ``cover_join`` (SURVEY.md §2.b B4):

  phase 1 (filter): each shape → its hex-cell cover (``hex_cell_cover``)
    → slim (key, hex_cell) pairs → hash equi-join with the points' one
    ``hex_cell`` id. This is the index probe, the GiST tree replaced by
    hashing on cell id; its output rows are the candidates.
  phase 2 (refine): the candidates join the raw shape table on the key
    and keep the exact matches. Box bounds and polygon vertex arrays
    never enter the exploded cover.

``contains_join`` refines with ``geo.point_in_box``;
``polygon_join.polygon_contains_join`` runs the same join with a
polygon's bounding box and half-plane test.

Correctness notes:
- A point maps to exactly one cell and a cover lists each cell once,
  so a (point, key) pair meets in at most one cell → **no distinct /
  dedup shuffle is needed** (proved by test_spatial_join.py against a
  brute-force oracle), given one shape row per key.
- Boxes are normalized first (lat clamp + min/max swap) — the engine's
  ``ST_MakeValid`` (changesetmd.py:166, README.md:187-188).

Scale notes (the 100 TB plan): callers pass SLIM inputs, (point_id,
lat, lon) and (box_id, bounds). Binary image payloads never enter this
operator; re-attach by key afterwards (SURVEY.md §4, rule #1;
``assign_images``). Query shape sets are ≪ the image table, so by
default both joins broadcast the shape side and the points are never
shuffled; ``salt_buckets`` is the shuffle path for hot cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo, hexgrid
from ..plans import strategy

DEFAULT_RES = 4


def normalize_boxes(
    boxes: DataFrame,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
) -> DataFrame:
    """ST_MakeValid for envelopes: clamp latitudes to [-90, 90] and
    swap inverted min/max per axis. Idempotent."""
    lo_lat = geo.clamp_lat(F.least(F.col(min_lat), F.col(max_lat)))
    hi_lat = geo.clamp_lat(F.greatest(F.col(min_lat), F.col(max_lat)))
    lo_lon = F.least(F.col(min_lon), F.col(max_lon))
    hi_lon = F.greatest(F.col(min_lon), F.col(max_lon))
    return (
        boxes.withColumn("_lo_lat", lo_lat)
        .withColumn("_hi_lat", hi_lat)
        .withColumn("_lo_lon", lo_lon)
        .withColumn("_hi_lon", hi_lon)
        .drop(min_lat, max_lat, min_lon, max_lon)
        .withColumnRenamed("_lo_lat", min_lat)
        .withColumnRenamed("_hi_lat", max_lat)
        .withColumnRenamed("_lo_lon", min_lon)
        .withColumnRenamed("_hi_lon", max_lon)
    )


def split_antimeridian(boxes: DataFrame) -> DataFrame:
    """Antimeridian support: a box given with ``min_lon > max_lon``
    WRAPS across ±180° (the geographic convention; the reference's
    ST_MakeValid instead swaps the edges, which silently turns a
    narrow Pacific box into its world-wide complement). Each wrapping
    box is split into its two non-wrapping halves ``[min_lon, 180]``
    and ``[−180, max_lon]``, so the cover join works unchanged.

    Each output row gets its own ``box_id``: 2·box_id for the east half
    (or a box that does not wrap), 2·box_id + 1 for the west half. That
    keeps ``contains_join``'s unique-key contract — the halves' covers
    can share cells — and ``box_id >> 1`` gives back the original id.
    The halves are disjoint in lon, so a point still matches a box at
    most once: no dedup shuffle is introduced. The transform is one
    projection that explodes each box into its 1 or 2 halves, so the
    box table is read once per consumer (a union of two branches would
    read it twice)."""
    wrap = F.col("min_lon") > F.col("max_lon")
    halves = boxes.select(
        "*", F.explode(F.sequence(F.lit(0), F.when(wrap, 1).otherwise(0))).alias("_half")
    )
    west = F.col("_half") == 1
    return halves.withColumns(
        {
            "box_id": F.col("box_id") * 2 + F.col("_half"),
            "min_lon": F.when(west, F.lit(-180.0)).otherwise(F.col("min_lon")),
            "max_lon": F.when(wrap & ~west, F.lit(180.0)).otherwise(F.col("max_lon")),
        }
    ).drop("_half")


def tile_points(
    points: DataFrame, lat: str = "lat", lon: str = "lon", res: int = DEFAULT_RES,
    out: str = "hex_cell",
) -> DataFrame:
    """Attach the hex cell id (pure column expr — codegen, no UDF)."""
    return points.withColumn(
        out, hexgrid.hex_cell(geo.clamp_lat(F.col(lat)), F.col(lon), res)
    )


def cover_boxes(
    boxes: DataFrame,
    res: int = DEFAULT_RES,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
    out: str = "hex_cell",
) -> DataFrame:
    """Explode each (normalized) box into its covering cells."""
    return boxes.withColumn(
        out,
        F.explode(
            hexgrid.hex_cell_cover(
                F.col(min_lat), F.col(max_lat), F.col(min_lon), F.col(max_lon), res
            )
        ),
    )


def cover_join(
    points: DataFrame,
    shapes: DataFrame,
    key: str,
    bounds: tuple[Column, Column, Column, Column],
    refine: Column,
    *,
    res: int,
    lat: str,
    lon: str,
    salt_buckets: int = 0,
    point_salt_key: str | None = None,
) -> DataFrame:
    """Points joined with every shape passing ``refine``, the exact
    test over point and shape columns; ``bounds`` are (min_lat, max_lat,
    min_lon, max_lon) over ``shapes``. Returns points + shapes columns.

    ``key`` must be unique in ``shapes``: phase 2 joins on it, so a key
    on two rows crosses each candidate with both and duplicates matches.

    By default both joins broadcast the shape side. ``salt_buckets>0``
    (needs ``point_salt_key``) makes phase 1 a salted shuffled hash join
    on (hex_cell, _salt) and leaves phase 2 unhinted."""
    pts = tile_points(points, lat=lat, lon=lon, res=res)
    cov = shapes.withColumn(
        "hex_cell", F.explode(hexgrid.hex_cell_cover(*bounds, res))
    ).select(key, "hex_cell")
    if salt_buckets > 0:
        if point_salt_key is None:
            raise ValueError("salt_buckets needs point_salt_key")
        pts = strategy.with_salt(pts, point_salt_key, salt_buckets)
        # shuffle-hash, not sort-merge: the exploded cover side hashes
        # per partition (covers/shuffle_partitions rows — bounded), so
        # sorting the BIG point side — SMJ's dominant cost — is pure
        # waste. Measured 2.3x faster at sf0.1/local[32] (14s → 5-6s),
        # identical row set; skew is already handled by the salt.
        cov = strategy.explode_salt(cov, salt_buckets).hint("shuffle_hash")
        cand = pts.join(cov, ["hex_cell", "_salt"]).drop("_salt")
    else:
        cand = pts.join(F.broadcast(cov), "hex_cell")
        shapes = F.broadcast(shapes)
    return cand.join(shapes, key).filter(refine).drop("hex_cell")


def contains_join(
    points: DataFrame,
    boxes: DataFrame,
    *,
    res: int = DEFAULT_RES,
    lat: str = "lat",
    lon: str = "lon",
    salt_buckets: int = 0,
    point_salt_key: str | None = None,
    broadcast_boxes: bool = True,
    compact_build: bool = True,
) -> DataFrame:
    """Inner join of points with every box that contains them: the
    ``cover_join`` of the normalized boxes, refined by
    ``geo.point_in_box``. ``boxes`` needs a unique ``box_id``.

    Returns points columns + boxes columns. ``salt_buckets>0`` salts
    the cell join (needs ``point_salt_key``). ``broadcast_boxes`` and
    ``compact_build`` are kept for existing callers only; ``True`` is
    their one legal value and any other raises ``ValueError``.
    """
    if broadcast_boxes is not True or compact_build is not True:
        raise ValueError(
            "contains_join(broadcast_boxes=, compact_build=): the direct "
            "and unhinted plans were removed; use salt_buckets for a shuffle"
        )
    boxes = normalize_boxes(boxes)
    box = tuple(F.col(c) for c in ("min_lat", "max_lat", "min_lon", "max_lon"))
    return cover_join(
        points, boxes, "box_id", box,
        geo.point_in_box(F.col(lat), F.col(lon), *box),
        res=res, lat=lat, lon=lon,
        salt_buckets=salt_buckets, point_salt_key=point_salt_key,
    )


def assign_images(
    images: DataFrame,
    boxes: DataFrame,
    *,
    res: int = DEFAULT_RES,
    keep_payload: bool = False,
) -> DataFrame:
    """Full image pipeline: phash → geotag → clamp → cell → containment
    join. Emits (image_id, lat, lon, box columns…).

    The binary payload is pruned *before* the join (#1 physical rule,
    SURVEY.md §4); with ``keep_payload=True`` it is re-attached by a
    final key join on image_id, so bytes cross exactly one shuffle —
    never the cover join.
    """
    slim = images.select(
        "image_id",
        geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
        geo.phash_to_lon(F.col("phash")).alias("lon"),
    )
    matched = contains_join(slim, boxes, res=res)
    if keep_payload:
        matched = matched.join(images, "image_id")
    return matched
