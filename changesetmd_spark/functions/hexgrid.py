"""Hexagonal tiling (H3-style) as PURE Spark column expressions.

The engine's replacement for the reference's GiST spatial index
(queries.py:57-59): every record gets a hex-cell id; spatial joins
become hash equi-joins on cell ids (SURVEY.md §2.b B4, §4).

Why not the real H3 library? It is not installed in this environment
and per-row Python is banned (input_hint). Instead this module
implements an honest hexagonal grid — pointy-top hexagons in axial
coordinates over the equirectangular (lon, lat) plane, with H3-style
aperture-7 resolution scaling (cell size shrinks by √7 per res) — as
*closed-form column expressions*, so cell assignment runs inside
whole-stage codegen with zero Python.

Cell id packing is linear in (q, r):

    id = res·2^56 + (q + 2^27)·2^28 + (r + 2^27)

which makes neighbor math pure arithmetic: moving one hex step is just
``id + dq·2^28 + dr``; ``grid_disk`` is a literal-offset transform.

Limitations (documented, acceptable for the synthetic geotag domain):
lon must be in [-180, 180) (no antimeridian-crossing boxes), lat is
clamped to [-90, 90] (B8, README.md:187-188). Cells are hexagons in
*degree* space, so physical size varies with latitude — irrelevant for
index correctness (cover ⊇ content is the only invariant joins need),
only for balance, which salting + AQE handle (plans/strategy.py).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# res-0 hexagon circumradius in degrees; shrinks by √7 per resolution
# (H3 aperture-7 scaling). res 7 → ~0.011° ≈ 1.2 km, comparable to H3
# res 7's ~1.2 km edge.
BASE_SIZE_DEG = 10.0
APERTURE_SQRT = math.sqrt(7.0)
MAX_RES = 15

_Q_OFF = 1 << 27
_Q_SHIFT = 1 << 28
_RES_SHIFT = 1 << 56

_SQRT3_3 = math.sqrt(3.0) / 3.0


def size_deg(res: int) -> float:
    """Hex circumradius in degrees at ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return BASE_SIZE_DEG / (APERTURE_SQRT**res)


def _axial_frac(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """Fractional axial (q, r) of a point. Pointy-top hexes:
    q = (√3/3·x − 1/3·y)/size,  r = (2/3·y)/size with x=lon, y=lat."""
    s = size_deg(res)
    lat_c = F.greatest(F.lit(-90.0), F.least(F.lit(90.0), lat))
    q = (F.lit(_SQRT3_3) * lon - lat_c / F.lit(3.0)) / F.lit(s)
    r = (F.lit(2.0 / 3.0) * lat_c) / F.lit(s)
    return q, r


def _cube_round(q: Column, r: Column) -> tuple[Column, Column]:
    """Round fractional axial coords to the containing hex (cube
    rounding), entirely in column expressions."""
    y = -q - r
    rq, rr, ry = F.round(q, 0), F.round(r, 0), F.round(y, 0)
    dq, dr, dy = F.abs(rq - q), F.abs(rr - r), F.abs(ry - y)
    fix_q = (dq > dr) & (dq > dy)
    fix_r = ~fix_q & (dr > dy)
    q_out = F.when(fix_q, -ry - rr).otherwise(rq)
    r_out = F.when(fix_r, -rq - ry).otherwise(rr)
    return q_out.cast("long"), r_out.cast("long")


def pack_cell(res: int, q: Column, r: Column) -> Column:
    """Pack (res, q, r) into one long (linear in q and r)."""
    return (
        F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + (q + F.lit(_Q_OFF)) * F.lit(_Q_SHIFT)
        + (r + F.lit(_Q_OFF))
    )


def hex_cell(lat: Column, lon: Column, res: int) -> Column:
    """Hex cell id of a point — the engine's ``latlng_to_cell``.

    The result is wrapped in ``coalesce(..., 0)`` to mark it
    NON-NULLABLE (it never is null for non-null inputs): when the cell
    id is a join key, Catalyst otherwise infers an ``isnotnull(<full
    cell expression>)`` filter and pushes it below the join — into the
    scan stage — where the entire cube-round expression is evaluated a
    SECOND time per row just to check a condition that is always true
    (r6 plan audit: the flagship gate's scan-side Filter inlined the
    packed-cell expression ~20×). With a non-nullable key no null
    filter is generated at all; the value is unchanged.

    Null contract: a null ``lon`` gives cell 0, and 0 never equals a
    real cell, so the point meets no cover. In the lon/lat domain
    |q|, |r| < 2^26 at every res ≤ MAX_RES, so ``pack_cell`` gives
    ≥ res·2^56 + 2^54: at least 2^56 for res ≥ 1, and above 0 at res 0.
    A null ``lat`` does NOT give 0: ``least``/``greatest`` skip nulls,
    so the clamp turns it into 90 and the point gets the real cell at
    (90, lon). The spatial joins still drop it, because their refine
    tests the raw null lat."""
    q, r = _axial_frac(lat, lon, res)
    qi, ri = _cube_round(q, r)
    return F.coalesce(pack_cell(res, qi, ri), F.lit(0).cast("long"))


def hex_cell_cover(
    min_lat: Column,
    max_lat: Column,
    min_lon: Column,
    max_lon: Column,
    res: int,
) -> Column:
    """array<long> of hex cells covering a lat/lon box — the engine's
    ``polygon_to_cells`` for envelopes (the reference's only polygon
    shape, built by ST_MakeEnvelope at changesetmd.py:166,173).

    Correctness invariant (what the coarse→refine join needs):
    cover(box) ⊇ { hex_cell(p) : p ∈ box }. q is monotone ↑lon ↓lat and
    r is monotone ↑lat, so fractional extremes sit at box corners.
    Cube rounding moves a point's integer cell coordinate at most 1
    away from its fractional coordinate (q_out is either round(q) —
    off by ≤ 0.5 — or −ry−rr, off by |y−ry|+|r−rr| ≤ 1), so the cell
    of a contained point lies in [q_min−1, q_max+1] and the tight
    integer cover is [ceil(q_min−1), floor(q_max+1)] — one cell
    NARROWER per side than the r5 bounds floor(q_min)−1 / ceil(q_max)+1
    (r6 optimization: ~20-25% fewer cover rows through every broadcast
    build and candidate join; superset property re-proved above and
    pinned by the brute-force property tests). The cover is the full
    axial rectangle — a superset, pruned by the exact refine predicate.
    """
    s = size_deg(res)
    lat_lo = F.greatest(F.lit(-90.0), F.least(F.lit(90.0), min_lat))
    lat_hi = F.greatest(F.lit(-90.0), F.least(F.lit(90.0), max_lat))
    q_min = (F.lit(_SQRT3_3) * min_lon - lat_hi / F.lit(3.0)) / F.lit(s)
    q_max = (F.lit(_SQRT3_3) * max_lon - lat_lo / F.lit(3.0)) / F.lit(s)
    r_min = (F.lit(2.0 / 3.0) * lat_lo) / F.lit(s)
    r_max = (F.lit(2.0 / 3.0) * lat_hi) / F.lit(s)
    q_lo = F.ceil(q_min - F.lit(1.0)).cast("long")
    q_hi = F.floor(q_max + F.lit(1.0)).cast("long")
    r_lo = F.ceil(r_min - F.lit(1.0)).cast("long")
    r_hi = F.floor(r_max + F.lit(1.0)).cast("long")
    base = F.lit(res).cast("long") * F.lit(_RES_SHIFT)
    return F.flatten(
        F.transform(
            F.sequence(q_lo, q_hi),
            lambda q: F.transform(
                F.sequence(r_lo, r_hi),
                lambda r: base
                + (q + F.lit(_Q_OFF)) * F.lit(_Q_SHIFT)
                + (r + F.lit(_Q_OFF)),
            ),
        )
    )


def disk_offsets(k: int) -> list[tuple[int, int]]:
    """All axial offsets within hex distance k (|dq|,|dr|,|dq+dr| ≤ k)."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def grid_disk(cell: Column, k: int) -> Column:
    """array<long> of all cells within k hex rings of ``cell`` — the
    engine's ``grid_disk``, used for kNN cell-ring expansion
    (SURVEY.md §2.c). Pure arithmetic thanks to linear packing."""
    deltas = [dq * _Q_SHIFT + dr for dq, dr in disk_offsets(k)]
    return F.transform(
        F.array(*[F.lit(d).cast("long") for d in deltas]),
        lambda d: cell + d,
    )


def polar_cap_cells(res: int, lat0_deg: float, north: bool) -> list[int]:
    """Every cell id that can contain a point with lat ≥ lat0 (north)
    or lat ≤ −lat0 (south) — the polar-cap join keys for kNN's
    high-latitude coverage (operators/knn.py). Driver-side enumeration
    (a few hundred to a few thousand longs at practical res): rows r
    whose latitude span can intersect the cap, full longitude range,
    ±1 cell margin absorbing cube rounding. Guaranteed SUPERSET of
    { hex_cell(p) : |p.lat| ≥ lat0, hemisphere matches } — overcount
    is harmless (extra keys match no points / add candidates), and the
    superset property is what the kNN certificate's latitude bound
    rests on; property-tested against hex_cell_np."""
    s = size_deg(res)
    r_edge = (2.0 / 3.0) * lat0_deg / s
    r_pole = (2.0 / 3.0) * 90.0 / s
    if north:
        r_lo, r_hi = math.floor(r_edge) - 1, math.ceil(r_pole) + 1
    else:
        r_lo, r_hi = -math.ceil(r_pole) - 1, -math.floor(r_edge) + 1
    cells = []
    for r in range(r_lo, r_hi + 1):
        # a cell at row r only contains points with fractional row
        # within ±1 (cube rounding) → lat within 1.5·s·(r±1)
        lat_lo_row = max(-90.0, 1.5 * s * (r - 1))
        lat_hi_row = min(90.0, 1.5 * s * (r + 1))
        q_min = (_SQRT3_3 * -180.0 - lat_hi_row / 3.0) / s
        q_max = (_SQRT3_3 * 180.0 - lat_lo_row / 3.0) / s
        for q in range(math.floor(q_min) - 1, math.ceil(q_max) + 2):
            cells.append(res * _RES_SHIFT + (q + _Q_OFF) * _Q_SHIFT + (r + _Q_OFF))
    return cells


def cell_to_parent(cell: Column, child_res: int, parent_res: int) -> Column:
    """Re-encode a cell at a coarser resolution via its center point."""
    lat, lon = cell_center(cell, child_res)
    return hex_cell(lat, lon, parent_res)


def cell_center(cell: Column, res: int) -> tuple[Column, Column]:
    """(lat, lon) center of a cell id at known ``res``."""
    s = size_deg(res)
    qr = cell - F.lit(res).cast("long") * F.lit(_RES_SHIFT)
    # bit ops, not double division: packed values exceed double mantissa
    q = F.shiftright(qr, 28) - F.lit(_Q_OFF)
    r = qr.bitwiseAND(F.lit(_Q_SHIFT - 1)) - F.lit(_Q_OFF)
    lat = F.lit(1.5 * s) * r
    lon = F.lit(s) * (F.lit(math.sqrt(3.0)) * q + F.lit(math.sqrt(3.0) / 2.0) * r)
    return lat, lon


def HEX_CELL_SQL(lat: str, lon: str, res: int) -> str:
    """ANSI-SQL twin of ``hex_cell`` (DuckDB-compatible), used by the
    correctness gate to check the tiling math itself cross-engine.
    Mirrors the exact double arithmetic: same literals, same half-up
    rounding (floor(x+0.5)/ceil(x-0.5) — Spark's F.round semantics),
    same cube-round fixups, same linear packing."""
    s = repr(size_deg(res))
    lat_c = f"greatest(-90.0, least(90.0, {lat}))"
    q = f"(({_SQRT3_3!r} * {lon} - {lat_c} / 3.0) / {s})"
    r = f"((0.6666666666666666 * {lat_c}) / {s})"
    y = f"(-{q} - {r})"
    hu = lambda x: f"(CASE WHEN {x} >= 0 THEN floor({x} + 0.5) ELSE ceil({x} - 0.5) END)"  # noqa: E731
    rq, rr, ry = hu(q), hu(r), hu(y)
    dq = f"abs({rq} - {q})"
    dr = f"abs({rr} - {r})"
    dy = f"abs({ry} - {y})"
    fix_q = f"({dq} > {dr} AND {dq} > {dy})"
    fix_r = f"(NOT {fix_q} AND {dr} > {dy})"
    q_out = f"CAST((CASE WHEN {fix_q} THEN -{ry} - {rr} ELSE {rq} END) AS BIGINT)"
    r_out = f"CAST((CASE WHEN {fix_r} THEN -{rq} - {ry} ELSE {rr} END) AS BIGINT)"
    return (
        f"(CAST({res} AS BIGINT) * {_RES_SHIFT} "
        f"+ ({q_out} + {_Q_OFF}) * CAST({_Q_SHIFT} AS BIGINT) "
        f"+ ({r_out} + {_Q_OFF}))"
    )


# ---------------------------------------------------------------------------
# numpy twins — used by tests (independent re-derivation) and by any
# Arrow-UDF path that wants cells without a shuffle-side expression.
# ---------------------------------------------------------------------------

def hex_cell_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    s = size_deg(res)
    lat_c = np.clip(np.asarray(lat, dtype=np.float64), -90.0, 90.0)
    lon = np.asarray(lon, dtype=np.float64)
    q = (_SQRT3_3 * lon - lat_c / 3.0) / s
    r = (2.0 / 3.0 * lat_c) / s
    y = -q - r
    # np.round is banker's rounding; Spark F.round(_, 0) is HALF_UP.
    # Match Spark: floor(x + 0.5) for positives, ceil(x - 0.5) for negs.
    def _half_up(x: np.ndarray) -> np.ndarray:
        return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))

    rq, rr, ry = _half_up(q), _half_up(r), _half_up(y)
    dq, dr, dy = np.abs(rq - q), np.abs(rr - r), np.abs(ry - y)
    fix_q = (dq > dr) & (dq > dy)
    fix_r = ~fix_q & (dr > dy)
    q_out = np.where(fix_q, -ry - rr, rq).astype(np.int64)
    r_out = np.where(fix_r, -rq - ry, rr).astype(np.int64)
    return (
        np.int64(res) * np.int64(_RES_SHIFT)
        + (q_out + _Q_OFF) * np.int64(_Q_SHIFT)
        + (r_out + _Q_OFF)
    )
