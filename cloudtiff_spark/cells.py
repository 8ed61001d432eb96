"""Hierarchical grid-cell index (H3/S2 stand-in).

No h3/s2 library exists in this container, so the cell index is a
from-scratch hierarchical lon/lat grid (quadtree, like the slippy-map /
Bing-quadkey convention but in plate-carree so that every step is exact
closed-form column math):

    at resolution z (0..MAX_RES): 2^z * 2^z cells over lon[-180,180] x lat[-90,90]
    cx = clamp(floor((lon+180)/360 * 2^z), 0, 2^z-1)
    cy = clamp(floor(( 90-lat)/180 * 2^z), 0, 2^z-1)
    cell = (z << 58) | (cx << 29) | cy        (int64, positive for z<=28)

Properties used by the engine:
- parent(cell) = cell at z-1 with cx>>1, cy>>1 (pure bit math),
- kNN ring r = all cells with chebyshev distance r (knn.py),
- a cell at resolution z spans 360/2^z deg of lon and 180/2^z deg of lat,
  so "resolution matched to the COG tile footprint" picks the coarsest z
  whose lon-span is <= the tile's ground width (BASELINE.json north_star).

Two implementations: the python reference functions below (oracles and
fixture generators) and the engine path, SQL fragment builders that each
operator splices into one ``selectExpr`` per stage (built as text, a stage
costs a few py4j round trips to plan instead of one per operator).
``__spark_entry__.oracle_sql`` writes the same formulas again in DuckDB SQL
on purpose: it is an independent recompute and shares no text with these.

Reference analog: the COG tile grid itself + WMTS tile tree
(/root/reference/src/render/wmts.rs:124-179); this index generalizes those
to a global join key the way H3/S2 would on a real deployment.
"""

from __future__ import annotations

import math

MAX_RES = 20
#: fixed resolution for the PIP equi-join key (see spatial.py). Measured on
#: the sf0.1 fixture: z=9 (0.70 x 0.35 deg cells) cuts false candidates ~4x
#: vs z=6 while keeping the query-side cell cover small (polygons <= 5 deg).
Z_JOIN = 9

_ZSHIFT = 58
_XSHIFT = 29


# ---------------------------------------------------------------------------
# python reference implementations (oracles + generators)
# ---------------------------------------------------------------------------


def cell_xy(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    cx = min(n - 1, max(0, math.floor((lon + 180.0) / 360.0 * n)))
    cy = min(n - 1, max(0, math.floor((90.0 - lat) / 180.0 * n)))
    return cx, cy


def cell_id(lon: float, lat: float, z: int) -> int:
    cx, cy = cell_xy(lon, lat, z)
    return (z << _ZSHIFT) | (cx << _XSHIFT) | cy


def pack(z: int, cx: int, cy: int) -> int:
    return (z << _ZSHIFT) | (cx << _XSHIFT) | cy


def unpack(cell: int) -> tuple[int, int, int]:
    return cell >> _ZSHIFT, (cell >> _XSHIFT) & ((1 << 29) - 1), cell & ((1 << 29) - 1)


def res_for_footprint(width_deg: float) -> int:
    """Coarsest z whose lon cell span (360/2^z) <= footprint width; i.e. the
    resolution 'matching' a tile footprint. Clamped to [0, MAX_RES]."""
    if width_deg <= 0:
        return MAX_RES
    z = math.floor(math.log2(360.0 / width_deg))
    return min(MAX_RES, max(0, z))


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, z: int) -> list[int]:
    """All cells at z intersecting a lon/lat rect (inclusive of edges)."""
    x0, y0 = cell_xy(xmin, ymax, z)  # note: top-left = (xmin, ymax)
    x1, y1 = cell_xy(xmax, ymin, z)
    return [pack(z, cx, cy) for cy in range(y0, y1 + 1) for cx in range(x0, x1 + 1)]


# ---------------------------------------------------------------------------
# Spark SQL fragments (the engine path: no UDF anywhere)
# ---------------------------------------------------------------------------
# Each builder takes SQL text for its operands (column names, literals or
# whole expressions) and returns SQL text, so a stage is one selectExpr.
# Double literals carry the D suffix: a bare ``2.0`` parses as DECIMAL.


def cell_xy_expr(lon: str, lat: str, z) -> tuple[str, str]:
    # 2^z as a bigint, exact for z <= 28
    n = f"CAST(POWER(2.0D, {z}) AS BIGINT)"
    cx = f"LEAST({n} - 1, GREATEST(CAST(0 AS BIGINT), FLOOR((({lon}) + 180.0D) / 360.0D * {n})))"
    cy = f"LEAST({n} - 1, GREATEST(CAST(0 AS BIGINT), FLOOR((90.0D - ({lat})) / 180.0D * {n})))"
    return cx, cy


def pack_expr(z, cx: str, cy: str) -> str:
    return (
        f"CAST(SHIFTLEFT(CAST({z} AS BIGINT), {_ZSHIFT}) + SHIFTLEFT(CAST({cx} AS BIGINT), "
        f"{_XSHIFT}) + CAST({cy} AS BIGINT) AS BIGINT)"
    )


def cell_id_expr(lon: str, lat: str, z) -> str:
    return pack_expr(z, *cell_xy_expr(lon, lat, z))


def res_for_footprint_expr(width_deg: str) -> str:
    return f"LEAST({MAX_RES}, GREATEST(0, CAST(FLOOR(LOG2(360.0D / ({width_deg}))) AS INT)))"
