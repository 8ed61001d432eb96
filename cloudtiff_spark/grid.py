"""Tile grid + overview pyramid math.

The single source of truth for grid semantics, used two ways:
1. numpy/python helpers (fixture generation + pytest brute-force oracles),
2. Spark SQL fragment builders (the engine hot path): each takes and
   returns SQL text, so an operator plans a stage as one ``selectExpr``
   (pure Catalyst expressions, whole-stage codegen, no Python).
``__spark_entry__.oracle_sql()`` restates the rules in DuckDB SQL as an
independent recompute; it shares no text with the fragments here.

Semantics (reference parity):
- Level dims: ``full // 2**level`` integer division, min 1
  (encode/mod.rs:406-408).
- Number of levels: base + overviews until one tile covers both axes —
  level ``l >= 1`` exists iff level ``l-1`` still exceeds one tile on some
  axis (equivalent to ceil(log2(max(w/tw, h/th))) overviews,
  encode/mod.rs:398-401, for all non-pathological dims; exactly integer-
  defined so Spark and DuckDB agree bit-for-bit).
- Grid: cols = ceil(lw/tw), rows = ceil(lh/th) (level.rs:405-412);
  row-major ``tile_idx = row*cols + col`` (level.rs:263, 384-388).
- Edge tiles are stored full-size, zero-padded (encode/mod.rs:559-567).
- Tile bounds in normalized image coords u,v in [0,1] (level.rs:384-402),
  clamped at 1.0 on the far edge.
"""

from __future__ import annotations

MAX_LEVELS = 13  # supports images up to tile*2^12 on a side


# ---------------------------------------------------------------------------
# python/numpy reference implementations (oracles + fixture generator)
# ---------------------------------------------------------------------------


def level_dims(w: int, h: int, level: int) -> tuple[int, int]:
    return max(1, w // (1 << level)), max(1, h // (1 << level))


def num_levels(w: int, h: int, tw: int, th: int) -> int:
    n = 1
    while True:
        lw, lh = level_dims(w, h, n - 1)
        if lw <= tw and lh <= th:
            return n
        n += 1


def grid_shape(lw: int, lh: int, tw: int, th: int) -> tuple[int, int]:
    return -(-lw // tw), -(-lh // th)  # (cols, rows), ceil div


def tile_bounds_norm(
    lw: int, lh: int, tw: int, th: int, col: int, row: int
) -> tuple[float, float, float, float]:
    """(u0, v0, u1, v1) normalized bounds of a tile; far edge clamped to 1."""
    return (
        col * tw / lw,
        row * th / lh,
        min(1.0, (col + 1) * tw / lw),
        min(1.0, (row + 1) * th / lh),
    )


def tiles_for_crop(
    lw: int, lh: int, tw: int, th: int, u0: float, v0: float, u1: float, v1: float
) -> list[tuple[int, int, int]]:
    """P6 partition pruning (level.rs:204-231): tile (idx, col, row) covered
    by a normalized crop rect, clamped to the grid."""
    import math

    cols, rows = grid_shape(lw, lh, tw, th)
    c0 = max(0, min(cols - 1, math.floor(u0 * lw / tw)))
    c1 = max(0, min(cols - 1, math.ceil(u1 * lw / tw) - 1))
    r0 = max(0, min(rows - 1, math.floor(v0 * lh / th)))
    r1 = max(0, min(rows - 1, math.ceil(v1 * lh / th) - 1))
    out = []
    for r in range(r0, r1 + 1):
        for c in range(c0, c1 + 1):
            out.append((r * cols + c, c, r))
    return out


# ---------------------------------------------------------------------------
# Spark SQL fragments (operands and results are SQL text)
# ---------------------------------------------------------------------------


def levels_expr(w: str, h: str, tw: str, th: str) -> str:
    """array<int> of level numbers for an image.

    level 0 always exists; level l>=1 exists iff level l-1 overflows one
    tile on either axis: floor(w/2^(l-1)) > tw or floor(h/2^(l-1)) > th.
    """
    prev = lambda full: f"GREATEST(FLOOR(({full}) / POWER(2.0D, _l - 1)), 1)"  # noqa: E731
    return (
        f"FILTER(SEQUENCE(0, {MAX_LEVELS - 1}), _l -> _l = 0 "
        f"OR {prev(w)} > CAST({tw} AS BIGINT) OR {prev(h)} > CAST({th} AS BIGINT))"
    )


def level_dim_expr(full: str, level: str) -> str:
    """max(1, full // 2**level) (exact for int32)."""
    return f"CAST(GREATEST(FLOOR(({full}) / POWER(2.0D, {level})), 1) AS INT)"


def ceil_div_expr(a: str, b: str) -> str:
    return f"CAST(FLOOR((CAST({a} AS BIGINT) + CAST({b} AS BIGINT) - 1) / CAST({b} AS BIGINT)) AS INT)"
