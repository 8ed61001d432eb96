"""Metadata derivation: images -> levels -> tile assignments.

This is the analyze stage of the reference (CloudTiff::open,
/root/reference/src/cog/mod.rs:91-135 + Level::from_ifd level.rs:106-178)
re-expressed as pure Catalyst column math: every expression below stays
inside whole-stage codegen — no Python is involved until pixels are touched.

Input is the fixture ``images_meta`` table (the deterministic geo-anchor of
FIXTURES.md T2; in a production deployment these columns come out of the
TIFF/GeoKey parse UDF, see operators/decode.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..cells import Z_JOIN, cell_id_expr, res_for_footprint_expr
from ..grid import ceil_div_expr, level_dim_expr, levels_expr


def levels_df(meta: DataFrame) -> DataFrame:
    """Explode each image into its pyramid levels (cog/mod.rs:115-126 +
    encode/mod.rs:398-408 level-count rule). Output grain: (image_id, level).
    """
    lw, lh = level_dim_expr("w", "level"), level_dim_expr("h", "level")
    cols, rows = ceil_div_expr(lw, "tile_w"), ceil_div_expr(lh, "tile_h")
    return meta.selectExpr(
        "*", f"explode({levels_expr('w', 'h', 'tile_w', 'tile_h')}) AS level"
    ).selectExpr(
        "*",
        f"{lw} AS lw",
        f"{lh} AS lh",
        f"{cols} AS cols",
        f"{rows} AS rows",
        f"CAST({cols} * {rows} AS INT) AS n_tiles",
    )


def tiles_df(levels: DataFrame) -> DataFrame:
    """Explode levels into the full tile grid with geo footprint + cell key.

    Row-major tile_idx = row*cols + col (level.rs:263, 384-388); normalized
    tile bounds clamped at 1.0 (level.rs:384-402); geo footprint = linear
    interpolation of the image's EPSG:4326 bounds (for 32609 images this is
    the 8-point bounds box, the same approximation the reference's
    bounds-based WMTS path uses, render/wmts.rs:22-44).

    ``cell``/``cell_res``: grid cell of the tile center at the resolution
    matched to the tile's ground footprint (north_star); ``cell_join``: the
    fixed-resolution ancestor used as the equi-join key (spatial.py).
    """
    u0 = "tile_col * tile_w / lw"
    u1 = "LEAST(1.0D, (tile_col + 1) * tile_w / lw)"
    v0 = "tile_row * tile_h / lh"
    v1 = "LEAST(1.0D, (tile_row + 1) * tile_h / lh)"
    lon_c = f"xmin + (({u0}) + ({u1})) / 2 * (xmax - xmin)"
    lat_c = f"ymax - (({v0}) + ({v1})) / 2 * (ymax - ymin)"
    cell_res = res_for_footprint_expr("(xmax - xmin) * tile_w / lw")
    return (
        levels.selectExpr("*", "explode(sequence(0, rows - 1)) AS tile_row")
        .selectExpr("*", "explode(sequence(0, cols - 1)) AS tile_col")
        .selectExpr(
            "*",
            "CAST(tile_row * cols + tile_col AS INT) AS tile_idx",
            f"{u0} AS u0",
            f"{v0} AS v0",
            f"{u1} AS u1",
            f"{v1} AS v1",
            f"{lon_c} AS lon_c",
            f"{lat_c} AS lat_c",
            f"{cell_res} AS cell_res",
            f"{cell_id_expr(lon_c, lat_c, cell_res)} AS cell",
            f"{cell_id_expr(lon_c, lat_c, Z_JOIN)} AS cell_join",
        )
    )


def tile_assignments(meta: DataFrame) -> DataFrame:
    """The north-star stage-1 output: one row per (image, level, tile)."""
    return tiles_df(levels_df(meta)).selectExpr(
        "image_id",
        "level",
        "tile_idx",
        "tile_col",
        "tile_row",
        "cell",
        "cell_res",
        "cell_join",
        "lon_c",
        "lat_c",
        "caption",
        "phash",
    )
