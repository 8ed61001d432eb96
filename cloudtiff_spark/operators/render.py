"""Raster extraction: crop render (E2) and reprojected region render (E3).

Mirrors the reference render paths (/root/reference/src/render/renderer.rs):

- E2 crop render (renderer.rs:110-148): pick the cheapest level satisfying
  the output resolution (cog/mod.rs:218-236 via util.rs:34-56), prune to
  the covered tile rectangle (level.rs:204-231), fetch+decode those tiles
  (tiles.rs:26-57 — here: an equi inner join against the tiles table, J1),
  then nearest-neighbor gather into the output raster.
- E3 reprojected region (renderer.rs:157-185 + util.rs:155-204): build the
  output pixel grid in the target CRS, transform every pixel center into
  source image coords (P3, vectorized), gather nearest pixels.

Output grain: one row per (query, image) with the assembled raster as a
binary column + dims — the Spark shape of the reference's Raster return.
All pixel math is numpy in per-group kernels run by ``stream_groups``;
the shuffle that groups a render's tiles together is the Spark analog of
the reference's tokio/rayon fan-in (SURVEY.md §3 E2 step 4-5).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..codecs import decode_image
from .spatial import (
    _explode_tiles,
    _lod_pick,
    _tile_range,
    region_extract_picked,
    slippy_bounds_np,
)

RENDER_SCHEMA = StructType(
    [
        StructField("query_id", StringType()),
        StructField("image_id", StringType()),
        StructField("level", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("raster", BinaryType()),
    ]
)


def _mosaic_bbox(pdf: pd.DataFrame) -> tuple[np.ndarray, int, int]:
    """Mosaic the group's tiles into a canvas sized to their bounding box,
    on the level grid its first row carries (lw, lh, tile_w, tile_h, cols).

    Tiles arrive either pre-decoded (a ``raw`` column of interleaved RGB —
    the decode-once path) or compressed (``tile_bytes`` + ``fmt``, decoded
    here). Returns (canvas, y_off, x_off) where offsets are the level-pixel
    coords of the canvas origin. Missing tiles inside the box stay zero —
    the same value a full-level sparse canvas would have yielded, so
    renders are byte-identical to the old full-level allocation while peak
    memory is O(covered tiles) instead of O(level pixels) — the Spark
    analog of the reference allocating only output-raster-sized buffers
    (renderer.rs:110-148).
    """
    r0 = pdf.iloc[0]
    lw, lh = int(r0["lw"]), int(r0["lh"])
    tw, th, cols = int(r0["tile_w"]), int(r0["tile_h"]), int(r0["cols"])
    idx = pdf["tile_idx"].to_numpy().astype(np.int64)
    rs, cs = idx // cols, idx % cols
    r_min, r_max = int(rs.min()), int(rs.max())
    c_min, c_max = int(cs.min()), int(cs.max())
    y_off, x_off = r_min * th, c_min * tw
    canvas = np.zeros(((r_max - r_min + 1) * th, (c_max - c_min + 1) * tw, 3), dtype=np.uint8)
    pre = "raw" in pdf.columns
    tb = pdf["raw" if pre else "tile_bytes"].to_numpy()
    fmts = None if pre else pdf["fmt"].to_numpy()
    for pos in range(len(idx)):
        if pre:
            tile = np.frombuffer(tb[pos], dtype=np.uint8).reshape(th, tw, 3)
        else:
            tile = decode_image(tb[pos], fmts[pos], tw, th)
        y0 = int(rs[pos]) * th - y_off
        x0 = int(cs[pos]) * tw - x_off
        # clip the last row/col of tiles to the level edge (zero-pad beyond)
        hh = min(th, lh - int(rs[pos]) * th)
        ww = min(tw, lw - int(cs[pos]) * tw)
        canvas[y0 : y0 + hh, x0 : x0 + ww] = tile[:hh, :ww]
    return canvas, y_off, x_off


def decode_tiles_once(tiles: DataFrame) -> DataFrame:
    """Decode tiles to raw interleaved RGB exactly once per tile
    (image_id, level, tile_idx, raw). The render paths whose groups OVERLAP
    on tiles (region_render: many queries x one image) join against this
    instead of re-decoding per group — trading ~2x shuffle bytes (raw vs
    compressed) for one decode total, the right trade whenever the average
    tile is consumed by >1 group."""

    def gen(batches):
        for pdf in batches:
            ids, lvs, idxs, raws = [], [], [], []
            cols = (
                pdf[c].to_numpy()
                for c in ("image_id", "level", "tile_idx", "tile_w", "tile_h", "fmt", "tile_bytes")
            )
            for image_id, lv, ti, tw, th, fmt, data in zip(*cols):
                ids.append(image_id)
                lvs.append(lv)
                idxs.append(ti)
                raws.append(decode_image(data, fmt, int(tw), int(th)).tobytes())
            yield pd.DataFrame(
                {"image_id": ids, "level": lvs, "tile_idx": idxs, "raw": raws}
            )

    return tiles.mapInPandas(gen, schema="image_id string, level int, tile_idx int, raw binary")


def _tile_side(tiles: DataFrame) -> DataFrame:
    """The tile columns a render joins on (image_id, level, tile_idx) with
    its payload: pre-decoded ``raw`` when the relation carries it (the
    session's raw-tile cache), else ``fmt`` + compressed ``tile_bytes``."""
    pay = ("raw",) if "raw" in tiles.columns else ("fmt", "tile_bytes")
    return tiles.selectExpr("image_id", "level", "tile_idx", *pay)


def _out_dims(rw: float, rh: float, mp_limit: float) -> tuple[int, int]:
    """Output dims: mp cap + aspect (util.rs:131-142). ONE definition shared
    by the whole-render and block-tiled paths — the blocked path is
    byte-identical only while every derived quantity uses the identical
    float expressions."""
    out_h = int(max(1, round(np.sqrt(mp_limit * 1e6 / (rw / rh)))))
    out_w = int(max(1, round((rw / rh) * out_h)))
    return out_w, out_h


def _out_lonlat(r0) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Full output-grid pixel-center lon/lat axes (EPSG:4326 target grid).
    Block paths SLICE these arrays — slicing preserves the exact float
    values the whole-render path computes. Rows carrying res_w/res_h
    (wmts_render's fixed-resolution tiles, the analog of the reference's
    RenderBuilder.with_exact_resolution, render/mod.rs:149-151) use those
    exact output dims instead of the mp-limit formula."""
    rxmin, rymin, rxmax, rymax = (float(r0[k]) for k in ("rxmin", "rymin", "rxmax", "rymax"))
    rw, rh = rxmax - rxmin, rymax - rymin
    has_w = "res_w" in r0 and r0["res_w"] is not None and not pd.isna(r0["res_w"])
    has_h = "res_h" in r0 and r0["res_h"] is not None and not pd.isna(r0["res_h"])
    if has_w != has_h:
        # half-set resolution would otherwise surface as an opaque
        # TypeError deep inside a Python worker (r6 review pass 1 #2)
        raise ValueError(
            f"fixed output resolution needs BOTH res_w and res_h; got "
            f"res_w={r0.get('res_w')} res_h={r0.get('res_h')}"
        )
    if has_w:
        out_w, out_h = int(r0["res_w"]), int(r0["res_h"])
    else:
        out_w, out_h = _out_dims(rw, rh, float(r0["mp_limit"]))
    lon = rxmin + (np.arange(out_w) + 0.5) / out_w * rw
    lat = rymax - (np.arange(out_h) + 0.5) / out_h * rh
    return lon, lat, out_w, out_h


def _map_separable(r0, lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """4326 image: separable affine lon->px, lat->py (ABSOLUTE level pixel
    coords, unclipped — may be negative / beyond the level)."""
    xmin, ymin, xmax, ymax = (float(r0[k]) for k in ("xmin", "ymin", "xmax", "ymax"))
    lw, lh = int(r0["lw"]), int(r0["lh"])
    u = (lon - xmin) / (xmax - xmin)
    v = (ymax - lat) / (ymax - ymin)
    return np.floor(u * lw).astype(np.int64), np.floor(v * lh).astype(np.int64)


def _map_projected(r0, lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Projected image: exact per-pixel CRS transform of the (lon x lat)
    grid (P3 / J2, util.rs:155-204) -> ABSOLUTE level pixel coords, shape
    (len(lat), len(lon)). Elementwise, so a block slice of the output grid
    yields bit-identical values to slicing the whole-grid result."""
    from ..projection import image_coords_from_crs, transform_coords

    lw, lh = int(r0["lw"]), int(r0["lh"])
    LON, LAT = np.meshgrid(lon, lat)
    X, Y = transform_coords(LON.ravel(), LAT.ravel(), 4326, int(r0["epsg"]))
    sx = float(r0["scale_px"]) * int(r0["w"])
    sy = float(r0["scale_px"]) * int(r0["h"])
    U, V = image_coords_from_crs(X, Y, float(r0["origin_x"]), float(r0["origin_y"]), sx, sy)
    px = np.floor(U * lw).astype(np.int64).reshape(len(lat), len(lon))
    py = np.floor(V * lh).astype(np.int64).reshape(len(lat), len(lon))
    return px, py


def _gather(
    canvas: np.ndarray, y_off: int, x_off: int, apx: np.ndarray, apy: np.ndarray,
    lw: int, lh: int,
) -> np.ndarray:
    """Nearest gather of ABSOLUTE level pixel coords (apx, apy) from a
    canvas whose origin sits at level pixel (y_off, x_off) — the one
    gather kernel of every render path. Pixels off the canvas or beyond
    the level edge read 0 (a missing tile). 1-D coords (a separable map:
    apx per output column, apy per output row) gather the rows x cols
    outer product; 2-D coords (the projected per-pixel map) gather
    elementwise."""
    ch, cw = canvas.shape[0], canvas.shape[1]
    px, py = apx - x_off, apy - y_off
    ok_x = (px >= 0) & (px < cw) & (apx < lw)
    ok_y = (py >= 0) & (py < ch) & (apy < lh)
    px, py = np.clip(px, 0, cw - 1), np.clip(py, 0, ch - 1)
    if apx.ndim == 1:
        # np.take rows then columns: copying the (out_h, cw, 3) row
        # intermediate costs less than one canvas[np.ix_(py, px)], whose
        # advanced-indexing iterator works per element. Whole _gather for
        # a 387x646 output from a 640x640 canvas (4-CPU Xeon host):
        # 0.75 ms vs 3.15 ms with np.ix_
        out = canvas.take(py, axis=0).take(px, axis=1)
        out[~ok_y, :, :] = 0
        out[:, ~ok_x, :] = 0
    else:
        # flat take of whole pixels: the index step takes 0.95 ms vs
        # 3.25 ms for canvas[py, px] at the same shapes
        out = canvas.reshape(ch * cw, -1).take(py * cw + px, axis=0)
        out[~(ok_x & ok_y)] = 0
    return out


def _render_one(r0, canvas: np.ndarray, y_off: int, x_off: int) -> dict:
    """Render ONE (query, image) output raster from a canvas covering the
    pair's own tile bbox (region_render's per-group assemble; wmts_render
    reaches it through region_render). ``r0`` carries the level geometry
    + query rect keys."""
    # output pixel centers (EPSG:4326 target grid) -> absolute level
    # pixel coords. For 4326 images the affine is direct; for projected
    # images every pixel center goes through the exact CRS transform
    # (P3 / the pixel-map reprojection join J2, util.rs:155-204) — not
    # the bounds-box linear approximation.
    lon, lat, out_w, out_h = _out_lonlat(r0)
    mapper = _map_separable if int(r0["epsg"]) == 4326 else _map_projected
    apx, apy = mapper(r0, lon, lat)
    out = _gather(canvas, y_off, x_off, apx, apy, int(r0["lw"]), int(r0["lh"]))
    return {
        "query_id": r0["query_id"],
        "image_id": r0["image_id"],
        "level": int(r0["level"]),
        "out_w": out_w,
        "out_h": out_h,
        "raster": out.tobytes(),
    }


#: a stream_groups yield flushes once its pending rows' ``bytes`` values
#: reach this many bytes, so no output frame holds more than this plus one row
STREAM_FLUSH_BYTES = 64 << 20


def stream_runs(batches, keys: list[str], fn: Callable[[pd.DataFrame], dict], names: list[str]):
    """The mapInPandas body of stream_groups: ``batches`` are sorted by
    ``keys``; call ``fn(group_pdf)`` once per run of equal keys and yield
    its row dicts as frames with columns ``names``. The last run of a
    batch may continue in the next one, so it carries over. A frame is
    yielded at each batch end and whenever the pending rows' ``bytes``
    values reach STREAM_FLUSH_BYTES."""
    carry = None
    for pdf in batches:
        if not len(pdf):
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        new = np.zeros(len(pdf), dtype=bool)
        new[0] = True
        for k in keys:  # factorize codes every null -1: nulls form one run
            codes = pd.factorize(pdf[k])[0]
            new[1:] |= codes[1:] != codes[:-1]
        starts = np.flatnonzero(new)
        carry = pdf.iloc[starts[-1] :]
        rows, pending = [], 0
        for a, b in zip(starts[:-1], starts[1:]):
            rows.append(fn(pdf.iloc[a:b]))
            pending += sum(len(v) for v in rows[-1].values() if isinstance(v, bytes))
            if pending >= STREAM_FLUSH_BYTES:
                yield pd.DataFrame(rows, columns=names)
                rows, pending = [], 0
        if rows:
            yield pd.DataFrame(rows, columns=names)
    if carry is not None:
        yield pd.DataFrame([fn(carry)], columns=names)


def stream_groups(
    df: DataFrame, keys: list[str], fn: Callable[[pd.DataFrame], dict], schema: StructType | str
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas`` for kernels that emit ONE row
    per group: ``fn(group_pdf)`` returns that row as a dict keyed by the
    ``schema`` field names. The plan is the same hash exchange + sort that
    applyInPandas plans, consumed by mapInPandas (stream_runs), so the
    per-call cost is paid once per Arrow batch, not once per group:
    measured on 60k one-row groups at ``local[4]``, applyInPandas took
    76-91 s and this path 4.3-5.7 s. Output frames are bounded by
    STREAM_FLUSH_BYTES, not by the number of groups in a batch.

    Partitions: the exchange hashes ``keys`` into exactly
    ``defaultParallelism`` partitions (one per core), whatever their byte
    size. Adaptive execution never coalesces a repartition with an explicit
    count; a by-column one it reads as bytes, and a few small rows of
    costly groups (a render's tile refs) collapsed into one or two tasks.
    Trap: an upstream exchange on the same keys and count (a window or
    aggregate partitioned by ``keys``, with ``spark.sql.shuffle.partitions``
    equal to the core count) makes Spark drop this one as redundant, and
    the upstream one may still be coalesced."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    n = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n, *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(lambda it: stream_runs(it, keys, fn, names), schema)
    )


def region_render(
    levels: DataFrame, tiles: DataFrame, queries: DataFrame, decode_once: bool = False
) -> DataFrame:
    """Render every 'region' query against every intersecting image.

    Pipeline: region_extract_picked (LOD pick + tile-range pruning, with
    the level and query render params) -> explode of the tile range ->
    inner join to the materialized tiles table on (image_id, level,
    tile_idx) [J1] ->
    stream_groups keyed by (query, image): mosaic + nearest gather, one
    output row per group.

    ``decode_once=True`` routes tiles through decode_tiles_once: each
    distinct tile decodes exactly once and groups receive raw rasters.
    Worth it when per-tile decode cost x duplication factor exceeds the
    extra shuffle (raw is ~2x compressed bytes) + the cached key-set pass.
    On perfbench ``tile_render`` seed 1 the region pass makes 83 tile
    references to 34 distinct tiles (the crop pass 285, all distinct), and
    a 64x64 tile decodes in 0.06 (deflate) to 3.3 ms (LZW;
    tools/codec_bench.py), so decode-once would save 49 decodes, under
    0.2 s of CPU across the cores, at the price of an extra distinct,
    semi-join and Python stage. Compressed-bytes-per-group stays the
    default; flip it when tiles are large or query fan-in is high.

    A ``tiles`` relation that ALREADY carries a ``raw`` column (the
    session-persisted pre-decoded tile cache, __spark_entry__:
    _shared_tiles_raw) is consumed as-is: groups receive raw rasters with
    no decode and no extra pass — the decode-once trade without its
    per-call key-set cost, amortized across every render query of the
    session (r7; byte-identical outputs, _mosaic_bbox's ``raw`` path)."""
    res_cols = [c for c in ("res_w", "res_h") if c in queries.columns]
    if len(res_cols) == 1:
        raise ValueError(
            f"queries carry {res_cols[0]} without its partner; fixed "
            "output resolution needs BOTH res_w and res_h columns"
        )
    # one row per (query, image, tile) with the pair's render parameters
    # (res_w/res_h ride along when the caller fixed the output resolution
    # — wmts_render), all from the one extract relation
    params = [
        "query_id", "image_id", "level", "lw", "lh", "tile_w", "tile_h", "cols", "rows",
        "xmin", "ymin", "xmax", "ymax", "epsg", "origin_x", "origin_y", "scale_px",
        "w", "h", "rxmin", "rymin", "rxmax", "rymax", "mp_limit", *res_cols,
    ]
    picked = region_extract_picked(levels, queries).selectExpr(*params, "tr0", "tr1", "tc0", "tc1")
    wanted = _explode_tiles(picked, "tr0", "tr1", "tc0", "tc1").selectExpr(*params, "tile_idx")
    keys = ["image_id", "level", "tile_idx"]
    if decode_once and "raw" not in tiles.columns:
        # `wanted` (a small pruned key set) is consumed by BOTH the
        # needed-tiles branch and the final join; recomputing it is the
        # price of NOT caching inside an operator (a .cache() here would
        # leak persisted partitions for the session lifetime — callers who
        # loop should persist/unpersist `wanted`-shaped inputs themselves)
        needed = wanted.selectExpr(*keys).distinct()
        tile_side = decode_tiles_once(tiles.join(needed, keys, "left_semi"))
    else:
        tile_side = _tile_side(tiles)
    joined = wanted.join(tile_side, keys, "inner")

    def assemble(pdf: pd.DataFrame) -> dict:
        return _render_one(pdf.iloc[0], *_mosaic_bbox(pdf))

    return stream_groups(joined, ["query_id", "image_id"], assemble, RENDER_SCHEMA)


def wmts_render(
    levels: DataFrame,
    tiles: DataFrame,
    queries: DataFrame,
    tile_px: int = 256,
) -> DataFrame:
    """Render each queried slippy tile (kind='wmts') as a fixed
    tile_px x tile_px raster over the tile's lon/lat bounds — the Spark
    analog of the reference's xyz tile entry point (render/wmts.rs:124-141
    tile_bounds_lat_lon_deg feeding RenderBuilder.of_output_region +
    with_exact_resolution, render/mod.rs:149-196).

    Every (tile, image) pair flows through the SAME LOD pick / tile-range
    prune / pruned join / bounded-canvas gather math as region_render; the
    only differences are (a) the region rect is the tile's slippy bounds
    and (b) the output grid is exactly tile_px square (res_w/res_h
    columns) instead of mp-limit-derived. The LOD pick itself uses the
    standard mp-continuous rule with mp_limit = tile_px^2/1e6. Tile bounds
    are computed in a numpy mapInPandas stage (slippy_bounds_np) so they
    are bit-identical to the sequential oracle recompute — and the stage
    stays fully distributed for pyramid-scale tile sets.

    Output schema matches region_render (query_id, image_id, level,
    out_w, out_h, raster)."""
    q = queries.filter("kind = 'wmts'").selectExpr("query_id", "qz", "qx", "qy")
    mp = tile_px * tile_px / 1e6

    def bounds(batches):
        for pdf in batches:
            tx0, ty0, tx1, ty1 = slippy_bounds_np(
                pdf["qx"].to_numpy(), pdf["qy"].to_numpy(), pdf["qz"].to_numpy()
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "kind": "region",
                    "rxmin": tx0,
                    "rymin": ty0,
                    "rxmax": tx1,
                    "rymax": ty1,
                    "mp_limit": mp,
                    "res_w": np.int32(tile_px),
                    "res_h": np.int32(tile_px),
                }
            )

    wq = q.mapInPandas(
        bounds,
        "query_id string, kind string, rxmin double, rymin double, "
        "rxmax double, rymax double, mp_limit double, res_w int, res_h int",
    )
    return region_render(levels, tiles, wq)


BLOCK_SCHEMA = StructType(
    [
        StructField("query_id", StringType()),
        StructField("image_id", StringType()),
        StructField("level", IntegerType()),
        StructField("by", IntegerType()),
        StructField("bx", IntegerType()),
        StructField("row0", IntegerType()),
        StructField("col0", IntegerType()),
        StructField("block_h", IntegerType()),
        StructField("block_w", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("raster", BinaryType()),
    ]
)

#: params every block row carries through the blocked pipeline
_BLK_PARAMS = [
    "level", "lw", "lh", "tile_w", "tile_h", "cols",
    "xmin", "ymin", "xmax", "ymax", "epsg", "origin_x", "origin_y",
    "scale_px", "w", "h", "rxmin", "rymin", "rxmax", "rymax", "mp_limit",
]


def region_render_blocked(
    levels: DataFrame,
    tiles: DataFrame,
    queries: DataFrame,
    block: int = 512,
    emit_blocks: bool = False,
) -> DataFrame:
    """region_render with the gather keyed by (query, image, OUT BLOCK).

    The whole-render path runs one task per (query, image): a single huge
    render (mp_limit >= 1 -> gigapixel outputs) serializes its CRS
    transform + gather on one core and holds the whole canvas. Here the
    output raster is cut into ``block`` x ``block`` pixel blocks — the
    same shape as the reference's WMTS tile outputs — and each block is an
    independent task: per-task memory is O(block^2 + the block's source
    tiles) and one large render parallelizes across the cluster.

    Stages: (1a) one row per (query, image) fans out natively-countable
    block rows; (1b) a parallel mapInPandas computes each block's EXACT
    needed source-tile bbox by running the block's slice of the per-pixel
    map (sliced from the same float arrays the whole-render path builds, so
    values are bit-identical); (2) native explode -> tile keys -> LEFT join
    the tiles table -> per-block mosaic + gather; (3) ``emit_blocks=False``
    reassembles blocks into RENDER_SCHEMA rows byte-identical to
    region_render (test-pinned); ``emit_blocks=True`` keeps the block grain
    (the 100-TB shape: no per-render fan-in task at all).

    A block superset of a pixel's true tile never changes its value (the
    gather reads absolute coords; extra canvas area is unread), and missing
    tiles read as 0 either way — so bbox-ranged tile sets preserve byte
    identity, PROVIDED the set is intersected with region_extract's pruned
    range (the whole path reads only those tiles; pixels whose exact
    footprint escapes the linearized range render 0 there and must here
    too). Output-row existence matches region_render exactly: a (query,
    image) pair renders iff at least one pruned tile exists in the tiles
    table (the same inner-join condition, applied as a semi-join).

    Accepted cost (review r5 #4): each block runs the per-pixel CRS map
    twice — once in needed_ranges (tile bbox), once in the gather. The
    alternatives either break exactness (sampled/conservative bboxes have
    no coverage guarantee for non-monotone projections) or blow up shuffle
    (shipping every pruned tile to every block). The measured end-to-end
    win in BENCH.md (45-90 s -> ~16 s on a 64 MP render) already includes
    this factor-2."""
    if block <= 0:
        raise ValueError(f"block size must be a positive pixel count, got {block}")
    if any(c in queries.columns for c in ("res_w", "res_h")):
        # the blocked fan-out derives block counts from the mp-limit dims;
        # silently ignoring a fixed resolution would break byte identity
        raise ValueError(
            "region_render_blocked does not support fixed-resolution "
            "(res_w/res_h) queries; use region_render / wmts_render"
        )
    # the pre-explosion relation carries the pruned tile rectangle
    # (tr0..tc1) as columns, so the pixel-work stages never re-join
    # against region_extract (an earlier shape evaluated the join three
    # times — review r5 follow-up); only the metadata existence gate below
    # evaluates it a second time
    pe = region_extract_picked(levels, queries).selectExpr(
        "query_id", "image_id", "tr0", "tr1", "tc0", "tc1", *_BLK_PARAMS
    )
    keys = ["image_id", "level", "tile_idx"]
    # Existence gate == region_render's inner join: a pair renders iff some
    # pruned tile exists in the tiles table. Checked HERE as a metadata
    # semi-join (keys only — never tile payloads): this re-evaluates the
    # spatial join once more, but that is a metadata-sized join, which is
    # the right trade at scale. The alternatives tried and rejected
    # (review r5 pass 2 #3/#4): an existence-probe fan-out through the
    # payload join ships every pruned tile's bytes into block (0,0)'s
    # task, and a window over block rows shuffles every block RASTER into
    # one partition per render — both reintroduce the single-task
    # bottleneck this operator exists to remove.
    present = (
        _explode_tiles(pe, "tr0", "tr1", "tc0", "tc1")
        .selectExpr("query_id", *keys)
        .join(tiles.selectExpr(*keys), keys, "left_semi")
        .selectExpr("query_id", "image_id")
        .distinct()
    )
    base = pe.join(F.broadcast(present), ["query_id", "image_id"], "left_semi")

    def fanout_blocks(batches):
        # 1a: (query, image) -> one row per output block (cheap, no pixels).
        # Column-array iteration, not iterrows: building a pandas Series
        # per row costs ~27 us of pure overhead (SURVEY §9) — real minutes
        # at millions of blocks; a dict over pre-extracted numpy columns
        # keeps the same r[key] access shape for free.
        for pdf in batches:
            rows = []
            arrs = {c: pdf[c].to_numpy() for c in pdf.columns}
            for i in range(len(pdf)):
                r = {c: a[i] for c, a in arrs.items()}
                rw, rh = float(r["rxmax"]) - float(r["rxmin"]), float(r["rymax"]) - float(r["rymin"])
                out_w, out_h = _out_dims(rw, rh, float(r["mp_limit"]))
                nby = (out_h + block - 1) // block
                nbx = (out_w + block - 1) // block
                for by in range(nby):
                    for bx in range(nbx):
                        rows.append(
                            [r["query_id"], r["image_id"], by, bx, out_w, out_h,
                             r["tr0"], r["tr1"], r["tc0"], r["tc1"]]
                            + [r[k] for k in _BLK_PARAMS]
                        )
            yield pd.DataFrame(
                rows,
                columns=["query_id", "image_id", "by", "bx", "out_w", "out_h",
                         "tr0", "tr1", "tc0", "tc1"] + _BLK_PARAMS,
            )

    blk_schema = (
        "query_id string, image_id string, by int, bx int, out_w int, out_h int, "
        "tr0 int, tr1 int, tc0 int, tc1 int, "
        "level int, lw int, lh int, tile_w int, tile_h int, cols int, "
        "xmin double, ymin double, xmax double, ymax double, epsg int, "
        "origin_x double, origin_y double, scale_px double, w int, h int, "
        "rxmin double, rymin double, rxmax double, rymax double, mp_limit double"
    )
    blocks = base.mapInPandas(fanout_blocks, schema=blk_schema)
    # spread blocks across tasks BEFORE the per-block pixel work — the
    # whole point is that one giant render's blocks land on many cores.
    # An explicit count (stream_groups' rule): AQE coalesces a by-column
    # repartition of these few small rows into one or two tasks
    n = blocks.sparkSession.sparkContext.defaultParallelism
    blocks = blocks.repartition(n, "query_id", "image_id", "by", "bx")

    def needed_ranges(batches):
        # 1b: per block, the EXACT source-tile bbox its pixels touch
        # (column-array iteration for the same reason as fanout_blocks)
        for pdf in batches:
            out = []
            arrs = {c: pdf[c].to_numpy() for c in pdf.columns}
            for i in range(len(pdf)):
                r = {c: a[i] for c, a in arrs.items()}
                lon, lat, out_w, out_h = _out_lonlat(r)
                row0 = int(r["by"]) * block
                col0 = int(r["bx"]) * block
                row1, col1 = min(row0 + block, out_h), min(col0 + block, out_w)
                lw, lh = int(r["lw"]), int(r["lh"])
                tw, th = int(r["tile_w"]), int(r["tile_h"])
                if int(r["epsg"]) == 4326:
                    apx, apy = _map_separable(r, lon[col0:col1], lat[row0:row1])
                    vx, vy = apx[(apx >= 0) & (apx < lw)], apy[(apy >= 0) & (apy < lh)]
                    empty = vx.size == 0 or vy.size == 0
                else:
                    apx, apy = _map_projected(r, lon[col0:col1], lat[row0:row1])
                    ok = (apx >= 0) & (apx < lw) & (apy >= 0) & (apy < lh)
                    vx, vy = apx[ok], apy[ok]
                    empty = vx.size == 0
                if empty:
                    rng = [None, None, None, None]
                else:
                    # intersect with the pruned wanted rectangle carried on
                    # the row: region_render gathers ONLY from that range,
                    # so pixels whose exact footprint escapes it read 0 in
                    # both paths (byte-identity; review r5 #2)
                    rb = [
                        max(int(vy.min()) // th, int(r["tr0"])),
                        min(int(vy.max()) // th, int(r["tr1"])),
                        max(int(vx.min()) // tw, int(r["tc0"])),
                        min(int(vx.max()) // tw, int(r["tc1"])),
                    ]
                    rng = rb if rb[0] <= rb[1] and rb[2] <= rb[3] else [None, None, None, None]
                out.append([r[c] for c in pdf.columns] + rng)
            yield pd.DataFrame(out, columns=list(pdf.columns) + ["r0b", "r1b", "c0b", "c1b"])

    ranged = blocks.mapInPandas(
        needed_ranges, schema=blk_schema + ", r0b int, r1b int, c0b int, c1b int"
    )
    # native fan-out to tile keys; explode_outer keeps no-valid-pixel
    # blocks alive (they still owe an all-zero block to the reassembly)
    keyed = _explode_tiles(ranged, "r0b", "r1b", "c0b", "c1b", outer=True).drop(
        "r0b", "r1b", "c0b", "c1b"
    )
    payload_col = "raw" if "raw" in tiles.columns else "tile_bytes"
    joined = keyed.join(_tile_side(tiles), keys, "left")

    def assemble_block(pdf: pd.DataFrame) -> dict:
        r0 = pdf.iloc[0]
        lw, lh = int(r0["lw"]), int(r0["lh"])
        tw, th = int(r0["tile_w"]), int(r0["tile_h"])
        lon, lat, out_w, out_h = _out_lonlat(r0)
        row0, col0 = int(r0["by"]) * block, int(r0["bx"]) * block
        row1, col1 = min(row0 + block, out_h), min(col0 + block, out_w)
        have = pdf[pdf[payload_col].notna()]
        if len(have):
            canvas, y_off, x_off = _mosaic_bbox(have)
        else:
            canvas, y_off, x_off = np.zeros((th, tw, 3), dtype=np.uint8), 0, 0
        mapper = _map_separable if int(r0["epsg"]) == 4326 else _map_projected
        apx, apy = mapper(r0, lon[col0:col1], lat[row0:row1])
        out = _gather(canvas, y_off, x_off, apx, apy, lw, lh)
        return {
            "query_id": r0["query_id"],
            "image_id": r0["image_id"],
            "level": int(r0["level"]),
            "by": int(r0["by"]),
            "bx": int(r0["bx"]),
            "row0": row0,
            "col0": col0,
            "block_h": row1 - row0,
            "block_w": col1 - col0,
            "out_w": out_w,
            "out_h": out_h,
            "raster": out.tobytes(),
        }

    rendered = stream_groups(
        joined, ["query_id", "image_id", "by", "bx"], assemble_block, BLOCK_SCHEMA
    )
    if emit_blocks:
        return rendered

    def reassemble(pdf: pd.DataFrame) -> dict:
        r0 = pdf.iloc[0]
        out_w, out_h = int(r0["out_w"]), int(r0["out_h"])
        canvas = np.zeros((out_h, out_w, 3), dtype=np.uint8)
        # column-array iteration, not iterrows (the repo rule — render.py
        # fanout_blocks, tiling.py build_tiles): a Series per row is ~30 us
        # of pure overhead each
        bhs = pdf["block_h"].to_numpy()
        bws = pdf["block_w"].to_numpy()
        y0s = pdf["row0"].to_numpy()
        x0s = pdf["col0"].to_numpy()
        rasters = pdf["raster"].to_numpy()
        for i in range(len(pdf)):
            bh, bw = int(bhs[i]), int(bws[i])
            y0, x0 = int(y0s[i]), int(x0s[i])
            canvas[y0 : y0 + bh, x0 : x0 + bw] = np.frombuffer(
                rasters[i], dtype=np.uint8
            ).reshape(bh, bw, 3)
        return {
            "query_id": r0["query_id"],
            "image_id": r0["image_id"],
            "level": int(r0["level"]),
            "out_w": out_w,
            "out_h": out_h,
            "raster": canvas.tobytes(),
        }

    return stream_groups(rendered, ["query_id", "image_id"], reassemble, RENDER_SCHEMA)


CROP_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("level", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("raster", BinaryType()),
        StructField("mean_px", DoubleType()),
    ]
)


def crop_render(
    levels: DataFrame,
    tiles: DataFrame,
    crop: tuple[float, float, float, float],
    mp_limit: float = 0.25,
) -> DataFrame:
    """E2: render a normalized-coordinate crop of EVERY image (the
    reference's single-image `of_crop` path, render/mod.rs:162-165,
    vectorized over the whole table).

    LOD rule (sane §1.3 variant of util.rs:34-56): required per-axis pixel
    count = out dims; pick the greatest level that still has more pixels
    than required inside the crop on both axes, else 0.
    """
    u0, v0, u1, v1 = crop
    du, dv = u1 - u0, v1 - v0
    dbl = lambda x: f"{float(x)!r}D"  # noqa: E731  (a bare 0.5 parses as DECIMAL)
    out_h_f = f"SQRT({dbl(mp_limit)} * 1000000.0D / {dbl(du / dv)})"
    out_w_f = f"{dbl(du / dv)} * {out_h_f}"
    picked = _lod_pick(
        levels, lambda lw, lh: f"{lw} * {dbl(du)} >= {out_w_f} AND {lh} * {dbl(dv)} >= {out_h_f}"
    )
    # P6 pruning: covered tile range at the picked level
    wanted = _explode_tiles(
        picked, *_tile_range(dbl(u0), dbl(u1), dbl(v0), dbl(v1))
    ).selectExpr("image_id", "level", "tile_idx", "lw", "lh", "tile_w", "tile_h", "cols", "rows")
    joined = wanted.join(_tile_side(tiles), ["image_id", "level", "tile_idx"], "inner")

    def assemble(pdf: pd.DataFrame) -> dict:
        r0_ = pdf.iloc[0]
        lw_, lh_ = int(r0_["lw"]), int(r0_["lh"])
        out_w, out_h = _out_dims(du, dv, mp_limit)
        us = u0 + (np.arange(out_w) + 0.5) / out_w * du
        vs = v0 + (np.arange(out_h) + 0.5) / out_h * dv
        px = np.clip(np.floor(us * lw_).astype(np.int64), 0, lw_ - 1)
        py = np.clip(np.floor(vs * lh_).astype(np.int64), 0, lh_ - 1)
        canvas, y_off, x_off = _mosaic_bbox(pdf)
        out = _gather(canvas, y_off, x_off, px, py, lw_, lh_)
        return {
            "image_id": r0_["image_id"],
            "level": int(r0_["level"]),
            "out_w": out_w,
            "out_h": out_h,
            "raster": out.tobytes(),
            "mean_px": float(out.mean()),
        }

    return stream_groups(joined, ["image_id"], assemble, CROP_SCHEMA)
