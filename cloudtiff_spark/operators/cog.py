"""COG container operators: write real GeoTIFF bytes per image (S9 sink) and
parse them back (S1/S2 scan) — the reference's primary entry points, as
Spark stages over the images table.

- write_cogs: decode the fixture image -> full overview pyramid -> tiled
  GeoTIFF binary per row (mapInPandas; one output row per image).
- parse_cogs: the schema-on-read stage — extract per-level grid + projection
  columns from raw COG bytes (the Spark shape of CloudTiff::open,
  SURVEY.md §3 E1).
- cog_tiles: the container ingest stage — decode every stored tile of
  every image and mask IFD chain (S4 ranged read + S8 tile fetch).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codecs import decode_image
from ..tiff import (
    COMPRESSION_DEFLATE,
    COMPRESSION_LZW,
    cog_info,
    decode_mask_tile,
    decode_tile,
    encode_cog,
)

COG_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("cog", BinaryType()),
        StructField("cog_bytes", LongType()),
    ]
)

PARSED_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("level", IntegerType()),
        StructField("lw", IntegerType()),
        StructField("lh", IntegerType()),
        StructField("tile_w", IntegerType()),
        StructField("tile_h", IntegerType()),
        StructField("n_tiles", IntegerType()),
        StructField("compression", StringType()),
        StructField("epsg", IntegerType()),
        StructField("origin_x", DoubleType()),
        StructField("origin_y", DoubleType()),
        StructField("scale_px", DoubleType()),
    ]
)

_COMP_NAME = {
    COMPRESSION_DEFLATE: "deflate",
    COMPRESSION_LZW: "lzw",
    7: "jpeg",
    1: "none",
    # read-only legacy codes (tiff.py compat notes): analyze output must
    # name what decode_tile can actually decode, not show '?'
    32946: "deflate-legacy",
    32773: "packbits",
}


def level_fields(info: dict) -> list[dict]:
    """The S2 analyze row: one dict per pyramid level of a cog_info result,
    keyed by output column name (parse_cogs and sources._analyze each pick
    their schema's columns)."""
    proj = info["projection"] or {}
    geo = {
        "epsg": int(proj.get("epsg", 0)),
        "origin_x": float(proj.get("origin_x", 0.0)),
        "origin_y": float(proj.get("origin_y", 0.0)),
        "scale_px": float(proj.get("scale_px", 0.0)),
    }
    return [
        {
            "level": lv_i,
            "lw": lev["width"],
            "lh": lev["height"],
            "tile_w": lev["tile_w"],
            "tile_h": lev["tile_h"],
            "n_tiles": len(lev["offsets"]),
            "compression": _COMP_NAME.get(lev["compression"], "?"),
            "spp": int(lev.get("samples_per_pixel", 3)),
            "bits": int(lev.get("bits_per_sample", [8])[0]),
            "photometric": int(lev.get("photometric", 1)),
            "sample_format": int(lev.get("sample_format", 1)),
            **geo,
        }
        for lv_i, lev in enumerate(info["levels"])
    ]


def write_cogs(images_with_geo: DataFrame, **encode_kw) -> DataFrame:
    """images (+ epsg/origin_x/origin_y/scale_px columns) -> one COG per row.
    LZW-sourced images get LZW tiles, everything else Deflate.
    ``encode_kw`` passes straight to encode_cog — sparse=True,
    nodata=..., resample='average', overviews_first=True, big=True all
    apply per image (the same writer, same typed rejects)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            src = "raster" if "raster" in pdf.columns else "bytes"
            cols = (
                pdf[c].to_numpy()
                for c in ("image_id", src, "fmt", "w", "h", "epsg", "origin_x", "origin_y", "scale_px")
            )
            for image_id, data, fmt, w, h, epsg, ox, oy, sp in zip(*cols):
                if src == "raster":  # pre-decoded RGB8 (session raster cache)
                    if data is None:  # cache-marked undecodable row
                        continue
                    arr = np.frombuffer(data, np.uint8).reshape(int(h), int(w), 3)
                else:
                    arr = decode_image(data, fmt, int(w), int(h))
                comp = COMPRESSION_LZW if fmt == "lzw_raw" else COMPRESSION_DEFLATE
                cog = encode_cog(
                    arr, int(epsg), float(ox), float(oy), float(sp),
                    compression=comp, **encode_kw
                )
                rows.append((image_id, cog, len(cog)))
            yield pd.DataFrame(rows, columns=["image_id", "cog", "cog_bytes"])

    return images_with_geo.mapInPandas(gen, schema=COG_SCHEMA)


def parse_cogs(cogs: DataFrame) -> DataFrame:
    """COG binary -> per-level metadata rows (S1 header/IFD walk + S2
    analyze + P1/P2 geokey->projection)."""

    cols = [f.name for f in PARSED_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, cog_bytes in zip(pdf["image_id"].to_numpy(), pdf["cog"].to_numpy()):
                rows += [{"image_id": image_id, **lev} for lev in level_fields(cog_info(cog_bytes))]
            yield pd.DataFrame(rows, columns=cols)

    return cogs.mapInPandas(gen, schema=PARSED_SCHEMA)


TILES_SCHEMA = (
    "image_id string, mask boolean, level int, tile_idx int, "
    "compression string, is_hole boolean, pix binary"
)


def cog_tiles(cogs: DataFrame) -> DataFrame:
    """(image_id, cog) rows -> one row per stored tile of every IFD chain:
    the image pyramid (mask=False) and the internal transparency masks
    (mask=True), each tile sliced by its offsets[i]..+byte_counts[i] and
    run through the decode chain (level.rs:301-373). is_hole marks a
    SPARSE_OK hole (byte count 0; decode zero/nodata-fills it). A chain
    is bounded by min(len(offsets), len(byte_counts)) and a tile that
    fails to decode carries a typed ``decode-failed:<Type>`` sentinel in
    pix, so a malformed container quarantines at row grain instead of
    failing the task."""
    cols = [c.split()[0] for c in TILES_SCHEMA.split(", ")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, blob in zip(pdf["image_id"], pdf["cog"]):
                data = bytes(blob)
                info = cog_info(data)
                for mask, chain, decode in (
                    (False, info["levels"], decode_tile),
                    (True, info["mask_levels"], decode_mask_tile),
                ):
                    for lv, lev in enumerate(chain):
                        comp = _COMP_NAME.get(lev["compression"], "?")
                        counts = lev["byte_counts"]
                        for ti in range(min(len(lev["offsets"]), len(counts))):
                            try:
                                pix = decode(data, info, lv, ti).tobytes()
                            except Exception as exc:
                                pix = f"decode-failed:{type(exc).__name__}".encode()
                            rows.append((image_id, mask, lv, ti, comp, counts[ti] == 0, pix))
            yield pd.DataFrame(rows, columns=cols)

    n = cogs.sparkSession.sparkContext.defaultParallelism
    return cogs.repartition(n).mapInPandas(gen, schema=TILES_SCHEMA)


FLOAT_STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("vmin_micro", LongType()),
        StructField("vmax_micro", LongType()),
        StructField("raster", BinaryType()),
    ]
)


def decode_float_stats(spark, path: str, pattern: str = "*.tif"):
    """Full-decode stats for SampleFormat=3 (float32) COGs in a directory:
    parse the container, decode every level-0 tile, assemble the
    valid-region raster (zero-padded tile edges cropped away — P9
    semantics), and emit min/max micro-ints plus the raw '<f4' raster
    bytes (hashed JVM-side by the caller). Non-float images are skipped —
    the relation is the float subset of the directory.

    Value-checked against expected_mb_stats.parquet, which is computed
    from the SOURCE arrays at generation time: equality proves the whole
    f32 chain (tag parse -> tile decode -> assemble) is lossless."""
    from ..sources import read_cog_directory

    files = read_cog_directory(spark, path, pattern).select("image_id", "cog")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, data in zip(pdf["image_id"], pdf["cog"]):
                data = bytes(data)
                info = cog_info(data)
                lev = info["levels"][0]
                if lev.get("sample_format", 1) != 3:
                    continue
                w, h = lev["width"], lev["height"]
                tw, th = lev["tile_w"], lev["tile_h"]
                cols = (w + tw - 1) // tw
                rows_n = (h + th - 1) // th
                full = np.zeros((rows_n * th, cols * tw), dtype=np.float32)
                for idx in range(len(lev["offsets"])):
                    t = decode_tile(data, info, 0, idx)[:, :, 0]
                    r, c = idx // cols, idx % cols
                    full[r * th : (r + 1) * th, c * tw : (c + 1) * tw] = t
                valid = full[:h, :w]
                v64 = valid.astype(np.float64)
                rows.append(
                    (
                        image_id,
                        w,
                        h,
                        int(np.floor(v64.min() * 1e6 + 0.5)),
                        int(np.floor(v64.max() * 1e6 + 0.5)),
                        valid.astype("<f4").tobytes(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FLOAT_STATS_SCHEMA.fields])

    return files.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        gen, schema=FLOAT_STATS_SCHEMA
    )
