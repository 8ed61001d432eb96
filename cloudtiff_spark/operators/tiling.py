"""Tile materialization: images -> per-level 64x64 encoded tiles.

The Spark analog of the reference COG encoder's tiling loop
(/root/reference/src/encode/mod.rs:525-584):

- pyramid: level i is resampled FROM LEVEL i-1 (not from the base),
  dims = full // 2^i (encode/mod.rs:398-408),
- nearest-neighbor resampling with the general floor(dst*scale) index map
  (raster/ops.rs:70-88) — also a 'maximum' variant (ops.rs:89-128),
- edge tiles zero-padded to full tile size (encode/mod.rs:559-567,
  raster/ops.rs:184-201 get_region),
- per-tile re-encode in the image's own fmt.

Implemented as mapInPandas: one input image row fans out to all its tile
rows; all pixel work is numpy over the whole image (no per-pixel Python).
This is a UDTF-shaped generator — the natural Spark shape for an operator
whose output grain is finer than its input grain (SURVEY.md §2.10).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import TILE
from ..codecs import decode_image, encode_image
from ..grid import grid_shape, level_dims, num_levels

TILES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("level", IntegerType()),
        StructField("tile_idx", IntegerType()),
        StructField("tile_col", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("tile_w", IntegerType()),
        StructField("tile_h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("tile_bytes", BinaryType()),
        StructField("byte_count", IntegerType()),
    ]
)


def resample_nearest(arr: np.ndarray, dw: int, dh: int) -> np.ndarray:
    """Nearest resize, reference semantics (ops.rs:70-88): per-axis scale
    = src/dst, src index = floor(dst_index * scale)."""
    sh, sw = arr.shape[:2]
    xs = np.minimum((np.arange(dw) * (sw / dw)).astype(np.int64), sw - 1)
    ys = np.minimum((np.arange(dh) * (sh / dh)).astype(np.int64), sh - 1)
    return arr[ys][:, xs]


def _catmull_weights(src_n: int, dst_n: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-destination-index source indices + normalized Catmull-Rom weights
    for one axis. Kernel a=-0.5 with support scaled by the minification
    ratio (the image crate scales filter support when downsampling, which
    the reference inherits via image::imageops::CatmullRom)."""
    scale = src_n / dst_n
    sup = 2.0 * max(1.0, scale)  # kernel support in source pixels
    k = int(np.ceil(sup)) * 2  # taps per destination sample
    centers = (np.arange(dst_n) + 0.5) * scale - 0.5  # (d,)
    first = np.floor(centers - sup + 1).astype(np.int64)  # leftmost tap
    taps = first[:, None] + np.arange(k)[None, :]  # (d, k)
    t = np.abs((taps - centers[:, None]) / max(1.0, scale))  # kernel coords
    # Catmull-Rom: w(t) = 1.5t^3-2.5t^2+1 for t<1; -0.5t^3+2.5t^2-4t+2 for t<2
    w = np.where(
        t < 1.0,
        ((1.5 * t - 2.5) * t) * t + 1.0,
        np.where(t < 2.0, ((-0.5 * t + 2.5) * t - 4.0) * t + 2.0, 0.0),
    )
    w /= w.sum(axis=1, keepdims=True)
    return np.clip(taps, 0, src_n - 1), w


def resample_catmullrom(arr: np.ndarray, dw: int, dh: int) -> np.ndarray:
    """Separable Catmull-Rom resize (ops.rs:129-146 — the reference's
    ResizeFilter::CatmulRod path, which calls image::imageops::CatmullRom).
    Interpolating: an up-sampled linear ramp stays exactly linear; identity
    dims return the input bit-exactly. Works for any supported pixel format
    (u8/u16, 1/3/4 channels); output is clipped back to the input dtype."""
    sh, sw = arr.shape[:2]
    squeeze = arr.ndim == 2
    a = (arr[:, :, None] if squeeze else arr).astype(np.float64)
    xi, xw = _catmull_weights(sw, dw)
    yi, yw = _catmull_weights(sh, dh)
    # x axis: gather (h, dw, k, c) -> weighted sum over k
    mid = np.einsum("hdkc,dk->hdc", a[:, xi, :], xw)
    out = np.einsum("dkwc,dk->dwc", mid[yi, :, :], yw)
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        out = np.clip(np.rint(out), info.min, info.max).astype(arr.dtype)
    else:
        # float rasters: the kernel may legitimately over/undershoot
        # (Catmull-Rom is interpolating, not range-preserving) — keep the
        # values, only restore the dtype
        out = out.astype(arr.dtype)
    return out[:, :, 0] if squeeze else out


def resample_maximum(arr: np.ndarray, dw: int, dh: int) -> np.ndarray:
    """Per-channel maximum over the source footprint (ops.rs:89-128); for
    the common exact-halving case this is a vectorized 2x2 block-max."""
    sh, sw = arr.shape[:2]
    if sw == 2 * dw and sh == 2 * dh:
        return arr[: dh * 2, : dw * 2].reshape(dh, 2, dw, 2, -1).max(axis=(1, 3))
    # general footprint: gather the up-to-2x2 source block per dst pixel
    x0 = np.minimum((np.arange(dw) * (sw / dw)).astype(np.int64), sw - 1)
    y0 = np.minimum((np.arange(dh) * (sh / dh)).astype(np.int64), sh - 1)
    x1 = np.minimum(x0 + 1, sw - 1)
    y1 = np.minimum(y0 + 1, sh - 1)
    a = arr[y0][:, x0]
    b = arr[y0][:, x1]
    c = arr[y1][:, x0]
    d = arr[y1][:, x1]
    return np.maximum(np.maximum(a, b), np.maximum(c, d))


def _box_average(
    win: np.ndarray,
    yb: np.ndarray,
    xb: np.ndarray,
    out_dtype: np.dtype,
    nodata: float | None = None,
) -> np.ndarray:
    """The shared area-box mean kernel: ``yb``/``xb`` are inclusive box
    boundaries RELATIVE to ``win`` (len = n_boxes+1, last = window
    extent). Both writers — resample_average (whole raster) and the
    distributed sink's per-dest-tile window (operators/cogsink.py) —
    call THIS function, so their float64 op sequences cannot drift and
    container byte-identity holds by construction.

    ``nodata`` pixels are EXCLUDED from the mean (GDAL AVERAGE
    semantics); an all-nodata box emits nodata. Integers round half up
    (identical to half-away-from-zero for the unsigned sample types the
    container supports); floats keep the exact mean."""
    w64 = win.astype(np.float64)
    if nodata is None:
        ycnt = np.diff(yb).astype(np.float64)
        xcnt = np.diff(xb).astype(np.float64)
        acc = np.add.reduceat(w64, yb[:-1], axis=0)
        acc = np.add.reduceat(acc, xb[:-1], axis=1)
        out = acc / (ycnt[:, None, None] * xcnt[None, :, None])
        empty = None
    else:
        if np.issubdtype(win.dtype, np.floating) and np.isnan(nodata):
            valid = ~np.isnan(w64)
        else:
            valid = win != np.array(nodata).astype(win.dtype)
        acc = np.add.reduceat(np.where(valid, w64, 0.0), yb[:-1], axis=0)
        acc = np.add.reduceat(acc, xb[:-1], axis=1)
        cnt = np.add.reduceat(valid.astype(np.float64), yb[:-1], axis=0)
        cnt = np.add.reduceat(cnt, xb[:-1], axis=1)
        empty = cnt == 0
        with np.errstate(invalid="ignore", divide="ignore"):
            out = acc / cnt
        out = np.where(empty, np.float64(nodata), out)
    if np.issubdtype(np.dtype(out_dtype), np.integer):
        info = np.iinfo(out_dtype)
        # half up; a valid mean may legitimately land ON the nodata
        # value (GDAL shares this ambiguity)
        out = np.clip(np.floor(out + 0.5), info.min, info.max)
    return out.astype(out_dtype)


def resample_average(
    arr: np.ndarray, dw: int, dh: int, nodata: float | None = None
) -> np.ndarray:
    """Area-box average — the GDAL COG driver's DEFAULT overview
    resampling (beyond the reference, whose filters are nearest and
    CatmulRod, ops.rs:70-88 / encode resize path). Deterministic rule:
    dest pixel (y, x) averages the integer source box rows
    [y*sh//dh, (y+1)*sh//dh) x same for cols — exact 2x2 block means at
    the common halving levels, always >=1 px per box when downsampling.
    ``nodata`` pixels are excluded from the mean and all-nodata boxes
    emit nodata (GDAL AVERAGE semantics). Integers round half up;
    floats keep the exact mean. Vectorized reduceat passes — no
    per-pixel Python (kernel shared with the distributed sink:
    _box_average)."""
    sh, sw = arr.shape[:2]
    if dh > sh or dw > sw:
        raise ValueError(
            f"average is a downsampling filter: {sw}x{sh} -> {dw}x{dh}"
        )
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    yb = np.append((np.arange(dh) * sh) // dh, sh)
    xb = np.append((np.arange(dw) * sw) // dw, sw)
    out = _box_average(arr, yb, xb, arr.dtype, nodata)
    return out[:, :, 0] if squeeze else out


def cut_tiles(arr: np.ndarray, tw: int = TILE, th: int = TILE) -> list[tuple[int, int, int, np.ndarray]]:
    """(tile_idx, col, row, tile array) — edge tiles zero-padded full size."""
    h, w = arr.shape[:2]
    cols, rows = grid_shape(w, h, tw, th)
    out = []
    for r in range(rows):
        for c in range(cols):
            tile = np.zeros((th, tw, arr.shape[2]), dtype=arr.dtype)
            src = arr[r * th : (r + 1) * th, c * tw : (c + 1) * tw]
            tile[: src.shape[0], : src.shape[1]] = src
            out.append((r * cols + c, c, r, tile))
    return out


def build_tiles(images: DataFrame, tw: int = TILE, th: int = TILE, resample: str = "nearest") -> DataFrame:
    """images (input_hint shape) -> tiles table with encoded tile bytes."""
    resampler = {
        "nearest": resample_nearest,
        "maximum": resample_maximum,
        "catmullrom": resample_catmullrom,
        "average": resample_average,
    }[resample]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # column-zip iteration: iterrows builds a Series per row (~30us
            # each), which is pure overhead at image grain
            src = "raster" if "raster" in pdf.columns else "bytes"
            cols = (pdf[c].to_numpy() for c in ("image_id", src, "fmt", "w", "h"))
            for image_id, data_in, fmt, w, h in zip(*cols):
                w, h = int(w), int(h)
                # a `raster` column is pre-decoded RGB8 (the session raster
                # cache); fmt still names the SOURCE format so tile
                # re-encode and labeling stay unchanged
                if src == "raster":
                    if data_in is None:  # cache-marked undecodable row
                        continue
                    arr = np.frombuffer(data_in, dtype=np.uint8).reshape(h, w, 3)
                else:
                    arr = decode_image(data_in, fmt, w, h)
                n_lv = num_levels(w, h, tw, th)
                cur = arr
                for lv in range(n_lv):
                    if lv > 0:
                        lw, lh = level_dims(w, h, lv)
                        cur = resampler(cur, lw, lh)  # from PREVIOUS level
                    for idx, c, r, tile in cut_tiles(cur, tw, th):
                        data = encode_image(np.ascontiguousarray(tile), fmt)
                        rows.append(
                            (image_id, lv, idx, c, r, tw, th, fmt, data, len(data))
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in TILES_SCHEMA.fields])

    return images.mapInPandas(gen, schema=TILES_SCHEMA)

