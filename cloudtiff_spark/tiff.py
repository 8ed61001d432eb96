"""Minimal tiled GeoTIFF (COG) container: writer + parser, pure python/numpy.

Parity targets in the reference:
- writer: Encoder::encode (/root/reference/src/encode/mod.rs:258-620) —
  classic little-endian TIFF, one IFD per pyramid level (level i resampled
  from level i-1, dims full//2^i, encode/mod.rs:398-408), tiled layout with
  zero-padded edge tiles (559-567), tags sorted ascending (509), chunky
  planar config only (264), GTRasterType=1 for both CRSs (327, 359 — quirk
  kept for parity), Deflate or TIFF-LZW tile compression.
- parser: Tiff::open (src/tiff/mod.rs:85-124) + Ifd::parse (ifd.rs:36-93):
  II/MM magic, classic (42) AND BigTIFF (43) IFD chains, inline-or-offset
  tag data; CloudTiff::from_tiff_and_geo (cog/mod.rs:91-135): levels sorted
  desc by megapixels, overview numbering; GeoTags/Projection rebuild
  (geotags/mod.rs:166-193, projection/mod.rs:72-166) incl. rejecting the
  Transformed model (projection/mod.rs:114-123).

Only the features the reference encoder emits are written; the parser is
deliberately more liberal (like the reference's reader).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

from . import TILE
from .codecs import lzw_decode, lzw_encode
from .errors import (
    CloudTiffError,
    TileIndexOutOfRange,
    CompressionNotSupported,
    NoLevels,
    NotATiff,
    UnsupportedCrs,
    UnsupportedModelTransformation,
    UnsupportedPixelFormat,
)
from .grid import grid_shape, level_dims, num_levels
from .operators.tiling import resample_nearest

# TIFF tag codes
T_NEWSUBFILETYPE = 254
T_WIDTH = 256
T_LENGTH = 257
T_BITSPERSAMPLE = 258
T_COMPRESSION = 259
T_PHOTOMETRIC = 262
T_STRIPOFFSETS = 273
T_ROWSPERSTRIP = 278
T_STRIPBYTECOUNTS = 279
T_SAMPLESPERPIXEL = 277
T_COLORMAP = 320
T_PLANARCONFIG = 284
T_TILEWIDTH = 322
T_TILELENGTH = 323
T_TILEOFFSETS = 324
T_TILEBYTECOUNTS = 325
T_PREDICTOR = 317
T_FILLORDER = 266
T_EXTRASAMPLES = 338
T_SAMPLEFORMAT = 339
T_JPEGTABLES = 347  # TIFF TechNote 2: shared DQT/DHT stream for tag-7 tiles
T_GDAL_NODATA = 42113  # GDAL: ASCII nodata value; sparse holes read as it
T_MODELPIXELSCALE = 33550
T_MODELTIEPOINT = 33922
T_MODELTRANSFORMATION = 34264
T_GEOKEYDIRECTORY = 34735
T_GEODOUBLEPARAMS = 34736
T_GEOASCIIPARAMS = 34737

# GeoKey ids (public GeoTIFF spec)
GK_MODEL_TYPE = 1024
GK_RASTER_TYPE = 1025
GK_GEOGRAPHIC_TYPE = 2048
GK_ANGULAR_UNITS = 2054
GK_PROJECTED_CS_TYPE = 3072

COMPRESSION_LZW = 5
COMPRESSION_JPEG = 7  # TechNote 2 "new-style" JPEG-in-TIFF (abbreviated streams)
COMPRESSION_DEFLATE = 8  # "Adobe deflate" (zlib), compression.rs:217-221
# Read-only compatibility codes beyond the reference's decoder (its enum
# lists Deflate=32946 but decompress() rejects it, compression.rs:213-224,
# and PackBits has no variant at all). Both are common in scanned/legacy
# COG corpora; the identical zlib stream rides 8 and 32946, and PackBits
# is TIFF 6 §9. Decode accepts them; the WRITER keeps typed rejects —
# new containers always use the modern codes.
COMPRESSION_DEFLATE_LEGACY = 32946
COMPRESSION_PACKBITS = 32773

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 12: 8, 16: 8}
_SHORT, _LONG, _DOUBLE, _LONG8 = 3, 4, 12, 16


@dataclass
class Tag:
    code: int
    dtype: int
    values: list

    def payload(self, endian: str = "<") -> bytes:
        fmt = {1: "B", 2: "B", 3: "H", 4: "I", 7: "B", 12: "d", 16: "Q"}[self.dtype]
        return struct.pack(f"{endian}{len(self.values)}{fmt}", *self.values)


@dataclass
class Level:
    width: int
    height: int
    tile_w: int
    tile_h: int
    compression: int
    overview: int | None
    tile_offsets: list[int] = field(default_factory=list)
    tile_byte_counts: list[int] = field(default_factory=list)

    @property
    def grid(self) -> tuple[int, int]:
        return grid_shape(self.width, self.height, self.tile_w, self.tile_h)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _compress_tile(arr: np.ndarray, compression: int, predictor: int = 1) -> bytes:
    if predictor == 2:  # horizontal differencing (compression.rs:298-330)
        from .codecs import predictor2_encode

        arr = predictor2_encode(arr)
    if predictor == 3:  # floating-point byte-shuffle predictor (TechNote 3)
        from .codecs import predictor3_encode

        raw = predictor3_encode(arr)
        if compression == COMPRESSION_DEFLATE:
            return zlib.compress(raw, 6)
        if compression == COMPRESSION_LZW:
            return lzw_encode(raw)
        raise CompressionNotSupported(compression)
    # explicit little-endian serialization for multi-byte samples (the
    # container is written classic-LE regardless of host endianness)
    raw = arr.astype(arr.dtype.newbyteorder("<"), copy=False).tobytes()
    if compression == COMPRESSION_DEFLATE:
        return zlib.compress(raw, 6)
    if compression == COMPRESSION_LZW:
        return lzw_encode(raw)
    raise CompressionNotSupported(compression)


def tile_payload(
    t: np.ndarray,
    compression: int,
    predictor: int,
    quality: int,
    sparse: bool,
    nodata: float | None,
) -> bytes:
    """One padded (tile, tile, c) tile's container payload — the per-tile
    branch of encode_cog and the distributed sink (operators/cogsink.py).
    With ``sparse``, a tile whose samples all equal the fill value
    (``nodata``, else 0) is a GDAL SPARSE_OK hole: no payload, so the
    prefix records offset 0 / count 0. JPEG tiles are abbreviated
    TechNote-2 streams (SOI+SOF+SOS): their DQT/DHT are fixed by
    ``quality`` and written once as tag 347 (jpeg_tables_for). Anything
    else goes through _compress_tile."""
    if sparse and _is_fill(t, nodata):
        return b""
    if compression == COMPRESSION_JPEG:
        from .jpeg import encode_jpeg, split_jpeg_tables

        return split_jpeg_tables(encode_jpeg(t if t.shape[2] == 3 else t[:, :, 0], quality))[1]
    return _compress_tile(t, compression, predictor)


def _projected_crs_supported(epsg: int) -> bool:
    """Writable projected CRSs = everything the projection hub can
    transform (UTM-pattern zones, 3857, and the conic/polar registry)."""
    from .projection import crs_is_supported

    return crs_is_supported(epsg)


def _geokey_directory(epsg: int) -> list[int]:
    """GeoKeyDirectory shorts — mirrors the encoder paths
    (encode/mod.rs:294-393): EPSG 4326 (geographic, angular deg) or any
    projected CRS the projection module can transform (UTM zones, 3857,
    Lambert/Albers/polar registry CRSs — all coded as a single
    ProjectedCSTypeGeoKey). GTRasterType=1 in both (quirk parity)."""
    if epsg == 4326:
        keys = [
            (GK_MODEL_TYPE, 0, 1, 2),
            (GK_RASTER_TYPE, 0, 1, 1),
            (GK_GEOGRAPHIC_TYPE, 0, 1, 4326),
            (GK_ANGULAR_UNITS, 0, 1, 9102),
        ]
    elif epsg != 4326 and _projected_crs_supported(epsg):
        keys = [
            (GK_MODEL_TYPE, 0, 1, 1),
            (GK_RASTER_TYPE, 0, 1, 1),
            (GK_PROJECTED_CS_TYPE, 0, 1, epsg),
        ]
    else:
        raise UnsupportedCrs(epsg)  # encode/mod.rs:321-393
    out = [1, 1, 0, len(keys)]
    for k in keys:
        out.extend(k)
    return out


def _nodata_ascii(v: float) -> bytes:
    """GDAL_NODATA tag payload: decimal ASCII + NUL (integral values
    print without a decimal point, matching GDAL's own formatting)."""
    fv = float(v)
    if np.isnan(fv):
        txt = "nan"
    elif not np.isfinite(fv):
        txt = "inf" if fv > 0 else "-inf"
    elif fv == int(fv):
        txt = str(int(fv))
    else:
        txt = repr(fv)
    return txt.encode("ascii") + b"\x00"


def _validate_nodata(dtype: np.dtype, nodata: float | None) -> None:
    """Encode-time guard: nodata must be EXACTLY representable in the
    image dtype — otherwise _is_fill's cast is a C-undefined out-of-range
    conversion whose wrapped value differs by platform (x86 vs ARM), so
    heterogeneous executors would hole different tile sets and the
    GDAL_NODATA tag would lie about what holes read back as. Floats
    accept any value incl. nan/inf (all representable in IEEE f32)."""
    if nodata is None or np.issubdtype(np.dtype(dtype), np.floating):
        return
    fv = float(nodata)
    info = np.iinfo(np.dtype(dtype))
    if not (np.isfinite(fv) and fv == int(fv) and info.min <= int(fv) <= info.max):
        raise UnsupportedPixelFormat(
            f"nodata {nodata!r} is not representable in {np.dtype(dtype)}"
        )


def _is_fill(t: np.ndarray, nodata: float | None) -> bool:
    """True when every padded sample equals the sparse fill value
    (``nodata`` if set, else 0) — tile_payload's hole test. NaN nodata
    compares via isnan."""
    if nodata is None:
        return not t.any()
    if np.issubdtype(t.dtype, np.floating) and np.isnan(nodata):
        return bool(np.isnan(t).all())
    return bool((t == np.array(nodata).astype(t.dtype)).all())


def _pixel_format_for(
    dtype: np.dtype, c: int, predictor: int, palette: np.ndarray | None
) -> tuple[int, int, int]:
    """Validate a (dtype, samples/pixel) combination and derive the
    container's (bits, sample_format, photometric) — the typed-reject rules
    of the single-pass writer, shared with the distributed sink
    (operators/cogsink.py) so both reject identically before any pixel
    work (raster/image.rs:26-95 parity)."""
    sample_format = 1  # unsigned integer (TIFF 6 default)
    if dtype == np.uint8:
        bits = 8
    elif dtype == np.uint16:
        bits = 16
        if c != 1:
            raise UnsupportedPixelFormat("16-bit is gray-only (raster/image.rs:40-47)")
    elif dtype == np.float32:
        # SampleFormat=3 (IEEE float) gray — elevation / NDVI rasters
        # (the reference's Raster carries sample_format generally,
        # raster/mod.rs:31-48)
        bits = 32
        sample_format = 3
        if c != 1:
            raise UnsupportedPixelFormat("float32 is gray-only (raster/image.rs:49-60)")
        if predictor == 2:
            raise UnsupportedPixelFormat(
                "horizontal predictor 2 is integer-only (TIFF 6 §14); floats need predictor 3"
            )
    else:
        raise UnsupportedPixelFormat(f"unsupported dtype {dtype}")
    if predictor == 3 and sample_format != 3:
        raise UnsupportedPixelFormat("predictor 3 is float-only (TIFF TechNote 3)")
    if c not in (1, 3, 4):
        raise UnsupportedPixelFormat(f"unsupported samples/pixel {c}")
    if palette is not None:
        if c != 1 or bits != 8:
            raise UnsupportedPixelFormat("palette images are 8-bit single-sample indices")
        if palette.ndim != 2 or palette.shape[1] != 3 or palette.shape[0] > 256:
            raise UnsupportedPixelFormat(f"palette shape {palette.shape} != (N<=256, 3)")
        photometric = 3  # RGBPalette
    else:
        photometric = 1 if c == 1 else 2  # min-is-black / RGB
    return bits, sample_format, photometric


def jpeg_photometric_for(
    dtype: np.dtype, c: int, predictor: int, palette: np.ndarray | None
) -> int:
    """Typed-reject rules for TechNote-2 JPEG tiles (compression 7),
    shared by the single-pass writer and the distributed sink
    (operators/cogsink.py): 8-bit gray or RGB only, no TIFF predictor
    (the entropy stream has no use for one), never palette indices
    (lossy-coding LUT addresses corrupts them). Returns the container
    photometric — 6 (YCbCr, what the entropy stream stores) for RGB,
    1 for gray."""
    if np.dtype(dtype) != np.uint8 or c not in (1, 3):
        raise UnsupportedPixelFormat("JPEG tiles are 8-bit gray or RGB only")
    if predictor != 1:
        raise UnsupportedPixelFormat("JPEG tiles take no TIFF predictor")
    if palette is not None:
        raise UnsupportedPixelFormat("palette indices cannot be JPEG-compressed")
    return 6 if c == 3 else 1


def jpeg_tables_for(quality: int, gray: bool) -> bytes:
    """The shared DQT/DHT stream (JPEGTables tag 347 payload) for a
    (quality, gray-or-color) combination. Deterministic — the codec uses
    the standard Annex K Huffman tables and quality-scaled base
    quantization tables — so the container driver can rebuild it without
    seeing any tile payload (the distributed sink compresses tiles across
    the cluster and only ships SIZES back)."""
    from .jpeg import encode_jpeg, split_jpeg_tables

    dummy = np.zeros((8, 8) if gray else (8, 8, 3), np.uint8)
    return split_jpeg_tables(encode_jpeg(dummy, quality))[0]


def _iter_padded_tiles(cur: np.ndarray, tile: int):
    """Yield the level's tiles in row-major order, zero-padded to
    tile x tile (encode/mod.rs:559-567) — the one extract/pad skeleton
    shared by the image and mask tiling loops so their grids can't
    drift."""
    cols, rows = grid_shape(cur.shape[1], cur.shape[0], tile, tile)
    for r in range(rows):
        for cc in range(cols):
            t = np.zeros((tile, tile) + cur.shape[2:], dtype=cur.dtype)
            src = cur[r * tile : (r + 1) * tile, cc * tile : (cc + 1) * tile]
            t[: src.shape[0], : src.shape[1]] = src
            yield t


def data_region_order(n_img: int, n_msk: int, overviews_first: bool) -> list[int]:
    """Index order (into images-then-masks numbering) of the tile-data
    region — THE single source of truth shared by container_prefix's
    offset assignment and encode_cog's payload concatenation, so the two
    cannot disagree. Default: image levels 0..N then mask levels 0..M.
    overviews_first: smallest level first, each image level IMMEDIATELY
    followed by its mask level (GDAL's COG layout) — so a prefix read up
    to the first level-0 offset holds every overview's image AND mask
    payloads. Unpaired mask levels (foreign counts) trail reversed."""
    if not overviews_first:
        return list(range(n_img + n_msk))
    order = []
    for lv in range(n_img - 1, -1, -1):
        order.append(lv)
        if lv < n_msk:
            order.append(n_img + lv)
    for i in range(n_msk - 1, n_img - 1, -1):  # foreign: more masks than levels
        order.append(n_img + i)
    return order


def plan_levels(w: int, h: int, tile: int, compression: int) -> list[Level]:
    """The writer's pyramid plan: level dims halve (floor, min 1) until a
    level fits one tile (cog/mod.rs:115-129 ordering invariant)."""
    n_lv = num_levels(w, h, tile, tile)
    out = []
    for lv in range(n_lv):
        lw, lh = level_dims(w, h, lv)
        out.append(Level(lw, lh, tile, tile, compression, None if lv == 0 else lv))
    return out


def container_prefix(
    levels: list[Level],
    byte_counts: list[list[int]],
    c: int,
    bits: int,
    sample_format: int,
    photometric: int,
    epsg: int,
    origin_x: float,
    origin_y: float,
    scale_px: float,
    predictor: int = 1,
    big: bool = False,
    palette: np.ndarray | None = None,
    scale_py: float | None = None,
    jpeg_tables: bytes | None = None,
    nodata: float | None = None,
    mask_levels: list[Level] | None = None,
    mask_byte_counts: list[list[int]] | None = None,
    overviews_first: bool = False,
) -> bytes:
    """Everything BEFORE the tile-data region — header, IFD chain, external
    tag payloads — with tile offsets computed from ``byte_counts`` alone
    (no tile payloads needed). Fills ``levels[i].tile_offsets`` /
    ``tile_byte_counts`` as a side effect. The container contract is: the
    returned prefix followed by every level's tile payloads concatenated
    in data_region_order(n_levels, n_masks, overviews_first) — which is
    plain (level, tile_idx) order unless ``overviews_first`` — is a valid
    COG. Callers passing ``overviews_first=True`` MUST concatenate in
    that same order (encode_cog does; the distributed sink keeps the
    default order).

    Split out of encode_cog so the distributed sink
    (operators/cogsink.py) can compress tiles across the cluster, collect
    only their SIZES (metadata: ~12 bytes/tile), build this prefix on the
    driver, and stream/range-write payloads without any task ever holding
    the whole raster."""
    n_lv = len(levels)
    for lev, counts in zip(levels, byte_counts):
        cols, rows = lev.grid
        if len(counts) != cols * rows:
            raise ValueError(
                f"level {lev.overview or 0}: {len(counts)} byte counts != {cols * rows} grid tiles"
            )
        lev.tile_byte_counts = list(counts)

    # tag lists per IFD (values with placeholder offsets)
    def ifd_tags(lv: int) -> list[Tag]:
        lev = levels[lv]
        n_tiles = len(byte_counts[lv])
        tags = [
            Tag(T_NEWSUBFILETYPE, _LONG, [0 if lv == 0 else 1]),
            Tag(T_WIDTH, _LONG, [lev.width]),
            Tag(T_LENGTH, _LONG, [lev.height]),
            Tag(T_BITSPERSAMPLE, _SHORT, [bits] * c),
            Tag(T_COMPRESSION, _SHORT, [lev.compression]),
            Tag(T_PHOTOMETRIC, _SHORT, [photometric]),
            Tag(T_SAMPLESPERPIXEL, _SHORT, [c]),
            Tag(T_PLANARCONFIG, _SHORT, [1]),
            Tag(T_TILEWIDTH, _LONG, [lev.tile_w]),
            Tag(T_TILELENGTH, _LONG, [lev.tile_h]),
            Tag(T_TILEOFFSETS, _LONG8 if big else _LONG, [0] * n_tiles),
            Tag(T_TILEBYTECOUNTS, _LONG, list(byte_counts[lv])),
            Tag(T_SAMPLEFORMAT, _SHORT, [sample_format] * c),
        ]
        if c == 4:  # unassociated alpha (raster/image.rs RGBA path)
            tags.append(Tag(T_EXTRASAMPLES, _SHORT, [2]))
        if palette is not None:
            # ColorMap: 2^bits R values, then G, then B — 16-bit per entry
            pal = np.zeros((256, 3), dtype=np.uint16)
            pal[: palette.shape[0]] = palette.astype(np.uint16) * 257
            tags.append(Tag(T_COLORMAP, _SHORT, pal.T.reshape(-1).tolist()))
        if predictor != 1:
            tags.append(Tag(T_PREDICTOR, _SHORT, [predictor]))
        if jpeg_tables is not None:
            # TechNote 2: shared DQT/DHT stream, one copy per IFD that
            # uses it (tile payloads are abbreviated SOI+SOF+SOS streams)
            tags.append(Tag(T_JPEGTABLES, 7, list(jpeg_tables)))
        if nodata is not None:
            # GDAL_NODATA (ASCII, NUL-terminated) on every IFD so each
            # level is self-describing — overviews share the band nodata
            # (GDAL convention); sparse holes read back as this value
            tags.append(Tag(T_GDAL_NODATA, 2, list(_nodata_ascii(nodata))))
        if lv == 0:  # geo tags on the full-resolution IFD
            tags += [
                Tag(
                    T_MODELPIXELSCALE,
                    _DOUBLE,
                    # anisotropic y scale for rendered-region sinks whose
                    # lon/lat grid is not square (ModelPixelScale carries
                    # independent x/y; square remains the default)
                    [scale_px, scale_px if scale_py is None else scale_py, 0.0],
                ),
                Tag(T_MODELTIEPOINT, _DOUBLE, [0.0, 0.0, 0.0, origin_x, origin_y, 0.0]),
                Tag(T_GEOKEYDIRECTORY, _SHORT, _geokey_directory(epsg)),
            ]
        return sorted(tags, key=lambda t: t.code)  # TIFF requirement (O2)

    def mask_ifd_tags(i: int) -> list[Tag]:
        # GDAL-style internal transparency mask (TIFF 6 §Additional
        # Baseline Fields): 1-bit, photometric 4, NewSubfileType 4 for
        # the full-res mask / 5 (mask|reduced) for overview masks —
        # exactly what cog_info's mask routing recognizes on read
        ml = mask_levels[i]
        n = len(mask_byte_counts[i])
        tags = [
            Tag(T_NEWSUBFILETYPE, _LONG, [4 if i == 0 else 5]),
            Tag(T_WIDTH, _LONG, [ml.width]),
            Tag(T_LENGTH, _LONG, [ml.height]),
            Tag(T_BITSPERSAMPLE, _SHORT, [1]),
            Tag(T_COMPRESSION, _SHORT, [ml.compression]),
            Tag(T_PHOTOMETRIC, _SHORT, [4]),
            Tag(T_SAMPLESPERPIXEL, _SHORT, [1]),
            Tag(T_PLANARCONFIG, _SHORT, [1]),
            Tag(T_TILEWIDTH, _LONG, [ml.tile_w]),
            Tag(T_TILELENGTH, _LONG, [ml.tile_h]),
            Tag(T_TILEOFFSETS, _LONG8 if big else _LONG, [0] * n),
            Tag(T_TILEBYTECOUNTS, _LONG, list(mask_byte_counts[i])),
        ]
        return sorted(tags, key=lambda t: t.code)

    if (mask_levels is None) != (mask_byte_counts is None):
        raise ValueError("mask_levels and mask_byte_counts go together")
    if mask_levels is not None:
        # the same grid validation the image levels get above — a
        # malformed count list must fail loudly, not write a container
        # whose mask offsets are shifted
        if len(mask_levels) != len(mask_byte_counts):
            raise ValueError(
                f"{len(mask_levels)} mask levels != {len(mask_byte_counts)} count lists"
            )
        for i, (ml, counts) in enumerate(zip(mask_levels, mask_byte_counts)):
            cols, rows = ml.grid
            if len(counts) != cols * rows:
                raise ValueError(
                    f"mask level {i}: {len(counts)} byte counts != {cols * rows} grid tiles"
                )
            ml.tile_byte_counts = list(counts)
    all_levels = list(levels) + list(mask_levels or [])
    all_counts = list(byte_counts) + list(mask_byte_counts or [])
    all_tags = [ifd_tags(lv) for lv in range(n_lv)] + [
        mask_ifd_tags(i) for i in range(len(mask_levels or []))
    ]

    # ---- layout: header | per-level (IFD block + external data) | tiles ----
    # classic: 8-byte header, u16 entry count, 12-byte entries, u32 next
    # ptr, 4-byte inline values; BigTIFF: 16-byte header, u64 count,
    # 20-byte entries, u64 next ptr, 8-byte inline values
    hdr_sz, cnt_sz, entry_sz, nxt_sz, inline = (
        (16, 8, 20, 8, 8) if big else (8, 2, 12, 4, 4)
    )
    pos = hdr_sz
    ifd_positions = []
    ext_positions: list[dict[int, int]] = []
    for tags in all_tags:
        ifd_positions.append(pos)
        pos += cnt_sz + entry_sz * len(tags) + nxt_sz
        ext = {}
        for t in tags:
            size = _TYPE_SIZES[t.dtype] * len(t.values)
            if size > inline:
                ext[t.code] = pos
                pos += size + (size & 1)
        ext_positions.append(ext)
    # tile data. A zero byte count marks a SPARSE tile (GDAL SPARSE_OK
    # convention: offset 0 + count 0 = "no data on disk, fill on read")
    # — record offset 0 rather than the running position so external
    # readers (GDAL/libtiff) recognize the hole.
    # data-region order: data_region_order() is shared with encode_cog's
    # payload concatenation — offsets live in the tags, so READERS are
    # order-agnostic, but the WRITER must append payloads in exactly
    # this order (the contract in the docstring above).
    order = data_region_order(
        len(byte_counts), len(all_levels) - len(byte_counts), overviews_first
    )
    for idx in order:
        lev_obj, counts = all_levels[idx], all_counts[idx]
        lev_obj.tile_offsets = []
        for n in counts:
            lev_obj.tile_offsets.append(pos if n else 0)
            pos += n

    # fill tile offsets into the tag values
    for lev_obj, tags in zip(all_levels, all_tags):
        for t in tags:
            if t.code == T_TILEOFFSETS:
                t.values = lev_obj.tile_offsets

    # ---- serialize ----
    if big:
        out = bytearray(struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_positions[0]))
    else:
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_positions[0]))
    cnt_fmt, off_fmt = ("<Q", "<Q") if big else ("<H", "<I")
    for lv, tags in enumerate(all_tags):
        assert len(out) == ifd_positions[lv]
        out += struct.pack(cnt_fmt, len(tags))
        for t in tags:
            size = _TYPE_SIZES[t.dtype] * len(t.values)
            out += struct.pack("<HH", t.code, t.dtype)
            out += struct.pack(off_fmt, len(t.values))
            if size <= inline:
                out += t.payload().ljust(inline, b"\x00")
            else:
                out += struct.pack(off_fmt, ext_positions[lv][t.code])
        next_ifd = ifd_positions[lv + 1] if lv + 1 < len(all_tags) else 0
        out += struct.pack(off_fmt, next_ifd)
        for t in tags:
            size = _TYPE_SIZES[t.dtype] * len(t.values)
            if size > inline:
                assert len(out) == ext_positions[lv][t.code]
                p = t.payload()
                out += p + (b"\x00" if len(p) & 1 else b"")
    return bytes(out)


def encode_cog(
    pixels: np.ndarray,
    epsg: int,
    origin_x: float,
    origin_y: float,
    scale_px: float,
    tile: int = TILE,
    compression: int = COMPRESSION_DEFLATE,
    predictor: int = 1,
    big: bool = False,
    palette: np.ndarray | None = None,
    resample: str = "nearest",
    quality: int = 90,
    sparse: bool = False,
    nodata: float | None = None,
    mask: np.ndarray | None = None,
    overviews_first: bool = False,
) -> bytes:
    """Write a classic little-endian tiled GeoTIFF with a full overview
    pyramid. origin = top-left corner in CRS units (ModelTiepoint with
    raster point (0,0,0)); scale_px = CRS units/pixel.

    ``sparse=True`` writes GDAL-SPARSE_OK-style holes: any tile whose
    padded samples uniformly equal the fill value (``nodata`` when set,
    else zero) is stored as offset 0 / byte count 0
    (no payload bytes) and zero-fills on read (decode_tile) — the layout
    GDAL emits for sparse mosaics/masks and libtiff's TIFFReadEncodedTile
    treats as fill. At the 10^12-image design point sparse coverage
    mosaics are mostly holes, so this is a first-class size/IO lever,
    not an edge case. The reference reader has no such branch (its range
    is offsets[i]..offsets[i]+counts[i] unconditionally, level.rs:301-319
    — an empty slice that fails in the codec).

    ``nodata`` writes the GDAL_NODATA ASCII tag (42113) on every IFD and
    becomes the sparse fill value: holes read back as nodata, matching
    GDAL's sparse semantics (unset -> 0). NaN is supported for float32.

    ``overviews_first=True`` writes the data region in GDAL's COG byte
    layout — smallest overview first, each image level's payloads
    immediately followed by its mask level's, level 0 (and its mask)
    last — so a header+overviews range prefetch serves every low-zoom
    read, image AND mask, from the file's first bytes. Offsets live in
    the tags; readers are order-agnostic (decode parity test-pinned).

    ``mask`` (an (h, w) bool/uint8 validity array) writes a GDAL-style
    INTERNAL transparency mask: one 1-bit deflate IFD per pyramid level
    (photometric 4, NewSubfileType 4 for full-res / 5 for overview
    masks, nearest-resampled like GDAL's overview masks), appended after
    the image IFDs. cog_info routes them to info['mask_levels'] and
    decode_mask_tile returns 0/255 u8. With ``sparse=True``, all-invalid
    mask tiles hole like image tiles. Beyond the reference (no mask
    concept anywhere in its codebase).

    Pixel formats (raster/image.rs:26-95 parity): (h,w,3) u8 RGB,
    (h,w) / (h,w,1) u8 gray, (h,w) u16 gray16, (h,w,4) u8 RGBA
    (unassociated alpha, ExtraSamples=2). With ``palette`` (a (N<=256, 3)
    u8 array), pixels must be (h,w) u8 INDICES: photometric 3 (RGBPalette,
    photometrics.rs:26-27) with a ColorMap tag holding the 16-bit R,G,B
    planes (value*257, the TIFF 6 8->16-bit convention).

    ``big=True`` writes BigTIFF (magic 43, 8-byte offsets, LONG8 tile
    offsets) — required once tile data passes the 4 GiB classic-TIFF
    offset ceiling, which single-scene mosaics at the 10^12-image design
    point do hit. The parser reads both transparently.

    ``resample``: overview resampling filter — 'nearest' (the reference
    render default, ops.rs:70-88), 'catmullrom' (the Encoder's
    ResizeFilter::CatmulRod option via the image crate, encode/mod.rs
    resize path), or 'average' (the GDAL COG driver's default overview
    filter — beyond the reference; area-box mean, operators/tiling.py
    resample_average); palette indices always resample nearest
    (interpolating LUT indices is meaningless).

    This single-pass writer holds the whole raster; the distributed
    equivalent for rasters no task can hold is
    operators/cogsink.py:encode_cog_blocked (byte-identical output,
    test-pinned)."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    bits, sample_format, photometric = _pixel_format_for(
        pixels.dtype, c, predictor, palette
    )
    _validate_nodata(pixels.dtype, nodata)
    if mask is not None and mask.shape != (h, w):
        # fail before any pyramid work, not after compressing every tile
        raise ValueError(f"mask shape {mask.shape} != image {(h, w)}")
    jpeg = compression == COMPRESSION_JPEG
    if jpeg:
        photometric = jpeg_photometric_for(pixels.dtype, c, predictor, palette)
    levels = plan_levels(w, h, tile, compression)
    n_lv = len(levels)

    # per-level tile payloads (level i resampled from level i-1)
    level_tiles: list[list[bytes]] = []
    from .operators.tiling import resample_average, resample_catmullrom

    if resample not in ("nearest", "catmullrom", "average"):
        raise ValueError(f"unknown resample filter {resample!r}")
    resampler = resample_nearest
    if palette is None and resample != "nearest":
        # palette indices always resample nearest (averaging or
        # interpolating LUT indices is meaningless). Average excludes
        # nodata pixels from the mean (GDAL AVERAGE semantics) when a
        # nodata value is declared.
        if resample == "average":
            def resampler(a, w, h, _nd=nodata):
                return resample_average(a, w, h, nodata=_nd)
        else:
            resampler = resample_catmullrom
    jpeg_tables = jpeg_tables_for(quality, gray=c == 1) if jpeg else None

    cur = pixels
    for lv in range(n_lv):
        if lv > 0:
            lw, lh = level_dims(w, h, lv)
            cur = resampler(cur, lw, lh)
        level_tiles.append(
            [
                tile_payload(t, compression, predictor, quality, sparse, nodata)
                for t in _iter_padded_tiles(cur, tile)
            ]
        )

    mask_levels = None
    mask_tiles: list[list[bytes]] = []
    if mask is not None:  # shape validated up front, before pyramid work
        mask_levels = plan_levels(w, h, tile, COMPRESSION_DEFLATE)
        mcur = mask.astype(bool)
        for lv in range(n_lv):
            if lv > 0:
                lw, lh = level_dims(w, h, lv)
                mcur = resample_nearest(mcur, lw, lh)
            per = []
            for t in _iter_padded_tiles(mcur, tile):
                if sparse and not t.any():
                    per.append(b"")  # all-invalid mask tile: hole
                else:
                    # 1-bit MSB-first packing, rows padded to byte
                    # boundaries (TIFF 6) — np.packbits along axis 1
                    per.append(
                        zlib.compress(np.packbits(t, axis=1).tobytes(), 6)
                    )
            mask_tiles.append(per)

    prefix = container_prefix(
        levels,
        [[len(t) for t in tiles] for tiles in level_tiles],
        c,
        bits,
        sample_format,
        photometric,
        epsg,
        origin_x,
        origin_y,
        scale_px,
        predictor=predictor,
        big=big,
        palette=palette,
        jpeg_tables=jpeg_tables,
        nodata=nodata,
        mask_levels=mask_levels,
        mask_byte_counts=(
            [[len(t) for t in per] for per in mask_tiles]
            if mask is not None
            else None
        ),
        overviews_first=overviews_first,
    )
    out = bytearray(prefix)
    groups = level_tiles + mask_tiles
    for idx in data_region_order(
        len(level_tiles), len(mask_tiles), overviews_first
    ):
        out += b"".join(groups[idx])
    return bytes(out)


# ---------------------------------------------------------------------------
# parser (classic + BigTIFF, both endians)
# ---------------------------------------------------------------------------


def parse_tiff(data: bytes) -> dict:
    """-> {endian, big, ifds: [ {code: [values]} ]} (S1, tiff/mod.rs:85-124)."""
    if len(data) < 4:
        # fewer bytes than the byte-order mark + magic: indistinguishable
        # from a truncated fetch — must NOT raise the typed NotATiff (the
        # header-open retry loops treat typed rejects as definitive)
        raise struct.error("TIFF header shorter than 4 bytes")
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise NotATiff("bad TIFF byte-order mark")
    (magic,) = struct.unpack_from(f"{e}H", data, 2)
    if magic == 42:
        big = False
        (first,) = struct.unpack_from(f"{e}I", data, 4)
    elif magic == 43:
        big = True
        off_size, zero = struct.unpack_from(f"{e}HH", data, 4)
        if off_size != 8 or zero != 0:
            raise NotATiff("bad BigTIFF header")
        (first,) = struct.unpack_from(f"{e}Q", data, 8)
    else:
        raise NotATiff(f"bad TIFF magic {magic}")

    fmt_by_type = {1: "B", 2: "c", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h", 9: "i", 11: "f", 12: "d", 16: "Q", 17: "q"}
    ifds = []
    pos = first
    while pos:
        if big:
            (count,) = struct.unpack_from(f"{e}Q", data, pos)
            entry_pos = pos + 8
            entry_sz = 20
            inline = 8
        else:
            (count,) = struct.unpack_from(f"{e}H", data, pos)
            entry_pos = pos + 2
            entry_sz = 12
            inline = 4
        tags: dict[int, list] = {}
        for i in range(count):
            p = entry_pos + i * entry_sz
            code, dtype = struct.unpack_from(f"{e}HH", data, p)
            if big:
                (n,) = struct.unpack_from(f"{e}Q", data, p + 4)
                vpos = p + 12
            else:
                (n,) = struct.unpack_from(f"{e}I", data, p + 4)
                vpos = p + 8
            if dtype == 5 or dtype == 10:  # RATIONAL: pairs -> f64 division
                size = 8 * n
                if size > inline:
                    (vpos,) = struct.unpack_from(f"{e}Q" if big else f"{e}I", data, vpos)
                f = "I" if dtype == 5 else "i"
                raw = struct.unpack_from(f"{e}{2 * n}{f}", data, vpos)
                tags[code] = [
                    (raw[2 * k] / raw[2 * k + 1]) if raw[2 * k + 1] else 0.0 for k in range(n)
                ]
                continue
            f = fmt_by_type.get(dtype)
            if f is None:
                continue  # unknown type: skip (liberal reader)
            size = struct.calcsize(f) * n
            if size > inline:
                (vpos,) = struct.unpack_from(f"{e}Q" if big else f"{e}I", data, vpos)
            vals = list(struct.unpack_from(f"{e}{n}{f}", data, vpos))
            if dtype == 2:  # ASCII
                vals = [b"".join(vals).rstrip(b"\x00").decode("ascii", "replace")]
            tags[code] = vals
        if big:
            (pos,) = struct.unpack_from(f"{e}Q", data, entry_pos + count * entry_sz)
        else:
            (pos,) = struct.unpack_from(f"{e}I", data, entry_pos + count * entry_sz)
        ifds.append(tags)
    return {"endian": e, "big": big, "ifds": ifds}


_TAG_NAMES = {
    254: "NewSubfileType", 256: "ImageWidth", 257: "ImageLength",
    258: "BitsPerSample", 259: "Compression", 262: "PhotometricInterpretation",
    266: "FillOrder", 273: "StripOffsets", 278: "RowsPerStrip",
    279: "StripByteCounts",
    277: "SamplesPerPixel", 284: "PlanarConfiguration", 317: "Predictor",
    322: "TileWidth", 323: "TileLength", 324: "TileOffsets",
    325: "TileByteCounts", 338: "ExtraSamples", 339: "SampleFormat",
    347: "JPEGTables",
    33550: "ModelPixelScale", 33922: "ModelTiepoint",
    34264: "ModelTransformation", 34735: "GeoKeyDirectory",
    34736: "GeoDoubleParams", 34737: "GeoAsciiParams",
    42113: "GdalNodata",
}


def tag_to_string(code: int, values: list) -> str:
    """F3 parity: the reference's Tag::as_string_lossy + Display
    (tiff/tag/mod.rs:113-185) — human string for any decoded tag: ASCII
    verbatim (newlines escaped), single value bare, lists bracketed, the
    whole thing truncated to 100 chars with '...', and unknown codes
    rendered as Unknown(code)."""
    if len(values) == 1 and isinstance(values[0], str):
        value_string = values[0].replace("\n", "\\n")
    elif len(values) == 1:
        value_string = str(values[0])
    elif not values:
        value_string = "Undefined"
    else:
        value_string = "[" + ", ".join(str(v) for v in values) + "]"
    if len(value_string) > 100:
        value_string = value_string[:98] + "..."
    name = _TAG_NAMES.get(code, f"Unknown({code})")
    return f"{name}[{len(values)}]: {value_string}"


def _parse_geokeys(tags: dict) -> dict[int, int | float | str]:
    """Unpack the GeoKeyDirectory (keys.rs:105-191): location==0 -> value
    inline; else slice GeoDoubleParams / GeoAsciiParams."""
    directory = tags.get(T_GEOKEYDIRECTORY)
    if not directory:
        return {}
    out: dict[int, int | float | str] = {}
    n_keys = directory[3]
    doubles = tags.get(T_GEODOUBLEPARAMS, [])
    asciis = tags.get(T_GEOASCIIPARAMS, [""])[0] if T_GEOASCIIPARAMS in tags else ""
    for k in range(n_keys):
        key, loc, cnt, off = directory[4 + 4 * k : 8 + 4 * k]
        if loc == 0:
            out[key] = off
        elif loc == T_GEODOUBLEPARAMS:
            out[key] = doubles[off] if cnt == 1 else doubles[off : off + cnt]
        elif loc == T_GEOASCIIPARAMS:
            out[key] = asciis[off : off + cnt].rstrip("|")
    return out


#: Errors cog_info can raise when a byte PREFIX ends mid-structure (an IFD
#: entry, external value array, or next-IFD offset beyond the prefix):
#: struct.error from short unpacks, IndexError/ValueError from slicing or
#: reshaping cut arrays. The grow-and-reparse open (sources.open_ranged,
#: behind every header-only path) retries on these; a genuinely corrupt
#: file still raises once the whole object is in hand (the loop stops
#: growing at a short read).
#:
#: ORDERING INVARIANT: every typed CloudTiffError also subclasses
#: ValueError, so an ``except TRUNCATION_ERRORS`` clause MUST be preceded
#: by ``except CloudTiffError: raise`` — otherwise a definitive semantic
#: reject (NotATiff, NoLevels, ...) is silently retried until the whole
#: object has been fetched. New call sites should prefer
#: :func:`is_truncation`, which encodes the exclusion and cannot be
#: miswired.
TRUNCATION_ERRORS = (struct.error, IndexError, ValueError)


def is_truncation(exc: BaseException) -> bool:
    """True iff ``exc`` indicates a byte prefix that ended mid-structure
    (retryable by fetching more bytes) — i.e. one of TRUNCATION_ERRORS
    that is NOT a typed CloudTiffError semantic reject. Use this in new
    grow-and-reparse loops instead of catching TRUNCATION_ERRORS
    directly (see the ordering invariant above)."""
    return isinstance(exc, TRUNCATION_ERRORS) and not isinstance(exc, CloudTiffError)


def _parse_nodata(tags: dict) -> float | None:
    """GDAL_NODATA (42113): ASCII decimal, possibly 'nan'; malformed
    values are ignored (GDAL warns and proceeds without nodata)."""
    if T_GDAL_NODATA not in tags:
        return None
    try:
        return float(str(tags[T_GDAL_NODATA][0]).strip())
    except (TypeError, ValueError):
        return None


def cog_info(data: bytes) -> dict:
    """S2 analyze (CloudTiff::open): parsed levels sorted desc by megapixels
    with overview numbering + projection columns. Raises like the reference
    on a Transformed model or missing scaled tags."""
    t = parse_tiff(data)
    levels = []
    mask_levels = []
    for tags in t["ifds"]:
        if T_WIDTH not in tags or T_LENGTH not in tags:
            continue  # malformed IFD: skipped (cog/mod.rs:115)
        strip = False
        mask = False
        if T_TILEWIDTH in tags:
            subtype = tags.get(T_NEWSUBFILETYPE, [0])[0]
            if subtype & 0x4:
                # tiled transparency-mask IFD (GDAL internal-mask COGs,
                # NewSubfileType 4 / 4|1): NOT pyramid imagery — admitting
                # it would mis-number levels (the full-res mask ties the
                # full-res image on megapixels). Routed to mask_levels
                # below; decode via decode_mask_tile. Beyond the
                # reference, which admits every tiled IFD as a level
                # (cog/mod.rs:91-135).
                mask = True
            elif subtype & 0x2:
                continue  # multi-page document page: skip like strips do
            if not all(
                k in tags for k in (T_TILELENGTH, T_TILEOFFSETS, T_TILEBYTECOUNTS)
            ):
                # a tiled IFD missing its companion tags is malformed —
                # skip like the other malformation branches do (a bare
                # KeyError here is untyped and crashes the header
                # grow-and-reparse loop, ADVICE r6)
                continue
            tile_w, tile_h = tags[T_TILEWIDTH][0], tags[T_TILELENGTH][0]
            offsets, counts = tags[T_TILEOFFSETS], tags[T_TILEBYTECOUNTS]
        elif T_STRIPOFFSETS in tags and T_STRIPBYTECOUNTS in tags:
            # strip-organized IFD: the classic (non-COG) GeoTIFF layout.
            # Beyond the reference (cog/mod.rs:115 skips non-tiled IFDs):
            # a strip is modeled as a full-width tile of RowsPerStrip
            # rows — cols=1, rows=ceil(h/rps) under the existing grid
            # math — and the LAST strip's short payload zero-pads to the
            # grid row height in decode_tile, making strips behave
            # exactly like padded edge tiles downstream. RowsPerStrip
            # defaults to "whole image" when absent (TIFF 6 default
            # 2^32-1, clamped).
            subtype = tags.get(T_NEWSUBFILETYPE, [0])[0]
            if subtype & 0x2:
                # multi-page document page: not pyramid imagery — skip
                # (admitting it would number another scanned page as an
                # overview level). Tiled IFDs apply the same rule above.
                continue
            if subtype & 0x4:
                # strip-organized transparency mask (the common pre-COG
                # GDAL internal-mask layout): route to mask_levels like
                # the tiled mask branch — strips decode through the same
                # full-width-tile model, so decode_mask_tile just works
                mask = True
            ih = tags[T_LENGTH][0]
            tile_w = tags[T_WIDTH][0]
            tile_h = min(tags.get(T_ROWSPERSTRIP, [ih])[0], ih)
            if tile_h <= 0 or ih <= 0:
                continue  # RowsPerStrip/ImageLength 0: malformed, skip
            offsets, counts = tags[T_STRIPOFFSETS], tags[T_STRIPBYTECOUNTS]
            n_strips = (ih + tile_h - 1) // tile_h
            spp_ = tags.get(
                T_SAMPLESPERPIXEL, [len(tags.get(T_BITSPERSAMPLE, [8]))]
            )[0]
            if tags.get(T_PLANARCONFIG, [1])[0] == 2 and spp_ > 1:
                # planar strip layout carries spp planes of strips
                # (TIFF 6 §3) — admit with the correct count so decode_tile
                # raises its loud UnsupportedPixelFormat (same
                # diagnose-ability contract as the tiled planar reject)
                # instead of this IFD vanishing into NoLevels
                n_strips *= spp_
            if len(offsets) != n_strips or len(offsets) != len(counts):
                continue  # inconsistent strip accounting: skip like malformed
            strip = True
        else:
            continue  # neither tiled nor stripped: skipped (cog/mod.rs:115)
        (mask_levels if mask else levels).append(
            dict(
                width=tags[T_WIDTH][0],
                height=tags[T_LENGTH][0],
                tile_w=tile_w,
                tile_h=tile_h,
                strip=strip,
                # tag 259 is a DEFAULTED tag (TIFF 6: default 1 = none);
                # baseline uncompressed classic files may legally omit it
                compression=tags.get(T_COMPRESSION, [1])[0],
                predictor=tags.get(T_PREDICTOR, [1])[0],  # default level.rs:119-150
                fill_order=tags.get(T_FILLORDER, [1])[0],
                planar=tags.get(T_PLANARCONFIG, [1])[0],
                jpeg_tables=(
                    bytes(tags[T_JPEGTABLES]) if T_JPEGTABLES in tags else None
                ),
                bits_per_sample=tags.get(T_BITSPERSAMPLE, [8]),
                samples_per_pixel=tags.get(
                    T_SAMPLESPERPIXEL, [len(tags.get(T_BITSPERSAMPLE, [8]))]
                )[0],
                photometric=tags.get(T_PHOTOMETRIC, [1])[0],
                sample_format=tags.get(T_SAMPLEFORMAT, [1])[0],
                endian=None,  # filled below (file-level)
                offsets=offsets,
                byte_counts=counts,
                nodata=_parse_nodata(tags),
            )
        )
    if not levels:
        raise NoLevels()  # cog/mod.rs:127-129
    for lev in levels + mask_levels:
        lev["endian"] = t["endian"]
    mask_levels.sort(key=lambda l: l["width"] * l["height"], reverse=True)
    levels.sort(key=lambda l: l["width"] * l["height"], reverse=True)
    if levels[0]["nodata"] is not None:
        for lev in levels[1:]:
            if lev["nodata"] is None:
                lev["nodata"] = levels[0]["nodata"]
    for i, lev in enumerate(levels):
        lev["overview"] = None if i == 0 else i

    tags0 = t["ifds"][0]
    if T_MODELTRANSFORMATION in tags0:
        raise UnsupportedModelTransformation()  # projection/mod.rs:114-123
    geokeys = _parse_geokeys(tags0)
    epsg = geokeys.get(GK_PROJECTED_CS_TYPE) or geokeys.get(GK_GEOGRAPHIC_TYPE)
    tiepoint = tags0.get(T_MODELTIEPOINT)
    pixel_scale = tags0.get(T_MODELPIXELSCALE)
    proj = None
    if epsg and tiepoint and pixel_scale:
        proj = dict(
            epsg=int(epsg),
            origin_x=tiepoint[3],
            origin_y=tiepoint[4],
            scale_px=pixel_scale[0],
            angular_units=geokeys.get(GK_ANGULAR_UNITS),
            raster_type=geokeys.get(GK_RASTER_TYPE),
        )
    colormap = None
    if T_COLORMAP in tags0:
        cm = np.asarray(tags0[T_COLORMAP], dtype=np.uint16)
        colormap = cm.reshape(3, -1).T  # (N, 3) 16-bit R,G,B
    return {
        "levels": levels,
        "mask_levels": mask_levels,
        "projection": proj,
        "big": t["big"],
        "colormap": colormap,
    }


def _pad_rows(arr: np.ndarray, th: int) -> np.ndarray:
    """Zero-pad a decoded (rows, w, spp) array to (th, w, spp) — no-op for
    full tiles; used by the strip path so short last strips present as
    padded edge tiles."""
    if arr.shape[0] == th:
        return arr
    out = np.zeros((th,) + arr.shape[1:], dtype=arr.dtype)
    out[: arr.shape[0]] = arr
    return out


def _native_dtype_for(lev: dict, spp: int) -> np.dtype:
    """Resolve a level's native OUTPUT sample dtype, applying every
    format-support guard on the way — the single source of truth for
    "supported format", shared by the sparse-hole zero-fill and the
    stored-tile decode path in decode_tile so the two can't drift: a
    hole of an unsupported layout raises exactly like a stored tile."""
    comp = lev["compression"]
    if comp not in (
        1,
        COMPRESSION_DEFLATE,
        COMPRESSION_DEFLATE_LEGACY,
        COMPRESSION_LZW,
        COMPRESSION_PACKBITS,
        COMPRESSION_JPEG,
    ):
        raise CompressionNotSupported(comp)
    if comp == COMPRESSION_JPEG:
        phot = lev.get("photometric", 6 if spp == 3 else 1)
        if phot not in (1, 2, 6):
            raise UnsupportedPixelFormat(
                f"photometric {phot} unsupported for JPEG tiles"
            )
        return np.dtype(np.uint8)
    bits_all = lev.get("bits_per_sample", [8])
    bits = bits_all[0]
    if set(bits_all) - {bits}:
        raise UnsupportedPixelFormat("mixed bits_per_sample unsupported (image.rs:26-95)")
    sf = lev.get("sample_format", 1)
    if bits in (1, 2, 4) and sf == 1:
        if spp != 1:
            raise UnsupportedPixelFormat(f"{bits}-bit is gray-only")
        if lev.get("predictor", 1) != 1:
            raise UnsupportedPixelFormat("predictors undefined for sub-byte samples")
        return np.dtype(np.uint8)
    if bits == 8 and sf == 1:
        return np.dtype(np.uint8)
    if bits == 16 and sf == 1:
        return np.dtype(np.uint16)
    if bits == 32 and sf == 3:
        return np.dtype(np.float32)
    raise UnsupportedPixelFormat(
        f"bits_per_sample {bits} with sample_format {sf} unsupported"
    )


def decode_tile(data: bytes, info: dict, level: int, tile_idx: int) -> np.ndarray:
    """Fetch + decode one tile by byte range (S4/S8 + decode chain
    level.rs:301-373). Returns (tile_h, tile_w, spp) in the level's native
    sample type — u8 for 8-bit, u16 for 16-bit gray (raster/image.rs:26-95
    format coverage); convert with codecs.raster_to_rgb8 when RGB8 output
    is needed."""
    lev = info["levels"][level]
    # typed bounds check like the reference's TileIndexOutOfRange
    # (level.rs:303-319 clamps to min(offsets, byte_counts) length) —
    # malformed IFDs may carry mismatched array lengths. CloudTiffError
    # so is_truncation() treats it as definitive, not retryable.
    n_valid = min(len(lev["offsets"]), len(lev["byte_counts"]))
    if not 0 <= tile_idx < n_valid:
        raise TileIndexOutOfRange(
            f"tile index {tile_idx} out of range (level has {n_valid} tiles)"
        )
    off = lev["offsets"][tile_idx]
    cnt = lev["byte_counts"][tile_idx]
    raw = data[off : off + cnt]
    spp = lev.get("samples_per_pixel", 3)
    # strip-organized IFDs (cog_info strip=True): payloads carry only the
    # strip's ACTUAL rows — the last strip is short, never padded on disk
    # (TIFF 6 §3, unlike tiles) — so size checks below use `rows` and the
    # decoded array zero-pads back to the grid row height via _pad_rows,
    # making strips indistinguishable from padded edge tiles downstream.
    rows = lev["tile_h"]
    if lev.get("strip"):
        rows = min(rows, lev["height"] - tile_idx * rows)
        if rows <= 0:
            raise ValueError(f"strip index {tile_idx} beyond image height")
    if lev.get("planar", 1) != 1 and spp > 1:
        # tag 284=2 stores each sample as a separate plane (RRR..GGG..BBB);
        # the chunky de-interleave below would shred it. The reference only
        # writes chunky (encode/mod.rs:264) and its reader never consults
        # the tag (level.rs:301-373 assumes chunky) — reject loudly rather
        # than decode planar data silently wrong. spp==1 is exempt: with a
        # single sample the two layouts are byte-identical.
        raise UnsupportedPixelFormat("PlanarConfiguration 2 (planar) unsupported")
    if lev.get("fill_order", 1) != 1:
        # tag 266 applies to EVERY compression and bit depth: LSB-first
        # bytes would decode samples (or entropy streams) silently wrong
        # — reject loudly rather than reverse bits per byte. Checked
        # before the compression dispatch so no codec path can bypass it.
        raise UnsupportedPixelFormat("FillOrder 2 (LSB-first) unsupported")
    # one format-guard pass for holes AND stored tiles (the single source
    # of truth for "supported format" — a hole of an unsupported layout
    # raises exactly like a stored tile of it would)
    native_dtype = _native_dtype_for(lev, spp)
    if cnt == 0:
        # sparse tile (GDAL SPARSE_OK: offset 0 / byte count 0 = hole):
        # fill with the level's GDAL_NODATA value when declared (tag
        # 42113), else zero, in the native sample type. Placed after the
        # planar/fill-order guards so unsupported layouts still reject.
        shape = (lev["tile_h"], lev["tile_w"], spp)
        fill = lev.get("nodata")
        if fill is not None and np.issubdtype(native_dtype, np.integer):
            fv = float(fill)
            rng_i = np.iinfo(native_dtype)
            if not (np.isfinite(fv) and fv == int(fv) and rng_i.min <= int(fv) <= rng_i.max):
                # foreign file declaring a nodata unrepresentable in the
                # band dtype: casting would be platform-dependent garbage
                # — ignore the tag and zero-fill (GDAL's own tolerance)
                fill = None
        if fill is None:
            return np.zeros(shape, dtype=native_dtype)
        return np.full(shape, fill, dtype=native_dtype)
    if lev["compression"] == COMPRESSION_JPEG:
        # TechNote 2 "new-style" JPEG tiles: the payload is an (often
        # abbreviated) interchange stream; tag 347 carries the shared
        # DQT/DHT. Merging is safe even when a tile carries its own
        # tables (later definitions win). The CONTAINER photometric
        # declares the stream's color model: 6 = YCbCr (convert to RGB),
        # 2 = RGB-coded samples (no color matrix — libtiff without
        # JPEGCOLORMODE writes these), 1 = gray. Anything else (CMYK,
        # palette) rejects loudly rather than decode with the wrong
        # transform.
        from .jpeg import decode_jpeg, merge_jpeg_tables

        # the photometric whitelist already ran in _native_dtype_for
        phot = lev.get("photometric", 6 if spp == 3 else 1)
        tbl = lev.get("jpeg_tables")
        stream = merge_jpeg_tables(tbl, raw) if tbl else raw
        rgb = decode_jpeg(stream, color_transform=phot != 2)
        out = rgb[:, :, :1] if spp == 1 else rgb
        if out.shape[:2] != (rows, lev["tile_w"]):
            # same malformation guard as the buffer-size check on the
            # lossless paths: a stream declaring valid-region SOF dims
            # instead of the padded tile size must not ship short tiles
            raise ValueError(
                f"JPEG frame {out.shape[1]}x{out.shape[0]} != tile "
                f"{lev['tile_w']}x{rows}"
            )
        return _pad_rows(out, lev["tile_h"])
    if lev["compression"] in (COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_LEGACY):
        # 8 and 32946 carry the identical zlib stream (libtiff reads both;
        # the reference rejects 32946, compression.rs:213-224)
        buf = zlib.decompress(raw)
    elif lev["compression"] == COMPRESSION_LZW:
        buf = lzw_decode(raw)
    elif lev["compression"] == COMPRESSION_PACKBITS:
        from .codecs import packbits_decode

        buf = packbits_decode(raw)
    elif lev["compression"] == 1:
        buf = raw
    else:
        raise CompressionNotSupported(lev["compression"])
    tw, th = lev["tile_w"], lev["tile_h"]
    # mixed bits_per_sample / unsupported combinations already rejected
    # by _native_dtype_for above
    bits = lev.get("bits_per_sample", [8])[0]
    sf = lev.get("sample_format", 1)
    if bits in (1, 2, 4) and sf == 1:
        # bit-packed gray / mask / palette indices: the reference's Raster
        # does sub-byte masking on access (raster/mod.rs:152-183); here the
        # tile unpacks once. Gray/mask photometrics scale to u8 with the
        # image-crate rule v * 255 / (2^bits - 1); RGBPalette (3) keeps the
        # RAW indices — they address the ColorMap, scaling would corrupt
        # them. Rows pad to byte boundaries (TIFF 6).
        row_bytes = (tw * bits + 7) // 8
        if len(buf) != row_bytes * rows:
            raise ValueError(f"buffer size {len(buf)} != {rows}x{row_bytes}B")
        bits_arr = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8).reshape(rows, row_bytes), axis=1
        )
        samples = bits_arr[:, : tw * bits].reshape(rows, tw, bits)
        weights = 1 << np.arange(bits - 1, -1, -1, dtype=np.uint16)
        vals = (samples.astype(np.uint16) * weights).sum(axis=2)
        if lev.get("photometric", 1) == 3:
            return _pad_rows(vals.astype(np.uint8)[:, :, None], th)
        maxv = (1 << bits) - 1
        return _pad_rows(
            ((vals * 255 + maxv // 2) // maxv).astype(np.uint8)[:, :, None], th
        )
    # buffer dtype = the resolved native type with the file's byte order
    # (SampleFormat=3: IEEE float32 — elevation/NDVI COGs)
    if native_dtype == np.uint8:
        dtype = np.dtype(np.uint8)
    elif native_dtype == np.uint16:
        dtype = np.dtype(">u2" if lev.get("endian") == ">" else "<u2")
    else:
        dtype = np.dtype(">f4" if lev.get("endian") == ">" else "<f4")
    if len(buf) != tw * rows * spp * (bits // 8):  # raster/mod.rs:73-86
        raise ValueError(f"buffer size {len(buf)} != {tw}x{rows}x{spp}x{bits // 8}B")
    if lev.get("predictor", 1) == 3:
        # floating-point byte-shuffle predictor (TIFF TechNote 3)
        if sf != 3 or spp != 1:
            raise UnsupportedPixelFormat("predictor 3 is gray-float-only")
        from .codecs import predictor3_decode

        return _pad_rows(predictor3_decode(buf, tw, rows), th)
    arr = np.frombuffer(buf, dtype=dtype).reshape(rows, tw, spp)
    if dtype == np.dtype(">u2") or dtype == np.dtype("<u2"):
        arr = arr.astype(np.uint16)  # native byte order for downstream math
    elif sf == 3:
        arr = arr.astype(np.float32)
    if lev.get("predictor", 1) == 2:  # F6 undo (compression.rs:298-330)
        if sf == 3:
            raise UnsupportedPixelFormat(
                "horizontal predictor 2 is integer-only (TIFF 6 §14)"
            )
        from .codecs import predictor2_decode

        arr = predictor2_decode(arr)
    return _pad_rows(arr, th)


def decode_mask_tile(data: bytes, info: dict, mask_idx: int, tile_idx: int) -> np.ndarray:
    """Decode one tile of an internal transparency-mask IFD (GDAL
    masked-COG layout, NewSubfileType bit 0x4; typically 1-bit — the
    sub-byte unpack path handles it). Masks are parsed into
    info['mask_levels'] (sorted desc by megapixels, excluded from the
    pyramid) by cog_info; this decodes through the exact stored-tile
    chain decode_tile uses."""
    return decode_tile(data, {"levels": info["mask_levels"]}, mask_idx, tile_idx)
