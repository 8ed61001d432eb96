"""Deterministic synthetic fixture tables (FIXTURES.md T1/T2/T4).

Everything is derived from sha256 of the image_id / query_id — stable across
runs, processes, and scales (row i is identical no matter how many rows are
generated). No external data. Three parquet files per scale directory:

- ``images.parquet``  — EXACTLY the BASELINE.json input_hint shape:
  (image_id string, bytes binary, w int, h int, fmt string, caption string,
  phash bigint)
- ``images_meta.parquet`` — the deterministic geo-anchor (FIXTURES.md T2)
  *precomputed once* so that the Spark engine and the DuckDB oracle read the
  same doubles: epsg, origin_x/origin_y (native CRS), scale_px, and the
  EPSG:4326 bounds (xmin, ymin, xmax, ymax) via the 8-point estimate
  (projection/mod.rs:294-337). The engine re-derives bounds from the anchor
  in tests to prove parity (tests/test_projection.py).
- ``queries.parquet`` — the vector side (FIXTURES.md T4): pip polygons,
  knn points, region extractions, wmts xyz lookups.

Scales follow TESTDATA.md naming so queries(spark, sf_dir) can map the
driver's sf dir -> fixture dir by basename.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import TILE
from .codecs import decode_image, encode_image
from .projection import bounds_lat_lon, utm9n_forward

FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

#: bump when fixture BYTES change semantics (e.g. a codec swap) — stale
#: cached fixture dirs (which persist across driver rounds) self-invalidate
#: instead of silently serving old payloads next to new expected tables.
#: v3: fmt='jpeg' payloads switched from the round-1/2 lossy stand-in to
#: real baseline JFIF (cloudtiff_spark.jpeg) at quality 98.
FIXTURE_VERSION = 3

#: images, queries per scale (FIXTURES.md: smoke/correctness/bench)
SF_SPECS = {
    "sf0.001": (100, 50),
    "sf0.01": (2000, 500),
    "sf0.1": (10000, 5000),
}

_FMTS = ["jpeg", "png", "deflate_raw", "lzw_raw"]
_DIMS = np.array([64, 96, 128, 256, 300, 512])
_DIM_W = np.array([0.30, 0.25, 0.20, 0.10, 0.10, 0.05])
_DIMS_SMALL = np.array([64, 96, 128])  # lzw_raw only (pure-python LZW speed)
_ADJ = "quiet bright rusty frozen mossy amber pale vast dusty lunar coastal arid".split()
_NOUN = "harbor mesa canyon delta glacier steppe atoll ridge basin dune fjord plateau".split()

# three hot regions (~20% of 4326 images) -> deliberate cell skew (T2)
_HOT = [(-120.0, 45.0), (10.0, 50.0), (-129.0, 48.0)]


def _rng_for(tag: str) -> np.random.Generator:
    digest = hashlib.sha256(tag.encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "big"))


def _phash(pixels: np.ndarray) -> int:
    digest = hashlib.sha256(pixels.tobytes()).digest()
    return int(np.int64(np.uint64(int.from_bytes(digest[-8:], "big"))))


def gen_image(i: int) -> dict:
    image_id = f"img_{i:012d}"
    rng = _rng_for(f"img:{image_id}")
    fmt = _FMTS[i % 4]
    dims = _DIMS_SMALL if fmt == "lzw_raw" else _DIMS
    wts = None if fmt == "lzw_raw" else _DIM_W
    w = int(rng.choice(dims, p=wts))
    h = int(rng.choice(dims, p=wts))

    # pixels: bilinear corner-color gradient + low-amplitude seeded noise
    corners = rng.integers(0, 256, size=(2, 2, 3)).astype(np.float64)
    yy = np.linspace(0, 1, h)[:, None, None]
    xx = np.linspace(0, 1, w)[None, :, None]
    base = (
        corners[0, 0] * (1 - yy) * (1 - xx)
        + corners[0, 1] * (1 - yy) * xx
        + corners[1, 0] * yy * (1 - xx)
        + corners[1, 1] * yy * xx
    )
    noise = rng.integers(-16, 17, size=(h, w, 3))
    pixels = np.clip(base + noise, 0, 255).astype(np.uint8)

    data = encode_image(pixels, fmt)
    decoded = decode_image(data, fmt, w, h)  # lossy for jpeg
    phash = _phash(decoded)
    caption = f"synthetic scene {i} {rng.choice(_ADJ)} {rng.choice(_NOUN)}"

    # --- geo anchor (T2) ---
    if rng.random() < 0.10:
        epsg = 32609  # UTM 9N; anchor inside zone 9
        lon0 = float(rng.uniform(-131.5, -126.5))
        lat0 = float(rng.uniform(5.0, 75.0))
        s = float(np.exp(rng.uniform(np.log(0.1), np.log(10.0))))  # m/px
        e0, n0 = utm9n_forward(np.array([lon0]), np.array([lat0]))
        origin_x, origin_y = float(e0[0]), float(n0[0])
    else:
        epsg = 4326
        if rng.random() < 0.20:
            cx, cy = _HOT[int(rng.integers(0, len(_HOT)))]
            lon0 = float(cx + rng.normal(0, 0.5))
            lat0 = float(cy + rng.normal(0, 0.5))
        else:
            lon0 = float(rng.uniform(-170.0, 170.0))
            lat0 = float(rng.uniform(-80.0, 80.0))
        s = float(np.exp(rng.uniform(np.log(1e-5), np.log(1e-3))))  # deg/px
        origin_x, origin_y = lon0, lat0

    xmin, ymin, xmax, ymax = bounds_lat_lon(epsg, origin_x, origin_y, s * w, s * h)
    return dict(
        image_id=image_id,
        bytes=data,
        w=w,
        h=h,
        fmt=fmt,
        caption=caption,
        phash=phash,
        epsg=epsg,
        origin_x=origin_x,
        origin_y=origin_y,
        scale_px=s,
        xmin=xmin,
        ymin=ymin,
        xmax=xmax,
        ymax=ymax,
    )


def gen_query(j: int) -> dict:
    query_id = f"q_{j:06d}"
    rng = _rng_for(f"qry:{query_id}")
    kind = ["pip", "knn", "region", "wmts"][j % 4]
    # center: 30% hot region, else uniform band (FIXTURES.md T4)
    if rng.random() < 0.30:
        cx0, cy0 = _HOT[int(rng.integers(0, len(_HOT)))]
        cx = float(cx0 + rng.normal(0, 1.0))
        cy = float(cy0 + rng.normal(0, 1.0))
    else:
        cx = float(rng.uniform(-170.0, 170.0))
        cy = float(rng.uniform(-80.0, 80.0))

    row: dict = dict(
        query_id=query_id,
        kind=kind,
        poly_x=None,
        poly_y=None,
        px=None,
        py=None,
        k=None,
        rxmin=None,
        rymin=None,
        rxmax=None,
        rymax=None,
        mp_limit=None,
        qz=None,
        qx=None,
        qy=None,
    )
    if kind == "pip":
        nv = int(rng.integers(5, 13))
        rad = float(np.exp(rng.uniform(np.log(0.2), np.log(5.0))))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rr = rad * (0.4 + 0.6 * rng.uniform(0, 1, nv))
        row["poly_x"] = (cx + rr * np.cos(ang)).tolist()
        row["poly_y"] = (cy + rr * np.sin(ang) * 0.5).tolist()
    elif kind == "knn":
        row["px"], row["py"] = cx, cy
        row["k"] = int(rng.choice([1, 5, 10]))
    elif kind == "region":
        rw = float(np.exp(rng.uniform(np.log(0.1), np.log(3.0))))
        rh = float(np.exp(rng.uniform(np.log(0.1), np.log(3.0))))
        row["rxmin"], row["rxmax"] = cx - rw / 2, cx + rw / 2
        row["rymin"], row["rymax"] = cy - rh / 2, cy + rh / 2
        row["mp_limit"] = float(rng.choice([0.25, 1.0]))
    else:  # wmts
        z = int(rng.integers(4, 9))
        n = 1 << z
        # slippy-map (web-mercator) tile containing the anchor point
        lat_r = np.radians(max(-85.05112878, min(85.05112878, cy)))
        row["qz"] = z
        row["qx"] = int(min(n - 1, max(0, np.floor((cx + 180.0) / 360.0 * n))))
        row["qy"] = int(
            min(n - 1, max(0, np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n)))
        )
    return row


_IMG_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)

_META_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("epsg", pa.int32()),
        ("origin_x", pa.float64()),
        ("origin_y", pa.float64()),
        ("scale_px", pa.float64()),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
        ("tile_w", pa.int32()),
        ("tile_h", pa.int32()),
    ]
)

_QRY_SCHEMA = pa.schema(
    [
        ("query_id", pa.string()),
        ("kind", pa.string()),
        ("poly_x", pa.list_(pa.float64())),
        ("poly_y", pa.list_(pa.float64())),
        ("px", pa.float64()),
        ("py", pa.float64()),
        ("k", pa.int32()),
        ("rxmin", pa.float64()),
        ("rymin", pa.float64()),
        ("rxmax", pa.float64()),
        ("rymax", pa.float64()),
        ("mp_limit", pa.float64()),
        ("qz", pa.int32()),
        ("qx", pa.int32()),
        ("qy", pa.int32()),
    ]
)


def _gen_image_chunk(idx: list[int]) -> list[dict]:
    return [gen_image(i) for i in idx]


def generate(sf_name: str, out_dir: str | None = None, workers: int | None = None) -> str:
    n_img, n_qry = SF_SPECS[sf_name]
    out_dir = out_dir or os.path.join(FIXTURE_ROOT, sf_name)
    os.makedirs(out_dir, exist_ok=True)

    workers = workers or min(16, os.cpu_count() or 4)
    chunks = [list(range(i, n_img, workers)) for i in range(workers)]
    if n_img <= 200:
        rows = [gen_image(i) for i in range(n_img)]
    else:
        with ProcessPoolExecutor(workers) as ex:
            rows = [r for part in ex.map(_gen_image_chunk, chunks) for r in part]
        rows.sort(key=lambda r: r["image_id"])

    img_tbl = pa.Table.from_pylist(
        [{k: r[k] for k in _IMG_SCHEMA.names} for r in rows], schema=_IMG_SCHEMA
    )
    meta_rows = []
    for r in rows:
        m = {k: r[k] for k in _META_SCHEMA.names if k in r}
        m["tile_w"] = TILE
        m["tile_h"] = TILE
        meta_rows.append(m)
    meta_tbl = pa.Table.from_pylist(meta_rows, schema=_META_SCHEMA)
    qry_tbl = pa.Table.from_pylist([gen_query(j) for j in range(n_qry)], schema=_QRY_SCHEMA)

    # tmp-write + atomic rename: concurrent generators (e.g. parallel driver
    # processes) converge on identical deterministic bytes without ever
    # exposing a half-written file
    pid = os.getpid()
    for name, tbl in [("images", img_tbl), ("images_meta", meta_tbl), ("queries", qry_tbl)]:
        tmp = os.path.join(out_dir, f".{name}.{pid}.tmp")
        pq.write_table(tbl, tmp, compression="zstd")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    tmp = os.path.join(out_dir, f"._COMPLETE.{pid}.tmp")
    with open(tmp, "w") as f:
        f.write(f"v{FIXTURE_VERSION} {sf_name} images={n_img} queries={n_qry}\n")
    os.replace(tmp, os.path.join(out_dir, "_COMPLETE"))
    return out_dir


def _write_cog_chunk(args: tuple[str, list[int]]) -> int:
    """Encode one chunk of fixture images as .tif files (worker process)."""
    cog_dir, idx = args
    from .tiff import COMPRESSION_DEFLATE, COMPRESSION_LZW, encode_cog

    n = 0
    for i in idx:
        r = gen_image(i)
        if not r["image_id"].endswith("0"):
            continue
        arr = decode_image(r["bytes"], r["fmt"], r["w"], r["h"])
        comp = COMPRESSION_LZW if r["fmt"] == "lzw_raw" else COMPRESSION_DEFLATE
        cog = encode_cog(
            arr, r["epsg"], r["origin_x"], r["origin_y"], r["scale_px"], compression=comp
        )
        tmp = os.path.join(cog_dir, f".{r['image_id']}.{os.getpid()}.tmp")
        with open(tmp, "wb") as f:
            f.write(cog)
        os.replace(tmp, os.path.join(cog_dir, f"{r['image_id']}.tif"))
        n += 1
    return n


def ensure_cog_dir(sf_name: str) -> str:
    """Materialize the 10% image subset (image_id LIKE '%0', the same subset
    every pixel-heavy query uses) as REAL .tif files under
    <fixture>/cogs/ — the external-COG ingestion surface for the ranged
    header-only analyze (sources.analyze_cog_headers). Deterministic, cached
    by marker file."""
    out_dir = ensure_fixtures(sf_name)
    cog_dir = os.path.join(out_dir, "cogs")
    marker = os.path.join(cog_dir, "_COMPLETE")
    if os.path.exists(marker):
        return cog_dir
    os.makedirs(cog_dir, exist_ok=True)
    n_img, _ = SF_SPECS[sf_name]
    workers = min(16, os.cpu_count() or 4)
    chunks = [(cog_dir, list(range(i, n_img, workers))) for i in range(workers)]
    if n_img <= 200:
        total = sum(_write_cog_chunk(c) for c in chunks)
    else:
        with ProcessPoolExecutor(workers) as ex:
            total = sum(ex.map(_write_cog_chunk, chunks))
    tmp = marker + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(f"{sf_name} cogs={total}\n")
    os.replace(tmp, marker)
    return cog_dir


#: multiband container-parity fixture: (suffix, kind) x deterministic dims —
#: a FIXED small set (container parity is scale-independent)
_MB_KINDS = ["gray8", "gray16", "rgb8", "rgba8", "pal8", "grayf32"]
_MB_COUNT = 18


def ensure_multiband_dir(sf_name: str = "sf0.01") -> str:
    """Materialize deterministic multi-pixel-format COGs (gray8 / gray16 /
    RGB8 / RGBA8 / palette, deflate+lzw mix) under <fixture>/cogs_mb/, plus
    spec.parquet holding ONLY the generation spec (dims, format, tile size,
    photometric) — the oracle derives the expected pyramid from the spec in
    SQL, the engine parses it from the bytes."""
    from .tiff import COMPRESSION_DEFLATE, COMPRESSION_LZW, encode_cog

    out_dir = ensure_fixtures(sf_name)
    mb_dir = os.path.join(out_dir, "cogs_mb")
    marker = os.path.join(mb_dir, "_COMPLETE")
    want = f"cogs_mb={_MB_COUNT} v2\n"  # v2: + expected_mb_stats.parquet
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return mb_dir
        import shutil

        shutil.rmtree(mb_dir, ignore_errors=True)  # family changed: regen
    os.makedirs(mb_dir, exist_ok=True)
    from .oracle_expected import xxh64

    spec_rows = []
    stat_rows = []
    for i in range(_MB_COUNT):
        image_id = f"mb_{i:03d}"
        kind = _MB_KINDS[i % len(_MB_KINDS)]
        w, h = 150 + 37 * i, 100 + 29 * i
        comp = COMPRESSION_LZW if i % 2 else COMPRESSION_DEFLATE
        rng = _rng_for(f"mb:{image_id}")
        palette = None
        if kind == "gray8":
            arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
        elif kind == "gray16":
            arr = rng.integers(0, 1 << 16, (h, w), dtype=np.uint16)
        elif kind == "rgb8":
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif kind == "pal8":
            palette = rng.integers(0, 256, (256, 3), dtype=np.uint8)
            arr = rng.integers(0, 256, (h, w), dtype=np.uint8)  # indices
        elif kind == "grayf32":
            # SampleFormat=3 normalized-float raster (elevation/NDVI shape)
            arr = rng.random((h, w), dtype=np.float32)
            v64 = arr.astype(np.float64)
            stat_rows.append(
                {
                    "image_id": image_id,
                    "w": w,
                    "h": h,
                    "vmin_micro": int(np.floor(v64.min() * 1e6 + 0.5)),
                    "vmax_micro": int(np.floor(v64.max() * 1e6 + 0.5)),
                    "raster_hash": np.int64(
                        np.uint64(xxh64(arr.astype("<f4").tobytes()))
                    ).item(),
                }
            )
        else:
            arr = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        cog = encode_cog(arr, 4326, -120.0 + i, 45.0, 1e-4, compression=comp, palette=palette)
        tmp = os.path.join(mb_dir, f".{image_id}.{os.getpid()}.tmp")
        with open(tmp, "wb") as f:
            f.write(cog)
        os.replace(tmp, os.path.join(mb_dir, f"{image_id}.tif"))
        spec_rows.append(
            {
                "image_id": image_id,
                "w": w,
                "h": h,
                "tile_w": TILE,
                "tile_h": TILE,
                "compression": "lzw" if i % 2 else "deflate",
                "spp": {
                    "gray8": 1, "gray16": 1, "rgb8": 3, "rgba8": 4, "pal8": 1, "grayf32": 1,
                }[kind],
                "bits": {"gray16": 16, "grayf32": 32}.get(kind, 8),
                "photometric": {
                    "gray8": 1, "gray16": 1, "rgb8": 2, "rgba8": 2, "pal8": 3, "grayf32": 1,
                }[kind],
                "sample_format": 3 if kind == "grayf32" else 1,
            }
        )
    spec = pa.Table.from_pylist(spec_rows)
    tmp = os.path.join(mb_dir, f".spec.{os.getpid()}.tmp")
    pq.write_table(spec, tmp)
    os.replace(tmp, os.path.join(mb_dir, "spec.parquet"))
    # expected float-raster stats, computed from the SOURCE arrays (never
    # the container): equality with the engine's decode proves the whole
    # f32 chain (SampleFormat=3 parse -> tile decode -> valid-region
    # assemble) is lossless. raster_hash uses the from-spec xxh64 that
    # pins Spark's xxhash64-on-binary (oracle_expected.xxh64).
    if stat_rows:
        stats = pa.Table.from_pylist(stat_rows)
        tmp = os.path.join(mb_dir, f".stats.{os.getpid()}.tmp")
        pq.write_table(stats, tmp)
        os.replace(tmp, os.path.join(mb_dir, "expected_mb_stats.parquet"))
    tmpm = marker + f".{os.getpid()}.tmp"
    with open(tmpm, "w") as f:
        f.write(want)
    os.replace(tmpm, marker)
    return mb_dir


def _marker_current(marker: str) -> bool:
    try:
        with open(marker) as f:
            return f.read().startswith(f"v{FIXTURE_VERSION} ")
    except OSError:
        return False


#: media fixture (audio+video payloads for the multimodal operators):
#: codecs are the two REAL raw formats (pcm16 mono, rawvideo rgb24) the
#: engine decodes with pure numpy, plus a compressed codec marker that the
#: operators must route to the typed stub path
_MEDIA_COUNT = 60


def ensure_media_dir(sf_name: str = "sf0.01") -> str:
    """Materialize <fixture>/media.parquet: deterministic audio/video rows
    (media_id, kind, codec, bytes, sr, n_samples, n_frames, h, w).
    pcm16/rawvideo payloads are fully decodable raw bytes; every 5th row is
    an 'opus'/'h264' marker with payload bytes that the decode operators
    must quarantine through the typed-unsupported path (no codec lib exists
    in-container — the STUB contract of the task brief)."""
    if sf_name not in SF_SPECS:
        # same unknown-scale fallback as fixture_dir_for: a driver-generated
        # scale dir (e.g. sf1.0) must not KeyError generate() — the r6
        # driver bench recorded audio_features/video_frames as failed (-1.0)
        # at sf1.0 for exactly this reason
        sf_name = "sf0.01"
    out_dir = ensure_fixtures(sf_name)
    path = os.path.join(out_dir, "media.parquet")
    if os.path.exists(path):
        return out_dir
    rows = []
    for i in range(_MEDIA_COUNT):
        media_id = f"med_{i:05d}"
        rng = _rng_for(f"media:{media_id}")
        if i % 2 == 0:  # audio
            sr = int(rng.choice([8000, 16000, 22050]))
            n = int(rng.integers(sr // 4, sr))  # 0.25-1.0 s
            # tone + noise, int16 PCM little-endian
            t = np.arange(n) / sr
            f0 = float(rng.uniform(100, 2000))
            amp = float(rng.uniform(0.1, 0.9))
            x = amp * np.sin(2 * np.pi * f0 * t) + rng.normal(0, 0.02, n)
            pcm = np.clip(x * 32767, -32768, 32767).astype("<i2")
            codec = "pcm16" if i % 10 != 4 else "opus"
            rows.append(
                {
                    "media_id": media_id,
                    "kind": "audio",
                    "codec": codec,
                    "bytes": pcm.tobytes(),
                    "sr": sr,
                    "n_samples": n,
                    "n_frames": 0,
                    "h": 0,
                    "w": 0,
                }
            )
        else:  # video
            nf = int(rng.integers(4, 17))
            h, w = int(rng.choice([24, 32, 48])), int(rng.choice([32, 48, 64]))
            frames = rng.integers(0, 256, (nf, h, w, 3), dtype=np.uint8)
            codec = "rawvideo" if i % 10 != 9 else "h264"
            rows.append(
                {
                    "media_id": media_id,
                    "kind": "video",
                    "codec": codec,
                    "bytes": frames.tobytes(),
                    "sr": 0,
                    "n_samples": 0,
                    "n_frames": nf,
                    "h": h,
                    "w": w,
                }
            )
    tbl = pa.Table.from_pylist(rows)
    tmp = os.path.join(out_dir, f".media.{os.getpid()}.tmp")
    pq.write_table(tbl, tmp, compression="zstd")
    os.replace(tmp, path)
    return out_dir


def ensure_fixtures(sf_name: str) -> str:
    """Generate-if-missing; returns the fixture directory for a scale.
    A version-stamped _COMPLETE marker invalidates the whole cached dir
    (parquets, cogs/, cogs_mb/, expected_*.parquet) when FIXTURE_VERSION
    moves, so every derived artifact regenerates consistently."""
    out_dir = os.path.join(FIXTURE_ROOT, sf_name)
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        if _marker_current(marker):
            return out_dir
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    return generate(sf_name, out_dir)


def fixture_dir_for(sf_dir: str) -> str:
    """Map a driver testdata dir (/root/testdata/sf0.01) to our fixture dir."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    if sf_name not in SF_SPECS:
        sf_name = "sf0.01"
    return ensure_fixtures(sf_name)


if __name__ == "__main__":
    import sys

    for sf in sys.argv[1:] or ["sf0.001", "sf0.01"]:
        print(generate(sf))


#: progressive-JPEG correctness family: deterministic images encoded with
#: the §G scan script; expected table = decode of the BASELINE encoding of
#: the same pixels (same quantized coefficients -> byte-identical decode)
_PROG_COUNT = 12


def ensure_progressive_dir(sf_name: str = "sf0.01") -> str:
    """Materialize <fixture>/prog/: payloads.parquet (image_id, bytes
    [SOF2 progressive JFIF], w, h) + expected_prog.parquet (image_id,
    w, h, rgb_hash), where rgb_hash is the from-spec xxh64 of the pixels
    DECODED FROM THE BASELINE encoding of the identical source. A
    progressive decoder that mishandles any scan pass diverges from the
    baseline decode and misses the hash."""
    from .jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive
    from .oracle_expected import xxh64

    out_dir = ensure_fixtures(sf_name)
    prog_dir = os.path.join(out_dir, "prog")
    marker = os.path.join(prog_dir, "_COMPLETE")
    want = f"prog={_PROG_COUNT} v1\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return prog_dir
        import shutil

        shutil.rmtree(prog_dir, ignore_errors=True)
    os.makedirs(prog_dir, exist_ok=True)
    pay_rows, exp_rows = [], []
    for i in range(_PROG_COUNT):
        image_id = f"prog_{i:03d}"
        rng = _rng_for(f"prog:{image_id}")
        w, h = 48 + 19 * i, 40 + 13 * i
        quality = [95, 90, 75, 50][i % 4]
        if i % 3 == 2:  # gray rows exercise the 1-component scan script
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        else:
            base = rng.integers(0, 256, (h // 8 + 1, w // 8 + 1, 3)).astype(np.float64)
            img = np.clip(np.kron(base, np.ones((8, 8, 1)))[:h, :w], 0, 255).astype(
                np.uint8
            )
            if i % 4 == 3:  # plus pure-noise rows (dense AC, refinements)
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        pay_rows.append(
            {
                "image_id": image_id,
                "bytes": encode_jpeg_progressive(img, quality),
                "w": w,
                "h": h,
            }
        )
        rgb = decode_jpeg(encode_jpeg(img, quality))  # BASELINE decode
        exp_rows.append(
            {
                "image_id": image_id,
                "w": w,
                "h": h,
                "rgb_hash": np.int64(np.uint64(xxh64(rgb.tobytes()))).item(),
            }
        )
    for name, rows in (("payloads.parquet", pay_rows), ("expected_prog.parquet", exp_rows)):
        tbl = pa.Table.from_pylist(rows)
        tmp = os.path.join(prog_dir, f".{name}.{os.getpid()}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(prog_dir, name))
    tmpm = marker + f".{os.getpid()}.tmp"
    with open(tmpm, "w") as f:
        f.write(want)
    os.replace(tmpm, marker)
    return prog_dir


#: JPEG-in-TIFF correctness family (TechNote 2, compression 7): expected
#: hashes come from the CODEC-ONLY path (encode_jpeg/decode_jpeg of an
#: independently rebuilt pyramid tile) — the container layer (tag 347
#: split/merge, offsets, abbreviated streams) is what the graded query
#: adds on top, so any container bug diverges from the expected hash.
_JPEGCOG_COUNT = 14


def _jpeg_pyramid_tiles(img: np.ndarray, tile: int, resampler=None):
    """Yield (level, tile_idx, padded_tile) for the writer's pyramid plan
    (level i resampled from level i-1 — nearest by default, or the given
    filter — zero-padded edge tiles): the same deterministic plan
    encode_cog executes, rebuilt here without the container so the
    fixture's expected side stays codec-only."""
    from .grid import grid_shape, level_dims, num_levels
    from .operators.tiling import resample_nearest

    if resampler is None:
        resampler = resample_nearest
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    cur = img
    for lv in range(num_levels(w, h, tile, tile)):
        if lv > 0:
            lw, lh = level_dims(w, h, lv)
            cur = resampler(cur, lw, lh)
        cols, rows = grid_shape(cur.shape[1], cur.shape[0], tile, tile)
        for r in range(rows):
            for cc in range(cols):
                t = np.zeros((tile, tile, c), dtype=img.dtype)
                src = cur[r * tile : (r + 1) * tile, cc * tile : (cc + 1) * tile]
                t[: src.shape[0], : src.shape[1]] = src
                yield lv, r * cols + cc, t


def ensure_jpeg_cog_dir(sf_name: str = "sf0.01") -> str:
    """Materialize <fixture>/cogs_jpeg/: cogs.parquet (image_id, cog,
    layout) + expected_jpeg.parquet (image_id, level, tile_idx, pix_hash).

    Two container layouts, both spec-legal (TIFF TechNote 2):
    - 'shared': encode_cog output — abbreviated tile streams + one
      JPEGTables tag 347 per IFD (the GDAL-style COG layout);
    - 'standalone': self-contained interchange streams per tile, NO tag
      347 (foreign writers) — container built from container_prefix + the
      codec payloads directly.
    pix_hash is the xxh64 of decode_jpeg(encode_jpeg(tile)) bytes (gray
    reduced to 1 sample, matching decode_tile's output)."""
    from . import TILE
    from .jpeg import decode_jpeg, encode_jpeg
    from .oracle_expected import xxh64
    from .tiff import COMPRESSION_JPEG, container_prefix, encode_cog, plan_levels

    out_dir = ensure_fixtures(sf_name)
    jdir = os.path.join(out_dir, "cogs_jpeg")
    marker = os.path.join(jdir, "_COMPLETE")
    want = f"jpegcog={_JPEGCOG_COUNT} v2\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return jdir
        import shutil

        shutil.rmtree(jdir, ignore_errors=True)
    os.makedirs(jdir, exist_ok=True)
    cog_rows, exp_rows = [], []
    for i in range(_JPEGCOG_COUNT):
        image_id = f"jpegcog_{i:03d}"
        rng = _rng_for(f"jpegcog:{image_id}")
        w, h = 70 + 41 * i, 60 + 37 * i
        quality = [95, 90, 75, 50][i % 4]
        gray = i % 3 == 2
        shape = (h // 8 + 1, w // 8 + 1) + (() if gray else (3,))
        base = rng.integers(0, 256, shape).astype(np.float64)
        ones = np.ones((8, 8) + (() if gray else (1,)))
        img = np.clip(np.kron(base, ones)[:h, :w], 0, 255).astype(np.uint8)
        # i % 5 in (2, 4) intersects the gray rule (i % 3 == 2) at i=2 —
        # the gray+standalone combination must be graded too (review
        # finding r6: the two moduli were disjoint, leaving the
        # photometric-1 no-tag-347 path ungraded)
        layout = "standalone" if i % 5 in (2, 4) else "shared"
        payloads: dict[int, list[bytes]] = {}
        for lv, ti, t in _jpeg_pyramid_tiles(img, TILE):
            full = encode_jpeg(t if t.shape[2] == 3 else t[:, :, 0], quality)
            payloads.setdefault(lv, []).append(full)
            px = decode_jpeg(full)
            if t.shape[2] == 1:
                px = px[:, :, :1]
            exp_rows.append(
                {
                    "image_id": image_id,
                    "level": lv,
                    "tile_idx": ti,
                    "pix_hash": np.int64(np.uint64(xxh64(px.tobytes()))).item(),
                }
            )
        if layout == "shared":
            cog = encode_cog(
                img, 4326, 0.0, 50.0, 1e-4,
                compression=COMPRESSION_JPEG, quality=quality,
            )
        else:
            levels = plan_levels(w, h, TILE, COMPRESSION_JPEG)
            counts = [[len(p) for p in payloads[lv]] for lv in range(len(levels))]
            prefix = container_prefix(
                levels, counts, 1 if gray else 3, 8, 1, 1 if gray else 6,
                4326, 0.0, 50.0, 1e-4,
            )
            cog = prefix + b"".join(
                p for lv in range(len(levels)) for p in payloads[lv]
            )
        cog_rows.append({"image_id": image_id, "cog": cog, "layout": layout})
    for name, rows in (
        ("cogs.parquet", cog_rows),
        ("expected_jpeg.parquet", exp_rows),
    ):
        tbl = pa.Table.from_pylist(rows)
        tmp = os.path.join(jdir, f".{name}.{os.getpid()}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(jdir, name))
    tmpm = marker + f".{os.getpid()}.tmp"
    with open(tmpm, "w") as f:
        f.write(want)
    os.replace(tmpm, marker)
    return jdir


#: stripped-GeoTIFF ingest family: N classic strip-organized files across
#: {uncompressed, deflate, packbits} x {predictor 1, 2} x {gray, RGB} x
#: varied RowsPerStrip (incl. whole-image default and an omitted
#: Compression tag). The expected side hashes ZERO-PADDED strip slices of
#: the ORIGINAL pixel array — computed without the reader — so any
#: admission/decode/pad bug in the strip path diverges.
_STRIPTIFF_COUNT = 12


def _packbits_encode(data: bytes) -> bytes:
    """PackBits-encode ONE buffer (one scanline — TIFF 6 §9 packs each
    row separately; callers split rows before calling). FIXTURE/TEST
    tooling only: the engine's COG writer deliberately never emits
    PackBits (it is a read-side compat code, tiff.py); this exists to
    synthesize wild-style legacy files. Replicate runs for >=3 equal
    bytes, literals otherwise."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            if lit_start < i:
                out += bytes([i - lit_start - 1]) + data[lit_start:i]
            out += bytes([(1 - run) & 0xFF, data[i]])
            i += run
            lit_start = i
        else:
            i += 1
            if i - lit_start == 128:
                out += bytes([127]) + data[lit_start:i]
                lit_start = i
    if lit_start < n:
        out += bytes([n - lit_start - 1]) + data[lit_start:n]
    return bytes(out)


def write_stripped_tiff(
    img: np.ndarray,
    rows_per_strip: int | None,
    compression: int = 1,
    predictor: int = 1,
    epsg: int = 4326,
    subfiletype: int | None = None,
    planar: bool = False,
    omit_compression: bool = False,
) -> bytes:
    """Minimal classic-LE STRIP-organized GeoTIFF writer — FIXTURE/TEST
    tooling only (the engine writes tiled COGs exclusively; strip files
    exist in the wild, so the READER ingests them — tiff.py cog_info
    strip branch). rows_per_strip=None omits tag 278 (TIFF 6 default =
    whole image); omit_compression drops tag 259 (defaulted to 1);
    subfiletype/planar exist for reader reject/skip tests."""
    import struct
    import zlib

    from .codecs import predictor2_encode
    from .tiff import (
        COMPRESSION_DEFLATE,
        COMPRESSION_PACKBITS,
        _geokey_directory,
    )

    h, w, c = img.shape
    rps = h if rows_per_strip is None else rows_per_strip

    def _pack(part: np.ndarray) -> bytes:
        if predictor == 2:
            part = predictor2_encode(part)
        raw = part.tobytes()
        if compression == COMPRESSION_DEFLATE:
            return zlib.compress(raw, 6)
        if compression == COMPRESSION_PACKBITS:
            # TIFF 6 §9: pack each scanline separately (runs/literals
            # must not cross row boundaries)
            rb = part.shape[1] * part.shape[2] * part.itemsize
            return b"".join(
                _packbits_encode(raw[i : i + rb]) for i in range(0, len(raw), rb)
            )
        if compression == 1:
            return raw
        raise ValueError(compression)

    strips = []
    if planar:  # TIFF 6 planar strips: all plane-0 strips, then plane 1, ...
        for p in range(c):
            for y0 in range(0, h, rps):
                strips.append(_pack(img[y0 : y0 + rps, :, p : p + 1]))
    else:
        for y0 in range(0, h, rps):
            strips.append(_pack(img[y0 : y0 + rps]))

    SHORT, LONG, DOUBLE = 3, 4, 12
    tags: list[tuple[int, int, list]] = [
        (256, LONG, [w]),
        (257, LONG, [h]),
        (258, SHORT, [8] * c),
        (259, SHORT, [compression]),
        (262, SHORT, [2 if c == 3 else 1]),
        (273, LONG, [0] * len(strips)),  # patched below
        (277, SHORT, [c]),
        (279, LONG, [len(s) for s in strips]),
        (33550, DOUBLE, [1e-4, 1e-4, 0.0]),
        (33922, DOUBLE, [0.0, 0.0, 0.0, 10.0, 50.0, 0.0]),
        (34735, SHORT, _geokey_directory(epsg)),
    ]
    if rows_per_strip is not None:
        tags.append((278, LONG, [rps]))
    if predictor != 1:
        tags.append((317, SHORT, [predictor]))
    if subfiletype is not None:
        tags.append((254, LONG, [subfiletype]))
    if planar:
        tags.append((284, SHORT, [2]))
    if omit_compression:
        assert compression == 1
        tags = [t for t in tags if t[0] != 259]
    tags.sort(key=lambda t: t[0])

    sizes = {3: 2, 4: 4, 12: 8}
    pos = 8 + 2 + 12 * len(tags) + 4  # header + count + entries + next ptr
    ext: dict[int, int] = {}
    for code, dt, vals in tags:
        size = sizes[dt] * len(vals)
        if size > 4:
            ext[code] = pos
            pos += size
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    tags = [
        (273, LONG, strip_offsets) if code == 273 else (code, dt, vals)
        for code, dt, vals in tags
    ]

    fmt = {3: "<H", 4: "<I", 12: "<d"}
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(tags))
    for code, dt, vals in tags:
        payload = b"".join(struct.pack(fmt[dt], v) for v in vals)
        out += struct.pack("<HHI", code, dt, len(vals))
        if len(payload) <= 4:
            out += payload.ljust(4, b"\x00")
        else:
            out += struct.pack("<I", ext[code])
    out += struct.pack("<I", 0)  # next IFD
    for code, dt, vals in tags:
        if code in ext:
            assert len(out) == ext[code]
            out += b"".join(struct.pack(fmt[dt], v) for v in vals)
    for s in strips:
        out += s
    return bytes(out)


def ensure_strip_tiff_dir(sf_name: str = "sf0.01") -> str:
    """Materialize <fixture>/cogs_strip/: cogs.parquet (image_id, tif)
    + expected_strip.parquet (image_id, strip_idx, comp, pix_hash).
    Expected-side comp names come from a literal mapping here, independent
    of operators.cog._COMP_NAME, so the analyze naming is graded too."""
    from .oracle_expected import xxh64
    from .tiff import COMPRESSION_DEFLATE, COMPRESSION_PACKBITS

    out_dir = ensure_fixtures(sf_name)
    sdir = os.path.join(out_dir, "cogs_strip")
    marker = os.path.join(sdir, "_COMPLETE")
    want = f"striptiff={_STRIPTIFF_COUNT} v2\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return sdir
        import shutil

        shutil.rmtree(sdir, ignore_errors=True)
    os.makedirs(sdir, exist_ok=True)
    comp_name = {1: "none", COMPRESSION_DEFLATE: "deflate", COMPRESSION_PACKBITS: "packbits"}
    cog_rows, exp_rows = [], []
    for i in range(_STRIPTIFF_COUNT):
        image_id = f"strip_{i:03d}"
        rng = _rng_for(f"striptiff:{image_id}")
        w, h = 30 + 23 * i, 25 + 31 * i
        gray = i % 4 == 1
        comp = (1, COMPRESSION_DEFLATE, COMPRESSION_PACKBITS)[i % 3]
        predictor = 2 if (comp != 1 and i % 5 in (1, 3)) else 1
        rps = (None, 7, 16, 33)[i % 4]
        omit = comp == 1 and i == 6  # tag-259-omitted (defaulted) exemplar
        c = 1 if gray else 3
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        img[::5] = img[::5, :1, :]  # constant rows: packbits replicate runs
        blob = write_stripped_tiff(
            img, rps, comp, predictor, omit_compression=omit
        )
        rps_eff = h if rps is None else rps
        n = (h + rps_eff - 1) // rps_eff
        for s in range(n):
            padded = np.zeros((rps_eff, w, c), dtype=np.uint8)
            part = img[s * rps_eff : (s + 1) * rps_eff]
            padded[: part.shape[0]] = part
            exp_rows.append(
                {
                    "image_id": image_id,
                    "strip_idx": s,
                    "comp": comp_name[comp],
                    "pix_hash": np.int64(np.uint64(xxh64(padded.tobytes()))).item(),
                }
            )
        cog_rows.append({"image_id": image_id, "tif": blob})
    for name, rows in (
        ("cogs.parquet", cog_rows),
        ("expected_strip.parquet", exp_rows),
    ):
        tbl = pa.Table.from_pylist(rows)
        tmp = os.path.join(sdir, f".{name}.{os.getpid()}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(sdir, name))
    tmpm = marker + f".{os.getpid()}.tmp"
    with open(tmpm, "w") as f:
        f.write(want)
    os.replace(tmpm, marker)
    return sdir


#: sparse-COG ingest family: mostly-fill rasters written with
#: encode_cog(sparse=True) across {RGB u8 deflate, gray u8 LZW+pred2,
#: gray u16 deflate+pred2, gray f32 deflate+pred3}, plus two
#: GDAL_NODATA images (u8 nodata=200, f32 nodata=-9999) whose holes
#: must read back as nodata. The expected side rebuilds every pyramid
#: tile from the ORIGINAL array (the writer's own deterministic plan,
#: no container involved) and marks uniformly-fill tiles — grading BOTH
#: that holes were really written (is_hole) and that hole + stored
#: tiles decode bit-exact (pix_hash).
_SPARSECOG_COUNT = 12


def ensure_sparse_cog_dir(sf_name: str = "sf0.01") -> str:
    """Materialize <fixture>/cogs_sparse/: cogs.parquet (image_id, cog) +
    expected_sparse.parquet (image_id, level, tile_idx, is_hole,
    pix_hash). is_hole is computed from the ARRAY (tile content all
    zero), not from the container, so a writer that silently stores
    dense tiles diverges on the is_hole column."""
    from . import TILE
    from .oracle_expected import xxh64
    from .tiff import COMPRESSION_DEFLATE, COMPRESSION_LZW, encode_cog

    out_dir = ensure_fixtures(sf_name)
    sdir = os.path.join(out_dir, "cogs_sparse")
    marker = os.path.join(sdir, "_COMPLETE")
    want = f"sparsecog={_SPARSECOG_COUNT} v4\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return sdir
        import shutil

        shutil.rmtree(sdir, ignore_errors=True)
    os.makedirs(sdir, exist_ok=True)
    cog_rows, exp_rows, mask_rows = [], [], []
    for i in range(_SPARSECOG_COUNT):
        image_id = f"sparse_{i:03d}"
        rng = _rng_for(f"sparsecog:{image_id}")
        w, h = 150 + 61 * i, 140 + 47 * i
        kind = i % 4
        nd = None
        if i == 10:  # GDAL_NODATA exemplars: holes read back as nodata
            c, dt, comp, pred, nd = 1, np.uint8, COMPRESSION_DEFLATE, 1, 200
        elif i == 11:
            c, dt, comp, pred, nd = 1, np.float32, COMPRESSION_DEFLATE, 3, -9999.0
        elif kind == 0:
            c, dt, comp, pred = 3, np.uint8, COMPRESSION_DEFLATE, 1
        elif kind == 1:
            c, dt, comp, pred = 1, np.uint8, COMPRESSION_LZW, 2
        elif kind == 2:
            c, dt, comp, pred = 1, np.uint16, COMPRESSION_DEFLATE, 2
        else:
            c, dt, comp, pred = 1, np.float32, COMPRESSION_DEFLATE, 3
        fill = dt(0) if nd is None else dt(nd)
        img = np.full((h, w, c), fill, dtype=dt)
        for _ in range(2 + i % 3):  # a few nonzero patches, rest holes
            ph, pw = int(rng.integers(16, 60)), int(rng.integers(16, 60))
            y0 = int(rng.integers(0, h - ph))
            x0 = int(rng.integers(0, w - pw))
            if dt == np.float32:
                patch = rng.normal(100.0, 25.0, (ph, pw, c)).astype(dt)
            else:
                patch = rng.integers(
                    1, np.iinfo(dt).max, (ph, pw, c)
                ).astype(dt)
            img[y0 : y0 + ph, x0 : x0 + pw] = patch
        # i=8/9 write their overview pyramids with the GDAL-default
        # 'average' filter so its pixel content is graded on the driver
        # surface too (the expected side rebuilds with the same filter)
        res = "average" if i in (8, 9) else "nearest"
        # i=0/5 carry a GDAL-style internal transparency mask (valid where
        # not fill) — grades the 1-bit mask write+read path end to end
        msk = (
            ~np.all(img == fill, axis=2) if i in (0, 5) else None
        )
        blob = encode_cog(
            img if c > 1 else img[:, :, 0],
            4326, 0.0, 50.0, 1e-4,
            compression=comp, predictor=pred, sparse=True, nodata=nd,
            resample=res, mask=msk,
        )
        from .operators.tiling import resample_average

        rs = resample_average if res == "average" else None
        for lv, ti, t in _jpeg_pyramid_tiles(img, TILE, resampler=rs):
            exp_rows.append(
                {
                    "image_id": image_id,
                    "level": lv,
                    "tile_idx": ti,
                    # hole iff uniformly the fill value (nodata or 0) —
                    # note edge tiles zero-pad, so nodata edge tiles are
                    # stored, exactly like the writer's rule
                    "is_hole": bool((t == fill).all()),
                    "pix_hash": np.int64(np.uint64(xxh64(t.tobytes()))).item(),
                }
            )
        if msk is not None:
            # expected mask tiles: nearest-resampled 0/255 pyramid,
            # zero-padded, computed WITHOUT the reader; all-invalid
            # tiles are holes (sparse=True)
            m8 = (msk.astype(np.uint8) * 255)[:, :, None]
            for lv, ti, t in _jpeg_pyramid_tiles(m8, TILE):
                mask_rows.append(
                    {
                        "image_id": image_id,
                        "mask_idx": lv,
                        "tile_idx": ti,
                        "is_hole": not t.any(),
                        "pix_hash": np.int64(
                            np.uint64(xxh64(t.tobytes()))
                        ).item(),
                    }
                )
        cog_rows.append({"image_id": image_id, "cog": blob})
    for name, rows in (
        ("cogs.parquet", cog_rows),
        ("expected_sparse.parquet", exp_rows),
        ("expected_mask.parquet", mask_rows),
    ):
        tbl = pa.Table.from_pylist(rows)
        tmp = os.path.join(sdir, f".{name}.{os.getpid()}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(sdir, name))
    tmpm = marker + f".{os.getpid()}.tmp"
    with open(tmpm, "w") as f:
        f.write(want)
    os.replace(tmpm, marker)
    return sdir
