"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``: the same seed gives
byte-identical tables, another seed gives different values at the same
sizes. The distributions follow the repository's fixture rules (FIXTURES.md
T2/T4): 10 % of images are UTM-9N anchored, 20 % of the rest sit in three
hot regions, 30 % of queries aim at a hot region. Counts and parameters that
drive the cost of a pass (formats, image sizes, hot shares, query sizes) are
allocated as exact multisets rather than drawn, so two seeds differ in
values and geometry, not in how much work they make.

Tables are written as parquet under ``<cache>/<workload>-s<seed>-v<N>-<sizes>/``
together with ``inputs.json`` (sizes and digest). Generation is not timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cloudtiff_spark import TILE
from cloudtiff_spark.codecs import encode_image
from cloudtiff_spark.projection import transform_coords, utm9n_forward

#: bump when generated values change, so cached inputs regenerate
GEN_VERSION = 3

#: rows per table, per workload
SIZES = {
    "spatial_join": {"images": 16_000, "pip": 100, "knn": 40},
    "tile_render": {"images": 64, "region": 60, "wmts": 20},
}

FMTS = ["jpeg", "png", "deflate_raw", "lzw_raw"]
DIMS = np.array([64, 96, 128, 256, 300, 512])
DIM_W = np.array([0.30, 0.25, 0.20, 0.10, 0.10, 0.05])
DIMS_SMALL = np.array([64, 96, 128])  # lzw_raw only (pure-python LZW)
HOT = np.array([(-120.0, 45.0), (10.0, 50.0), (-129.0, 48.0)])
UTM_SHARE = 0.10
HOT_IMAGE_SHARE = 0.20
HOT_QUERY_SHARE = 0.30
#: spread (degrees) of hot-region images. Tighter than the fixture's 0.5 so
#: that the densest join cells pass hot_cells' 2 % threshold and the
#: salting path runs; at 0.5 no cell is hot.
HOT_SIGMA = 0.2
#: spread (degrees) of hot-region query centres (fixture: 1.0), tightened
#: with the images so that hot queries overlap and share tiles (fan-in > 1)
HOT_QUERY_SIGMA = 0.5
#: megapixel caps of region renders (fixture: 0.25 and 1.0), lowered so a
#: pass renders more (query, image) pairs in the same time and their count
#: averages out over a seed's geometry
REGION_MP = (0.05, 0.25)
#: jitter (degrees) of a hot region query around the hot image it aims at
ANCHOR_SIGMA = 0.05

IMG_SCHEMA = pa.schema(
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

META_SCHEMA = pa.schema(
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

QRY_SCHEMA = pa.schema(
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


def _rng(workload: str, seed: int, tag: str) -> np.random.Generator:
    key = hashlib.sha256(f"{workload}:{seed}:{tag}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "big"))


def _exact(rng: np.random.Generator, values: np.ndarray, probs: np.ndarray, n: int) -> np.ndarray:
    """n draws with EXACT per-value counts (largest remainder), shuffled."""
    raw = np.asarray(probs, np.float64) / np.sum(probs) * n
    counts = np.floor(raw).astype(np.int64)
    short = n - int(counts.sum())
    counts[np.argsort(-(raw - counts), kind="stable")[:short]] += 1
    return rng.permutation(np.repeat(np.asarray(values), counts))


def _mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(share * n) True entries."""
    return _exact(rng, np.array([True, False]), np.array([share, 1.0 - share]), n)


def _anchors(rng: np.random.Generator, fmt: np.ndarray) -> dict:
    """Dims and geo anchors for len(fmt) images (vectorized T2 rule)."""
    n = len(fmt)
    lzw = fmt == "lzw_raw"
    w = np.empty(n, np.int64)
    h = np.empty(n, np.int64)
    for sel, dims, wts in ((lzw, DIMS_SMALL, np.ones(3)), (~lzw, DIMS, DIM_W)):
        k = int(sel.sum())
        w[sel] = _exact(rng, dims, wts, k)
        h[sel] = _exact(rng, dims, wts, k)
    utm = _mask(rng, n, UTM_SHARE)
    hot = np.zeros(n, bool)
    hot[~utm] = _mask(rng, int((~utm).sum()), HOT_IMAGE_SHARE)
    region = rng.permutation(np.arange(n) % len(HOT))
    lon = rng.uniform(-170.0, 170.0, n)
    lat = rng.uniform(-80.0, 80.0, n)
    lon[hot] = HOT[region[hot], 0] + rng.normal(0, HOT_SIGMA, int(hot.sum()))
    lat[hot] = HOT[region[hot], 1] + rng.normal(0, HOT_SIGMA, int(hot.sum()))
    s = np.exp(rng.uniform(np.log(1e-5), np.log(1e-3), n))  # deg/px
    lon[utm] = rng.uniform(-131.5, -126.5, int(utm.sum()))
    lat[utm] = rng.uniform(5.0, 75.0, int(utm.sum()))
    s[utm] = np.exp(rng.uniform(np.log(0.1), np.log(10.0), int(utm.sum())))  # m/px
    ox, oy = lon.copy(), lat.copy()
    if utm.any():
        e, nn = utm9n_forward(lon[utm], lat[utm])
        ox[utm], oy[utm] = e, nn
    epsg = np.where(utm, 32609, 4326).astype(np.int32)
    sx, sy = s * w, s * h
    # 4326: the 8-point bounds estimate reduces exactly to the affine box
    xmin, xmax = ox.copy(), ox + sx
    ymin, ymax = oy - sy, oy.copy()
    if utm.any():
        # 8 boundary samples per image, projected to 4326 (projection.py P5)
        us = np.array([0.0, 0.5, 1.0, 0.0, 1.0, 0.0, 0.5, 1.0])
        vs = np.array([0.0, 0.0, 0.0, 0.5, 0.5, 1.0, 1.0, 1.0])
        x = ox[utm, None] + us[None, :] * sx[utm, None]
        y = oy[utm, None] - vs[None, :] * sy[utm, None]
        plon, plat = transform_coords(x.ravel(), y.ravel(), 32609, 4326)
        plon = plon.reshape(x.shape)
        plat = plat.reshape(y.shape)
        xmin[utm], xmax[utm] = plon.min(axis=1), plon.max(axis=1)
        ymin[utm], ymax[utm] = plat.min(axis=1), plat.max(axis=1)
    return {
        "w": w.astype(np.int32),
        "h": h.astype(np.int32),
        "epsg": epsg,
        "origin_x": ox,
        "origin_y": oy,
        "scale_px": s,
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmax,
        "ymax": ymax,
        "hot": hot,
    }


def _meta_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    fmt = np.array(FMTS)[np.arange(n) % len(FMTS)]
    a = _anchors(rng, fmt)
    adj = np.array("quiet bright rusty frozen mossy amber pale vast dusty lunar".split())
    cols = {
        "image_id": [f"img_{i:09d}" for i in range(n)],
        "w": a["w"],
        "h": a["h"],
        "fmt": fmt,
        "caption": [f"synthetic scene {i} {adj[j]}" for i, j in enumerate(rng.integers(0, len(adj), n))],
        "phash": rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, dtype=np.int64),
        "epsg": a["epsg"],
        "origin_x": a["origin_x"],
        "origin_y": a["origin_y"],
        "scale_px": a["scale_px"],
        "xmin": a["xmin"],
        "ymin": a["ymin"],
        "xmax": a["xmax"],
        "ymax": a["ymax"],
        "tile_w": np.full(n, TILE, np.int32),
        "tile_h": np.full(n, TILE, np.int32),
    }
    return pa.table(cols, schema=META_SCHEMA), a


def _pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Bilinear corner-colour gradient plus seeded noise (fixture look)."""
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
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def _images_table(rng: np.random.Generator, meta: pa.Table) -> pa.Table:
    data = [
        encode_image(_pixels(rng, int(w), int(h)), fmt)
        for w, h, fmt in zip(
            meta["w"].to_numpy(), meta["h"].to_numpy(), meta["fmt"].to_pylist()
        )
    ]
    cols = {name: meta[name] for name in IMG_SCHEMA.names if name != "bytes"}
    cols["bytes"] = pa.array(data, pa.binary())
    return pa.table({name: cols[name] for name in IMG_SCHEMA.names}, schema=IMG_SCHEMA)


def _spread(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """n log-uniform values on [lo, hi] at fixed quantiles, shuffled: the
    same multiset for every seed."""
    q = (np.arange(n) + 0.5) / n
    return rng.permutation(np.exp(np.log(lo) + q * (np.log(hi) - np.log(lo))))


def _centers(rng: np.random.Generator, n: int, anchors: np.ndarray | None = None) -> np.ndarray:
    """(n, 2) query centres: exactly 30 % aimed at a hot region. With
    ``anchors`` (hot image centres) a hot query is centred on one of them,
    so every hot query reaches at least one image."""
    hot = _mask(rng, n, HOT_QUERY_SHARE)
    k = int(hot.sum())
    c = np.column_stack([rng.uniform(-170.0, 170.0, n), rng.uniform(-80.0, 80.0, n)])
    if anchors is None:
        region = rng.permutation(np.arange(k) % len(HOT))
        c[hot] = HOT[region] + rng.normal(0, HOT_QUERY_SIGMA, (k, 2))
    else:
        pick = rng.permutation(len(anchors))[np.arange(k) % len(anchors)]
        c[hot] = anchors[pick] + rng.normal(0, ANCHOR_SIGMA, (k, 2))
    return c


def _query_rows(rng: np.random.Generator, kinds: dict[str, int], anchors: np.ndarray | None = None) -> pa.Table:
    """Query rows of each kind; the parameters that set a query's cost
    (polygon size and vertex count, k, region size and megapixel cap, wmts
    zoom) are drawn as exact multisets."""
    rows = []
    j = 0
    for kind, n in kinds.items():
        centers = _centers(rng, n, anchors if kind == "region" else None)
        if kind == "pip":
            nvs = _exact(rng, np.arange(5, 13), np.ones(8), n)
            rads = _spread(rng, 0.2, 5.0, n)
        elif kind == "knn":
            ks = _exact(rng, np.array([1, 5, 10]), np.ones(3), n)
        elif kind == "region":
            rws, rhs = _spread(rng, 0.1, 3.0, n), _spread(rng, 0.1, 3.0, n)
            mps = _exact(rng, np.array(REGION_MP), np.ones(len(REGION_MP)), n)
        else:
            zs = _exact(rng, np.arange(4, 9), np.ones(5), n)
        for i, (cx, cy) in enumerate(centers):
            row = {name: None for name in QRY_SCHEMA.names}
            row["query_id"] = f"q_{j:06d}"
            row["kind"] = kind
            j += 1
            if kind == "pip":
                nv = int(nvs[i])
                ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
                rr = rads[i] * (0.4 + 0.6 * rng.uniform(0, 1, nv))
                row["poly_x"] = (cx + rr * np.cos(ang)).tolist()
                row["poly_y"] = (cy + rr * np.sin(ang) * 0.5).tolist()
            elif kind == "knn":
                row["px"], row["py"] = float(cx), float(cy)
                row["k"] = int(ks[i])
            elif kind == "region":
                rw, rh = float(rws[i]), float(rhs[i])
                row["rxmin"], row["rxmax"] = cx - rw / 2, cx + rw / 2
                row["rymin"], row["rymax"] = cy - rh / 2, cy + rh / 2
                row["mp_limit"] = float(mps[i])
            else:  # wmts: the slippy tile holding the centre
                z = int(zs[i])
                nz = 1 << z
                lat_r = np.radians(max(-85.05112878, min(85.05112878, cy)))
                row["qz"] = z
                row["qx"] = int(min(nz - 1, max(0, np.floor((cx + 180.0) / 360.0 * nz))))
                row["qy"] = int(
                    min(nz - 1, max(0, np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * nz)))
                )
            rows.append(row)
    return pa.Table.from_pylist(rows, schema=QRY_SCHEMA)


def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC stream of each table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def generate(workload: str, seed: int) -> tuple[dict[str, pa.Table], dict]:
    """In-memory tables plus their record (sizes, digest, input shares)."""
    size = SIZES[workload]
    rng = _rng(workload, seed, "meta")
    meta, anchors = _meta_table(rng, size["images"])
    tables = {"meta": meta}
    if workload == "spatial_join":
        kinds, centres = {"pip": size["pip"], "knn": size["knn"]}, None
    else:
        tables["images"] = _images_table(_rng(workload, seed, "pixels"), meta)
        kinds = {"region": size["region"], "wmts": size["wmts"]}
        hot = anchors["hot"]
        centres = np.column_stack(
            [(anchors["xmin"][hot] + anchors["xmax"][hot]) / 2, (anchors["ymin"][hot] + anchors["ymax"][hot]) / 2]
        )
    tables["queries"] = _query_rows(_rng(workload, seed, "queries"), kinds, centres)
    record = {
        "workload": workload,
        "seed": seed,
        "gen_version": GEN_VERSION,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "bytes": {name: t.nbytes for name, t in tables.items()},
        "hot_images": int(anchors["hot"].sum()),
        "digest": table_digest(tables),
    }
    if "images" in tables:
        record["input_pixel_bytes"] = int(
            sum(len(b) for b in tables["images"]["bytes"].to_pylist())
        )
    return tables, record


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (dir, record) for the cached inputs, generating them once."""
    sizes = "-".join(f"{k}{v}" for k, v in SIZES[workload].items())
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}-{sizes}")
    rec_path = os.path.join(out, "inputs.json")
    if os.path.exists(rec_path):
        with open(rec_path) as fh:
            return out, json.load(fh)
    tables, record = generate(workload, seed)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "inputs.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, record
