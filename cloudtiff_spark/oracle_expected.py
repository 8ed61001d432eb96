"""Independent expected-value tables for oracle checks of hash-valued ops.

``simhash`` and ``fingerprint`` are deterministic pure functions of the
documents table, but DuckDB has no xxhash64, so their oracle cannot be a
plain SQL expression. Instead this module recomputes the expected values in
straight-line Python — including a from-the-spec xxHash64 (public algorithm,
https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md) matching
Spark's ``F.xxhash64`` (seed 42 over UTF-8 bytes) — and writes them to small
parquet files the DuckDB oracle reads back with read_parquet().

The recompute is an independent implementation (scalar Python vs Spark
expression trees / Arrow-vectorized numpy); only the MATH is shared, which
is exactly what an oracle pins down.

``image_features`` expected values are recomputed by decoding the fixture
images locally (same codecs module — the oracle therefore verifies the
distributed plumbing: bytes survive parquet+Arrow round trips, batching
doesn't reorder/corrupt, and the per-image math is applied to the right
rows) and storing full-precision doubles; the SQL applies the identical
micro-int projection on both sides (the proven bounds_agg pattern).

Everything is generated on demand and cached by file presence (fixtures are
deterministic), so repeated driver runs are cheap.

MAINTENANCE: if an operator's semantics change INTENTIONALLY (e.g. a new
LOD rule or resampler default), delete the stale expected_*.parquet files
under fixtures/sf0.01 so they regenerate — a hash mismatch in the driver's
correctness run is the signal.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# xxHash64 (XXH64) — public spec; matches Spark F.xxhash64(<string col>)
# which hashes the UTF-8 bytes with seed 42 and returns a SIGNED long.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    return (_rotl((acc + inp * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    return (((acc ^ _round(0, val)) * _P1) + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = 42) -> int:
    """Signed-long xxhash64 of a string, as Spark returns it."""
    v = xxh64(s.encode("utf-8"), seed)
    return v - (1 << 64) if v >= (1 << 63) else v


# ---------------------------------------------------------------------------
# expected-value recomputes (scalar Python mirrors of the operators' math)
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int) -> list[str]:
    """Mirror of operators.dedup.shingles: split on single spaces (keeping
    empties like Spark's regex split), 1-based slices of length n (shorter at
    the tail), '_'-joined, order-preserving distinct."""
    toks = text.split(" ")
    hi = max(len(toks) - n, 0)
    grams = ["_".join(toks[i : i + n]) for i in range(hi + 1)]
    seen: dict[str, None] = {}
    for g in grams:
        seen.setdefault(g)
    return list(seen)


def expected_simhash(texts: list[tuple[int, str]], n: int = 2) -> list[tuple[int, int]]:
    out = []
    for doc_id, text in texts:
        votes = [0] * 64
        for g in _shingles(text, n):
            h = xxh64_str(g)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        acc = 0
        for b in range(64):
            if votes[b] > 0:
                acc += 1 << b
        acc &= _M64
        out.append((doc_id, acc - (1 << 64) if acc >= (1 << 63) else acc))
    return out


def expected_fingerprint(
    texts: list[tuple[int, str]], window: int = 8, prime: int = 1_000_003
) -> list[tuple[int, int]]:
    mod = (1 << 31) - 1
    out = []
    for doc_id, text in texts:
        cps = [ord(c) for c in text]
        if len(cps) < window:
            cps = cps + [0] * (window - len(cps))
        best = None
        for i in range(len(cps) - window + 1):
            h = 0
            for j in range(window):
                h = (h * 131 + cps[i + j]) % mod
            best = h if best is None else min(best, h)
        out.append((doc_id, best % prime))
    return out


# ---------------------------------------------------------------------------
# render / tiling expected values: a driver-side single-machine recompute of
# the distributed pipelines (decode -> pyramid -> tile encode/decode round
# trip -> LOD pick -> gather). Pixel math reuses the same numpy helpers the
# engine's UDFs use; the JOIN / LOD / tile-range logic is recomposed here in
# plain Python — the oracle therefore pins the distributed composition
# (shuffles, joins, grouping) byte-for-byte against a sequential reference.
# ---------------------------------------------------------------------------


def _level_canvases(arr: "np.ndarray", fmt: str) -> list[tuple[int, int, "np.ndarray"]]:
    """Per pyramid level: (lw, lh, canvas) where canvas holds the level's
    pixels AFTER the per-tile encode/decode round trip (lossy for the jpeg
    stand-in), zero beyond the level edge — exactly what the engine's
    assemble sees when it mosaics decoded tiles."""
    from . import TILE
    from .codecs import decode_image, encode_image
    from .grid import grid_shape, level_dims, num_levels
    from .operators.tiling import resample_nearest

    h, w = arr.shape[:2]
    out = []
    cur = arr
    for lv in range(num_levels(w, h, TILE, TILE)):
        if lv:
            lw, lh = level_dims(w, h, lv)
            cur = resample_nearest(cur, lw, lh)
        lh_, lw_ = cur.shape[:2]
        cols, rows = grid_shape(lw_, lh_, TILE, TILE)
        canvas = np.zeros((rows * TILE, cols * TILE, 3), dtype=np.uint8)
        for r in range(rows):
            for c in range(cols):
                t = np.zeros((TILE, TILE, 3), dtype=np.uint8)
                src = cur[r * TILE : (r + 1) * TILE, c * TILE : (c + 1) * TILE]
                t[: src.shape[0], : src.shape[1]] = src
                dec = decode_image(encode_image(np.ascontiguousarray(t), fmt), fmt, TILE, TILE)
                hh = min(TILE, lh_ - r * TILE)
                ww = min(TILE, lw_ - c * TILE)
                canvas[r * TILE : r * TILE + hh, c * TILE : c * TILE + ww] = dec[:hh, :ww]
        out.append((lw_, lh_, canvas))
    return out


def _expected_crop_row(img_row: dict, crop: tuple, mp_limit: float) -> dict:
    """Mirror of render.crop_render for one image (LOD rule + bounded-bbox
    gather; pixels go through the real tile encode/decode). ``raster`` is
    the output bytes crop_render must reproduce exactly."""
    from . import TILE
    from .codecs import decode_image

    u0, v0, u1, v1 = crop
    du, dv = u1 - u0, v1 - v0
    arr = decode_image(img_row["bytes"], img_row["fmt"], img_row["w"], img_row["h"])
    levels = _level_canvases(arr, img_row["fmt"])
    out_h_f = np.sqrt(mp_limit * 1e6 / (du / dv))
    out_w_f = (du / dv) * out_h_f
    pick = 0
    for lv, (lw, lh, _) in enumerate(levels):
        if lw * du >= out_w_f and lh * dv >= out_h_f:
            pick = max(pick, lv)
    lw, lh, canvas = levels[pick]
    out_h = int(max(1, round(np.sqrt(mp_limit * 1e6 / (du / dv)))))
    out_w = int(max(1, round((du / dv) * out_h)))
    us = u0 + (np.arange(out_w) + 0.5) / out_w * du
    vs = v0 + (np.arange(out_h) + 0.5) / out_h * dv
    px = np.clip(np.floor(us * lw).astype(np.int64), 0, lw - 1)
    py = np.clip(np.floor(vs * lh).astype(np.int64), 0, lh - 1)
    out = canvas[py][:, px]
    return {
        "image_id": img_row["image_id"],
        "level": pick,
        "out_w": out_w,
        "out_h": out_h,
        "mean_px": float(out.mean()),
        "raster": out.tobytes(),
    }


def _region_pick_and_range(q: dict, m: dict, lw_lh: list[tuple[int, int]]) -> tuple | None:
    """Mirror of spatial.region_extract for one (query, image): LOD pick +
    covered tile range. Returns (level, c0, c1, r0, r1) or None if the
    rects don't overlap."""
    from . import TILE

    if not (
        m["xmin"] < q["rxmax"] and m["xmax"] > q["rxmin"]
        and m["ymin"] < q["rymax"] and m["ymax"] > q["rymin"]
    ):
        return None
    rw, rh = q["rxmax"] - q["rxmin"], q["rymax"] - q["rymin"]
    out_h_f = np.sqrt(q["mp_limit"] * 1e6 / (rw / rh))
    out_w_f = (rw / rh) * out_h_f
    req_x, req_y = rw / out_w_f, rh / out_h_f
    pick = 0
    for lv, (lw, lh) in enumerate(lw_lh):
        ps_x = (m["xmax"] - m["xmin"]) / lw
        ps_y = (m["ymax"] - m["ymin"]) / lh
        if max(ps_x, ps_y) < min(req_x, req_y):
            pick = max(pick, lv)
    lw, lh = lw_lh[pick]
    dx, dy = m["xmax"] - m["xmin"], m["ymax"] - m["ymin"]
    clamp = lambda c: max(0.0, min(1.0, c))  # noqa: E731
    cu0 = clamp((q["rxmin"] - m["xmin"]) / dx)
    cu1 = clamp((q["rxmax"] - m["xmin"]) / dx)
    cv0 = clamp((m["ymax"] - q["rymax"]) / dy)
    cv1 = clamp((m["ymax"] - q["rymin"]) / dy)
    cols = -(-lw // TILE)
    rows = -(-lh // TILE)
    c0 = int(max(0, min(cols - 1, np.floor(cu0 * lw / TILE))))
    c1 = int(max(0, min(cols - 1, np.ceil(cu1 * lw / TILE) - 1)))
    r0 = int(max(0, min(rows - 1, np.floor(cv0 * lh / TILE))))
    r1 = int(max(0, min(rows - 1, np.ceil(cv1 * lh / TILE) - 1)))
    return pick, c0, c1, r0, r1


def _expected_region_row(
    q: dict, m: dict, levels: list, fixed_px: int | None = None
) -> dict | None:
    """Mirror of render.region_render's assemble for one (query, image).
    ``fixed_px`` mirrors wmts_render's fixed tile resolution (res_w/res_h
    columns): output dims become exactly fixed_px square while the LOD
    pick still runs the standard mp-continuous rule on q["mp_limit"]."""
    from . import TILE

    pr = _region_pick_and_range(q, m, [(lw, lh) for lw, lh, _ in levels])
    if pr is None:
        return None
    pick, c0, c1, r0, r1 = pr
    lw, lh, canvas_full = levels[pick]
    y_off, x_off = r0 * TILE, c0 * TILE
    ch, cw = (r1 - r0 + 1) * TILE, (c1 - c0 + 1) * TILE
    rxmin, rymin, rxmax, rymax = q["rxmin"], q["rymin"], q["rxmax"], q["rymax"]
    rw, rh = rxmax - rxmin, rymax - rymin
    if fixed_px is not None:
        out_w = out_h = int(fixed_px)
    else:
        out_h = int(max(1, round(np.sqrt(float(q["mp_limit"]) * 1e6 / (rw / rh)))))
        out_w = int(max(1, round((rw / rh) * out_h)))
    lon = rxmin + (np.arange(out_w) + 0.5) / out_w * rw
    lat = rymax - (np.arange(out_h) + 0.5) / out_h * rh
    if m["epsg"] == 4326:
        u = (lon - m["xmin"]) / (m["xmax"] - m["xmin"])
        v = (m["ymax"] - lat) / (m["ymax"] - m["ymin"])
        px = np.floor(u * lw).astype(np.int64) - x_off
        py = np.floor(v * lh).astype(np.int64) - y_off
        ok_x = (px >= 0) & (px < cw) & (px + x_off < lw)
        ok_y = (py >= 0) & (py < ch) & (py + y_off < lh)
        gx = np.clip(px + x_off, 0, canvas_full.shape[1] - 1)
        gy = np.clip(py + y_off, 0, canvas_full.shape[0] - 1)
        out = canvas_full[gy][:, gx]
        out[~ok_y, :, :] = 0
        out[:, ~ok_x, :] = 0
    else:
        from .projection import image_coords_from_crs, transform_coords

        LON, LAT = np.meshgrid(lon, lat)
        X, Y = transform_coords(LON.ravel(), LAT.ravel(), 4326, m["epsg"])
        sx = float(m["scale_px"]) * int(m["w"])
        sy = float(m["scale_px"]) * int(m["h"])
        U, V = image_coords_from_crs(X, Y, m["origin_x"], m["origin_y"], sx, sy)
        px = np.floor(U * lw).astype(np.int64).reshape(out_h, out_w) - x_off
        py = np.floor(V * lh).astype(np.int64).reshape(out_h, out_w) - y_off
        ok = (
            (px >= 0) & (px < cw) & (py >= 0) & (py < ch)
            & (px + x_off < lw) & (py + y_off < lh)
        )
        gx = np.clip(px + x_off, 0, canvas_full.shape[1] - 1)
        gy = np.clip(py + y_off, 0, canvas_full.shape[0] - 1)
        out = canvas_full[gy, gx]
        out[~ok] = 0
    h = xxh64(out.tobytes())
    return {
        "query_id": q["query_id"],
        "image_id": m["image_id"],
        "level": pick,
        "out_w": out_w,
        "out_h": out_h,
        "raster_hash": h - (1 << 64) if h >= (1 << 63) else h,
    }


# ---------------------------------------------------------------------------
# on-demand generation, cached by file presence
# ---------------------------------------------------------------------------


_CROP = (0.1, 0.2, 0.9, 0.8)
_CROP_MP = 0.01
#: wmts_render graded tile resolution (the reference tile_dim default)
_WMTS_PX = 256


def _render_expected_chunk(
    args: tuple[str, list[int]],
) -> tuple[list, list, dict, list]:
    """Worker: for a chunk of fixture image indices (10% subset only),
    recompute (crop rows, region rows, per-(fmt, level) tile-byte
    partials, wmts tile rows) — a 4-tuple since wmts_render landed."""
    fixture_dir, idx = args
    imgs = pq.read_table(os.path.join(fixture_dir, "images.parquet"))
    metas = pq.read_table(os.path.join(fixture_dir, "images_meta.parquet"))
    qry = pq.read_table(os.path.join(fixture_dir, "queries.parquet")).to_pylist()
    regions = [q for q in qry if q["kind"] == "region"]
    # wmts queries rendered as fixed-256px tiles (wmts_render): the tile
    # lon/lat bounds come from the SAME numpy helper the distributed
    # mapInPandas stage uses, so every derived double is bit-identical
    from .operators.spatial import slippy_bounds_np

    wmts_qs = []
    for q in (q for q in qry if q["kind"] == "wmts"):
        tx0, ty0, tx1, ty1 = slippy_bounds_np(q["qx"], q["qy"], q["qz"])
        wmts_qs.append(
            {
                "query_id": q["query_id"],
                "rxmin": float(tx0), "rymin": float(ty0),
                "rxmax": float(tx1), "rymax": float(ty1),
                "mp_limit": _WMTS_PX * _WMTS_PX / 1e6,
            }
        )
    meta_by_id = {}
    for i in range(metas.num_rows):
        r = {c: metas[c][i].as_py() for c in metas.column_names}
        meta_by_id[r["image_id"]] = r
    crop_rows, region_rows, wmts_rows = [], [], []
    tb: dict[tuple[str, int], list[int]] = {}
    from .codecs import decode_image

    for i in idx:
        row = {c: imgs[c][i].as_py() for c in imgs.column_names}
        if not row["image_id"].endswith("0"):
            continue
        crop = _expected_crop_row(row, _CROP, _CROP_MP)
        del crop["raster"]  # the graded crop_render compare reads mean_px only
        crop_rows.append(crop)
        arr = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
        levels = _level_canvases(arr, row["fmt"])
        m = meta_by_id[row["image_id"]]
        for q in regions:
            rr = _expected_region_row(q, m, levels)
            if rr is not None:
                region_rows.append(rr)
        for q in wmts_qs:
            rr = _expected_region_row(q, m, levels, fixed_px=_WMTS_PX)
            if rr is not None:
                wmts_rows.append(rr)
        # tile byte accounting: rebuild the pyramid and encode each tile
        # (pre-roundtrip pixel content, exactly build_tiles' per-tile bytes)
        from . import TILE
        from .codecs import encode_image
        from .grid import level_dims, num_levels
        from .operators.tiling import cut_tiles, resample_nearest

        cur = arr
        w, h = row["w"], row["h"]
        for lv in range(num_levels(w, h, TILE, TILE)):
            if lv:
                lw2, lh2 = level_dims(w, h, lv)
                cur = resample_nearest(cur, lw2, lh2)
            acc = tb.setdefault((row["fmt"], lv), [0, 0])
            for _idx, _c, _r, t in cut_tiles(cur, TILE, TILE):
                data = encode_image(np.ascontiguousarray(t), row["fmt"])
                acc[0] += 1
                acc[1] += len(data)
    return crop_rows, region_rows, {f"{k[0]}|{k[1]}": v for k, v in tb.items()}, wmts_rows


def _write_atomic(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def ensure_expected(sf_dir: str, fixture_dir: str) -> str:
    """Generate expected_{simhash,fingerprint,features}.parquet under
    ``fixture_dir`` (for the documents table in ``sf_dir`` and the fixture
    images in ``fixture_dir``). Returns fixture_dir."""
    os.makedirs(fixture_dir, exist_ok=True)

    sim_path = os.path.join(fixture_dir, "expected_simhash.parquet")
    fp_path = os.path.join(fixture_dir, "expected_fingerprint.parquet")
    if not (os.path.exists(sim_path) and os.path.exists(fp_path)):
        docs = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        texts = list(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        if not os.path.exists(sim_path):
            rows = expected_simhash(texts)
            _write_atomic(
                pa.table(
                    {
                        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                        "simhash": pa.array([r[1] for r in rows], pa.int64()),
                    }
                ),
                sim_path,
            )
        if not os.path.exists(fp_path):
            rows = expected_fingerprint(texts)
            _write_atomic(
                pa.table(
                    {
                        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                        "fp": pa.array([r[1] for r in rows], pa.int64()),
                    }
                ),
                fp_path,
            )

    feat_path = os.path.join(fixture_dir, "expected_features.parquet")
    if not os.path.exists(feat_path):
        from .codecs import decode_image

        imgs = pq.read_table(os.path.join(fixture_dir, "images.parquet"))
        ids, means, stds, grads = [], [], [], []
        for i in range(imgs.num_rows):
            image_id = imgs["image_id"][i].as_py()
            if not image_id.endswith("0"):  # _image_subset predicate
                continue
            arr = decode_image(
                imgs["bytes"][i].as_py(),
                imgs["fmt"][i].as_py(),
                imgs["w"][i].as_py(),
                imgs["h"][i].as_py(),
            ).astype(np.float64)
            luma = arr @ np.array([0.299, 0.587, 0.114])
            gx = np.abs(np.diff(luma, axis=1)).mean() if luma.shape[1] > 1 else 0.0
            gy = np.abs(np.diff(luma, axis=0)).mean() if luma.shape[0] > 1 else 0.0
            ids.append(image_id)
            means.append(float(arr.mean(axis=(0, 1)).round(6)[0]))
            stds.append(float(arr.std(axis=(0, 1)).round(6)[0]))
            grads.append(round(float(gx + gy), 6))
        _write_atomic(
            pa.table(
                {
                    "image_id": pa.array(ids, pa.string()),
                    "mean_r": pa.array(means, pa.float64()),
                    "std_r": pa.array(stds, pa.float64()),
                    "grad": pa.array(grads, pa.float64()),
                }
            ),
            feat_path,
        )

    nd_path = os.path.join(fixture_dir, "expected_near_dup.parquet")
    if not os.path.exists(nd_path):
        # exact all-pairs cosine over the embeddings table. The per-pair
        # value is computed with the IDENTICAL elementwise f64 formulation
        # the engine's verify UDF uses — (x*y).sum / (|x|*|y|) — NOT a
        # matmul: a differently-shaped BLAS product can differ in the last
        # ulp, and a dot landing within ~1e-16 of a micro-unit boundary
        # would flip cos_micro by 1. Candidate screening may use matmul
        # (screen wider than tau, then exact-recompute), but the kept value
        # and the tau cut both come from the elementwise form.
        embp = os.path.join(sf_dir, "embeddings.parquet")
        et = pq.read_table(embp)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in et["embedding"].to_pylist()])
        ids = np.asarray(et["vec_id"].to_pylist(), dtype=np.int64)
        norms = np.linalg.norm(X, axis=1)
        ia, ib = np.triu_indices(len(X), 1)
        cos = (X[ia] * X[ib]).sum(axis=1) / (norms[ia] * norms[ib])
        keep = cos >= 0.3
        lo = np.minimum(ids[ia[keep]], ids[ib[keep]])  # id order, not row order
        hi = np.maximum(ids[ia[keep]], ids[ib[keep]])
        _write_atomic(
            pa.table(
                {
                    "id_a": pa.array(lo, pa.int64()),
                    "id_b": pa.array(hi, pa.int64()),
                    "cos_micro": pa.array(
                        np.floor(cos[keep] * 1e6 + 0.5).astype(np.int64)
                    ),
                }
            ),
            nd_path,
        )

    th_path = os.path.join(fixture_dir, "expected_thumbs.parquet")
    if not os.path.exists(th_path):
        # thumbnails: local re-decode + nearest resize + from-spec xxh64
        # over the raw thumb bytes (pins Spark's xxhash64-on-binary)
        from .codecs import decode_image
        from .operators.tiling import resample_nearest

        imgs = pq.read_table(os.path.join(fixture_dir, "images.parquet"))
        t_ids, t_w, t_h, t_hash = [], [], [], []
        for i in range(imgs.num_rows):
            image_id = imgs["image_id"][i].as_py()
            if not image_id.endswith("0"):  # _image_subset predicate
                continue
            arr = decode_image(
                imgs["bytes"][i].as_py(),
                imgs["fmt"][i].as_py(),
                imgs["w"][i].as_py(),
                imgs["h"][i].as_py(),
            )
            h, w = arr.shape[:2]
            s = max(w, h) / 32
            tw, th = max(1, int(w / s)), max(1, int(h / s))
            data = resample_nearest(arr, tw, th).tobytes()
            t_ids.append(image_id)
            t_w.append(tw)
            t_h.append(th)
            v = xxh64(data)  # -> signed long, as Spark returns it
            t_hash.append(v - (1 << 64) if v >= (1 << 63) else v)
        _write_atomic(
            pa.table(
                {
                    "image_id": pa.array(t_ids, pa.string()),
                    "thumb_w": pa.array(t_w, pa.int64()),
                    "thumb_h": pa.array(t_h, pa.int64()),
                    "thumb_hash": pa.array(t_hash, pa.int64()),
                }
            ),
            th_path,
        )

    media_exp = os.path.join(fixture_dir, "expected_media.parquet")
    if not os.path.exists(media_exp):
        # sequential recompute of audio_features + video_frame_features
        # (operators/features.py) over the media fixture — straight-line
        # Python mirroring the same math
        from .fixtures import ensure_media_dir

        ensure_media_dir(os.path.basename(fixture_dir))
        med = pq.read_table(os.path.join(fixture_dir, "media.parquet"))
        out_rows = []
        for i in range(med.num_rows):
            r = {c: med[c][i].as_py() for c in med.column_names}
            if r["kind"] == "audio":
                if r["codec"] != "pcm16":
                    out_rows.append(
                        {"media_id": r["media_id"], "kind": "audio",
                         "status": "unsupported_codec", "f1": 0, "f2": 0, "f3": 0, "f4": 0}
                    )
                    continue
                x = np.frombuffer(r["bytes"], dtype="<i2").astype(np.float64) / 32768.0
                dur = len(x) / r["sr"]
                rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
                zcr = (
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0.0
                )
                if len(x):
                    spec = np.abs(np.fft.rfft(x)) ** 2
                    dom = int(np.argmax([float(b.sum()) for b in np.array_split(spec, 8)]))
                else:
                    dom = 0
                out_rows.append(
                    {"media_id": r["media_id"], "kind": "audio", "status": "ok",
                     "f1": round(dur * 1000), "f2": round(rms * 1000),
                     "f3": round(zcr * 1000), "f4": dom}
                )
            else:
                if r["codec"] != "rawvideo":
                    out_rows.append(
                        {"media_id": r["media_id"], "kind": "video",
                         "status": "unsupported_codec", "f1": 0, "f2": 0, "f3": 0, "f4": 0}
                    )
                    continue
                frames = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(
                    r["n_frames"], r["h"], r["w"], 3
                )
                sampled = frames[::2].astype(np.float64)
                luma = sampled @ np.array([0.299, 0.587, 0.114])
                delta = float(np.abs(np.diff(luma, axis=0)).mean()) if sampled.shape[0] > 1 else 0.0
                out_rows.append(
                    {"media_id": r["media_id"], "kind": "video", "status": "ok",
                     "f1": sampled.shape[0], "f2": round(float(luma.mean()) * 1000),
                     "f3": round(delta * 1000), "f4": 0}
                )
        _write_atomic(pa.Table.from_pylist(out_rows), media_exp)

    quar_path = os.path.join(fixture_dir, "expected_quarantine.parquet")
    if not os.path.exists(quar_path):
        # mirror q_quarantine: 30% subset (ids ending 1/3/5), truncate the
        # '3' rows to half length, classify decode failures exactly like
        # operators/decode.decode_status
        import hashlib as _hl

        from .codecs import decode_image

        imgs = pq.read_table(os.path.join(fixture_dir, "images.parquet"))
        q_ids, q_fmts, q_kinds = [], [], []
        for i in range(imgs.num_rows):
            image_id = imgs["image_id"][i].as_py()
            if image_id[-1] not in "135":
                continue
            data = imgs["bytes"][i].as_py()
            if image_id.endswith("3"):
                data = data[: max(1, len(data) // 2)]
            fmt = imgs["fmt"][i].as_py()
            try:
                arr = decode_image(data, fmt, imgs["w"][i].as_py(), imgs["h"][i].as_py())
            except Exception:
                q_ids.append(image_id)
                q_fmts.append(fmt)
                q_kinds.append("decode_error")
                continue
            digest = _hl.sha256(arr.tobytes()).digest()
            got = int(np.int64(np.uint64(int.from_bytes(digest[-8:], "big"))))
            if got != imgs["phash"][i].as_py():
                q_ids.append(image_id)
                q_fmts.append(fmt)
                q_kinds.append("phash_mismatch")
        _write_atomic(
            pa.table(
                {
                    "image_id": pa.array(q_ids, pa.string()),
                    "fmt": pa.array(q_fmts, pa.string()),
                    "err_kind": pa.array(q_kinds, pa.string()),
                }
            ),
            quar_path,
        )

    crop_path = os.path.join(fixture_dir, "expected_crop.parquet")
    region_path = os.path.join(fixture_dir, "expected_region.parquet")
    tb_path = os.path.join(fixture_dir, "expected_tile_bytes.parquet")
    wmts_path = os.path.join(fixture_dir, "expected_wmts.parquet")
    if not (
        os.path.exists(crop_path)
        and os.path.exists(region_path)
        and os.path.exists(tb_path)
        and os.path.exists(wmts_path)
    ):
        from concurrent.futures import ProcessPoolExecutor

        n = pq.read_metadata(os.path.join(fixture_dir, "images.parquet")).num_rows
        workers = min(16, os.cpu_count() or 4)
        chunks = [(fixture_dir, list(range(i, n, workers))) for i in range(workers)]
        if n <= 200:
            parts = [_render_expected_chunk(c) for c in chunks]
        else:
            with ProcessPoolExecutor(workers) as ex:
                parts = list(ex.map(_render_expected_chunk, chunks))
        crop_rows = [r for p in parts for r in p[0]]
        region_rows = [r for p in parts for r in p[1]]
        wmts_rows = [r for p in parts for r in p[3]]
        tb: dict[str, list[int]] = {}
        for p in parts:
            for k, (cnt, byts) in p[2].items():
                acc = tb.setdefault(k, [0, 0])
                acc[0] += cnt
                acc[1] += byts
        _write_atomic(pa.Table.from_pylist(crop_rows), crop_path)
        _write_atomic(pa.Table.from_pylist(region_rows), region_path)
        _write_atomic(pa.Table.from_pylist(wmts_rows), wmts_path)
        _write_atomic(
            pa.Table.from_pylist(
                [
                    {
                        "fmt": k.split("|")[0],
                        "level": int(k.split("|")[1]),
                        "n_tiles": v[0],
                        "total_bytes": v[1],
                    }
                    for k, v in tb.items()
                ]
            ),
            tb_path,
        )
    return fixture_dir
