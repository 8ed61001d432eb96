"""Per-tile decode cost of each codec on the tile_render benchmark's tiles.

Usage: python tools/codec_bench.py [--seed N] [--reps R]

Runs without Spark. Generates (or reuses) the seeded perfbench
``tile_render`` inputs, then tiles every image the way ``build_tiles``
does (pyramid by nearest resampling from the previous level, 64x64 tiles,
edge tiles zero-padded, each tile re-encoded in its image's format) with
plain numpy. It then decodes every tile ``R`` times; each repetition runs
the formats in a rotated order, so a slow stretch of the host falls on all
of them. Per format it prints the tile count and the quartiles, over the
repetitions, of the process CPU milliseconds per tile; the last line is
one sha256 over every decoded tile's bytes.

Run it from two checkouts to compare codec kernels: the ms/tile columns
show the speed, and equal sha256 lines show byte-identical decodes.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FORMATS = ("jpeg", "png", "deflate_raw", "lzw_raw")


def build_tiles_np(seed: int) -> dict[str, list[bytes]]:
    """fmt -> encoded tiles of every pyramid level of every input image."""
    import numpy as np
    import pyarrow.parquet as pq

    from cloudtiff_spark import TILE
    from cloudtiff_spark.codecs import decode_image, encode_image
    from cloudtiff_spark.grid import level_dims, num_levels
    from cloudtiff_spark.operators.tiling import cut_tiles, resample_nearest
    from perfbench import gen

    inputs, _ = gen.ensure_inputs(os.path.join(ROOT, ".perfbench", "inputs"), "tile_render", seed)
    images = pq.read_table(os.path.join(inputs, "images.parquet")).to_pylist()
    tiles: dict[str, list[bytes]] = {fmt: [] for fmt in FORMATS}
    for row in images:
        w, h, fmt = int(row["w"]), int(row["h"]), row["fmt"]
        cur = decode_image(row["bytes"], fmt, w, h)
        for lv in range(num_levels(w, h, TILE, TILE)):
            if lv:
                cur = resample_nearest(cur, *level_dims(w, h, lv))
            for _idx, _c, _r, tile in cut_tiles(cur, TILE, TILE):
                tiles[fmt].append(encode_image(np.ascontiguousarray(tile), fmt))
    return tiles


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=6)
    args = ap.parse_args()

    import numpy as np

    from cloudtiff_spark import TILE
    from cloudtiff_spark.codecs import decode_image

    tiles = build_tiles_np(args.seed)
    digest = hashlib.sha256()
    for fmt in FORMATS:  # untimed first pass: warm-up plus the byte digest
        for data in tiles[fmt]:
            digest.update(decode_image(data, fmt, TILE, TILE).tobytes())

    ms: dict[str, list[float]] = {fmt: [] for fmt in FORMATS}
    for rep in range(args.reps):
        k = rep % len(FORMATS)
        for fmt in FORMATS[k:] + FORMATS[:k]:
            t0 = time.process_time()
            for data in tiles[fmt]:
                decode_image(data, fmt, TILE, TILE)
            ms[fmt].append((time.process_time() - t0) * 1e3 / max(1, len(tiles[fmt])))

    print(f"seed {args.seed}, {args.reps} reps, CPU ms per {TILE}x{TILE} tile")
    print(f"{'format':<12} {'tiles':>6} {'q1':>8} {'median':>8} {'q3':>8}")
    for fmt in FORMATS:
        q1, med, q3 = np.percentile(ms[fmt], [25, 50, 75])
        print(f"{fmt:<12} {len(tiles[fmt]):>6} {q1:>8.3f} {med:>8.3f} {q3:>8.3f}")
    print(f"sha256 {digest.hexdigest()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
