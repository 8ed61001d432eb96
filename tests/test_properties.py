"""Property-based invariants (SURVEY.md §5.2 item 4) — pure python/numpy,
no Spark session needed."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cloudtiff_spark import cells, grid
from cloudtiff_spark.operators.tiling import resample_maximum, resample_nearest


class TestGridInvariants:
    @given(w=st.integers(1, 4096), h=st.integers(1, 4096))
    @settings(max_examples=200, deadline=None)
    def test_every_pixel_in_exactly_one_tile(self, w, h):
        cols, rows = grid.grid_shape(w, h, 64, 64)
        assert cols * 64 >= w > (cols - 1) * 64
        assert rows * 64 >= h > (rows - 1) * 64

    @given(w=st.integers(1, 4096), h=st.integers(1, 4096))
    @settings(max_examples=200, deadline=None)
    def test_pyramid_terminates_and_halves(self, w, h):
        n = grid.num_levels(w, h, 64, 64)
        assert 1 <= n <= 13
        for lv in range(1, n):
            lw, lh = grid.level_dims(w, h, lv)
            pw, ph = grid.level_dims(w, h, lv - 1)
            assert lw == max(1, pw // 2) or lw == max(1, (w // (1 << lv)))
            assert lw <= pw and lh <= ph
        lw, lh = grid.level_dims(w, h, n - 1)
        assert lw <= 64 and lh <= 64  # top level fits one tile

    @given(
        w=st.integers(65, 2048),
        h=st.integers(65, 2048),
        u=st.floats(0, 1),
        v=st.floats(0, 1),
    )
    @settings(max_examples=200, deadline=None)
    def test_point_tile_consistency(self, w, h, u, v):
        # the tile containing a point is within the crop cover of any rect
        # containing that point (P6/P7 consistency)
        tiles = grid.tiles_for_crop(w, h, 64, 64, u, v, min(1.0, u + 1e-9), min(1.0, v + 1e-9))
        assert len(tiles) >= 1


class TestCellInvariants:
    @given(
        lon=st.floats(-180, 180),
        lat=st.floats(-90, 90),
        z=st.integers(0, cells.MAX_RES),
    )
    @settings(max_examples=300, deadline=None)
    def test_pack_unpack_roundtrip(self, lon, lat, z):
        c = cells.cell_id(lon, lat, z)
        z2, cx, cy = cells.unpack(c)
        assert z2 == z and 0 <= cx < (1 << z) and 0 <= cy < (1 << z)
        assert c > 0 or z == 0

    @given(lon=st.floats(-179.9, 179.9), lat=st.floats(-89.9, 89.9), z=st.integers(1, 18))
    @settings(max_examples=300, deadline=None)
    def test_parent_contains_child(self, lon, lat, z):
        child = cells.cell_id(lon, lat, z)
        parent = cells.cell_id(lon, lat, z - 1)
        zc, cx, cy = cells.unpack(child)
        zp, px, py = cells.unpack(parent)
        assert (cx >> 1, cy >> 1) == (px, py)

    @given(
        xmin=st.floats(-170, 160),
        ymin=st.floats(-80, 70),
        dx=st.floats(0.01, 10),
        dy=st.floats(0.01, 10),
        z=st.integers(0, 10),
    )
    @settings(max_examples=200, deadline=None)
    def test_cover_contains_all_corners(self, xmin, ymin, dx, dy, z):
        xmax, ymax = xmin + dx, ymin + dy
        cover = set(cells.cover_bbox(xmin, ymin, xmax, ymax, z))
        for lon, lat in [(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)]:
            assert cells.cell_id(lon, lat, z) in cover


class TestPipOracle:
    @given(
        cx=st.floats(-10, 10),
        cy=st.floats(-10, 10),
        r=st.floats(0.5, 5),
        nv=st.integers(5, 12),
        seed=st.integers(0, 10_000),
    )
    @settings(max_examples=200, deadline=None)
    def test_crossing_number_on_star_polygons(self, cx, cy, r, nv, seed):
        # center is always inside a star polygon built around it; a point
        # far outside the max radius is always outside
        rng = np.random.default_rng(seed)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        gaps = np.diff(np.concatenate([ang, [ang[0] + 2 * np.pi]]))
        if gaps.max() >= np.pi * 0.98:
            return  # polygon doesn't wrap the center -> premise doesn't hold
        rad = r * (0.4 + 0.6 * rng.uniform(0, 1, nv))
        vx = cx + rad * np.cos(ang)
        vy = cy + rad * np.sin(ang)

        def inside(px, py):
            x1, y1 = vx, vy
            x2, y2 = np.roll(vx, -1), np.roll(vy, -1)
            straddle = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            return int(np.sum(straddle & (px < xint))) % 2 == 1

        assert inside(cx, cy)
        assert not inside(cx + 2 * r, cy)
        assert not inside(cx, cy + 2 * r)


class TestResample:
    def test_nearest_identity(self):
        a = np.arange(48).reshape(4, 4, 3).astype(np.uint8)
        assert np.array_equal(resample_nearest(a, 4, 4), a)

    def test_nearest_halving_picks_topleft(self):
        a = np.arange(64 * 3, dtype=np.uint8).reshape(8, 8, 3)
        out = resample_nearest(a, 4, 4)
        assert np.array_equal(out, a[::2, ::2])

    def test_maximum_block(self):
        a = np.zeros((4, 4, 1), dtype=np.uint8)
        a[1, 1, 0] = 9
        a[3, 2, 0] = 7
        out = resample_maximum(a, 2, 2)
        assert out[0, 0, 0] == 9 and out[1, 1, 0] == 7

    @given(h=st.integers(2, 64), w=st.integers(2, 64))
    @settings(max_examples=50, deadline=None)
    def test_maximum_ge_nearest(self, h, w):
        rng = np.random.default_rng(h * 1000 + w)
        a = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        dw, dh = max(1, w // 2), max(1, h // 2)
        mx = resample_maximum(a, dw, dh).astype(int)
        nr = resample_nearest(a, dw, dh).astype(int)
        assert (mx >= nr).all()


class TestJpegProperties:
    """Shape/determinism invariants of the from-spec JFIF codec over
    arbitrary dims and content (the PSNR gate lives in test_codecs; these
    pin that NO shape crashes or distorts geometry)."""

    @given(h=st.integers(1, 50), w=st.integers(1, 50), seed=st.integers(0, 10_000))
    @settings(max_examples=40, deadline=None)
    def test_roundtrip_shape_and_determinism(self, h, w, seed):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        enc = encode_jpeg(img, 90)
        assert enc == encode_jpeg(img, 90)  # bit-deterministic
        out = decode_jpeg(enc)
        assert out.shape == (h, w, 3) and out.dtype == np.uint8

    @given(h=st.integers(1, 40), w=st.integers(1, 40))
    @settings(max_examples=20, deadline=None)
    def test_constant_image_is_near_exact(self, h, w):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        img = np.full((h, w, 3), 137, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, 90))
        assert np.abs(out.astype(int) - 137).max() <= 2


class TestPredictor3Properties:
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        seed=st.integers(0, 2**31),
        scale=st.sampled_from([1.0, 1e-6, 1e6, 4000.0]),
    )
    @settings(max_examples=100, deadline=None)
    def test_roundtrip_bit_exact(self, h, w, seed, scale):
        """Predictor 3 (byte-shuffle + delta) is lossless for ANY float32
        content, including negatives, denormal-ish magnitudes, inf/nan."""
        from cloudtiff_spark.codecs import predictor3_decode, predictor3_encode

        rng = np.random.default_rng(seed)
        arr = ((rng.random((h, w), dtype=np.float32) - 0.5) * scale).astype(np.float32)
        if seed % 5 == 0 and h * w >= 4:
            flat = arr.reshape(-1)
            flat[0] = np.float32("nan")
            flat[1] = np.float32("inf")
            flat[2] = -np.float32("inf")
            flat[3] = np.float32(0.0)
        out = predictor3_decode(predictor3_encode(arr), w, h)[:, :, 0]
        assert np.array_equal(
            arr.astype("<f4").view(np.uint32), out.astype("<f4").view(np.uint32)
        )


class TestBitPackedProperties:
    @given(
        bits=st.sampled_from([1, 2, 4]),
        w=st.integers(1, 33),
        h=st.integers(1, 9),
        seed=st.integers(0, 2**31),
    )
    @settings(max_examples=120, deadline=None)
    def test_unpack_matches_scalar_bit_extraction(self, bits, w, h, seed):
        """decode_tile's vectorized unpack must agree with a per-pixel
        scalar MSB-first bit-extraction oracle for every width/row-pad
        combination."""
        from cloudtiff_spark import tiff

        rng = np.random.default_rng(seed)
        vals = rng.integers(0, 1 << bits, (h, w))
        row_bytes = (w * bits + 7) // 8
        payload = bytearray(row_bytes * h)
        for y in range(h):
            for x in range(w):
                bitpos = x * bits
                for b in range(bits):
                    if (vals[y, x] >> (bits - 1 - b)) & 1:
                        byte_i, bit_i = divmod(bitpos + b, 8)
                        payload[y * row_bytes + byte_i] |= 0x80 >> bit_i
        lev = dict(
            compression=1, tile_w=w, tile_h=h, bits_per_sample=[bits],
            samples_per_pixel=1, sample_format=1, photometric=1,
            predictor=1, fill_order=1, endian="<",
            offsets=[0], byte_counts=[len(payload)],
        )
        info = {"levels": [lev]}
        t = tiff.decode_tile(bytes(payload), info, 0, 0)
        maxv = (1 << bits) - 1
        want = (vals * 255 + maxv // 2) // maxv
        assert np.array_equal(t[:, :, 0], want.astype(np.uint8))


class TestProjectionProperties:
    @given(
        epsg=st.sampled_from([2154, 5070, 3031, 3413, 3034, 3035, 3575, 6933]),
        lon=st.floats(-179.0, 179.0),
        lat=st.floats(-85.0, 85.0),
    )
    @settings(max_examples=300, deadline=None)
    def test_registry_roundtrip_anywhere_in_hemidomain(self, epsg, lon, lat):
        """Round-trip closure for hypothesis-random points: polar CRSs get
        the matching hemisphere, conic CRSs their continental band."""
        from cloudtiff_spark import projection as P

        if epsg in (3031,):
            lat = -abs(lat) - 5.0 if abs(lat) < 85 else -85.0
        elif epsg in (3413, 3575):
            lat = abs(lat) + 5.0 if abs(lat) < 85 else 85.0
        elif epsg == 2154:
            lon, lat = lon / 18.0 + 3.0, lat / 10.0 + 46.0
        elif epsg in (3034, 3035):
            lon, lat = lon / 6.0 + 10.0, lat / 6.0 + 50.0
        elif epsg == 5070:
            lon, lat = lon / 4.0 - 96.0, lat / 5.0 + 37.0
        x, y = P.transform_coords(np.array([lon]), np.array([lat]), 4326, epsg)
        lon2, lat2 = P.transform_coords(x, y, epsg, 4326)
        # POSITION closure in projected meters (pole-safe: longitude is
        # ill-conditioned within microdegrees of the pole, where any lon
        # maps to the same point)
        x2, y2 = P.transform_coords(lon2, lat2, 4326, epsg)
        assert abs(x2[0] - x[0]) < 1e-5 and abs(y2[0] - y[0]) < 1e-5


class TestStreamRuns:
    """stream_groups' mapInPandas body, driven without Spark: sorted key
    runs cut into arbitrary Arrow-batch-like frames must give one row per
    group, in order, exactly like a pandas groupby."""

    NAMES = ["k1", "k2", "n", "s", "raster"]

    @staticmethod
    def _fn(g):
        return {
            "k1": g["k1"].iloc[0],
            "k2": g["k2"].iloc[0],
            "n": len(g),
            "s": int(g["v"].sum()),
            "raster": bytes(g["v"].to_numpy().astype(np.uint8)),
        }

    @given(
        runs=st.lists(
            st.tuples(
                st.one_of(st.none(), st.sampled_from("abcde")),
                st.one_of(st.none(), st.integers(0, 3)),
                st.integers(1, 6),
            ),
            max_size=25,
        ),
        cuts=st.lists(st.integers(0, 150), max_size=12),
        empties=st.lists(st.integers(0, 13), max_size=3),
    )
    @settings(max_examples=200, deadline=None)
    def test_matches_pandas_groupby(self, runs, cuts, empties):
        import pandas as pd

        from cloudtiff_spark.operators.render import stream_runs

        seen, keys = set(), []
        for k1, k2, size in runs:  # distinct keys: one contiguous run each
            if (k1, k2) not in seen:
                seen.add((k1, k2))
                keys += [(k1, k2)] * size
        df = pd.DataFrame(
            {
                "k1": pd.Series([k[0] for k in keys], dtype=object),
                "k2": pd.Series([k[1] for k in keys], dtype="float64"),
                "v": np.arange(len(keys), dtype=np.int64),
            }
        )
        bounds = [0, *sorted(min(c, len(df)) for c in cuts), len(df)]
        batches = [df.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
        for pos in empties:  # empty batches anywhere in the stream
            batches.insert(min(pos, len(batches)), df.iloc[:0])
        frames = list(stream_runs(iter(batches), ["k1", "k2"], self._fn, self.NAMES))
        got = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=self.NAMES)
        )
        want = pd.DataFrame(
            [self._fn(g) for _, g in df.groupby(["k1", "k2"], dropna=False, sort=False)],
            columns=self.NAMES,
        )
        assert len(got) == len(seen)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_flush_bounds_each_frame(self):
        """Rows whose payloads pass STREAM_FLUSH_BYTES split one input
        batch into several frames, none above the cap plus one row."""
        import pandas as pd

        from cloudtiff_spark.operators import render

        cap = render.STREAM_FLUSH_BYTES
        payload = bytes(cap // 2 + 1)  # one buffer shared by every row

        def fn(g):
            return {"k": g["k"].iloc[0], "raster": payload}

        batch = pd.DataFrame({"k": ["a", "b", "c", "d"]})
        frames = list(render.stream_runs(iter([batch]), ["k"], fn, ["k", "raster"]))
        # a, b, c complete inside the batch; d is the carried last run
        in_batch = frames[:-1]
        assert len(in_batch) > 1
        assert [list(f["k"]) for f in frames] == [["a", "b"], ["c"], ["d"]]
        for f in frames:
            assert sum(len(r) for r in f["raster"]) <= cap + len(payload)


class TestBlockedSinkFeed:
    """The blocked COG sink's source-side feed ships each level-(lv-1)
    tile to the level-lv dest tiles cogsink._readers names. That set must
    be exactly the brute-force inversion of every dest tile's footprint,
    computed here from the whole-axis resample_nearest / resample_average
    index maps: a reader too few drops pixels from an overview, one too
    many ships a tile the resample never reads."""

    @staticmethod
    def _brute(s, d, tile, avg):
        """{source tile: [dest tiles reading it]} along one axis."""
        if avg:  # resample_average's box of dest pixel x: [b[x], b[x+1])
            b = (np.arange(d + 1) * s) // d
            first, last = b[:-1], b[1:] - 1
        else:  # resample_nearest's source index of dest pixel x
            first = last = np.minimum((np.arange(d) * (s / d)).astype(np.int64), s - 1)
        out = {k: [] for k in range(-(-s // tile))}
        for j in range(-(-d // tile)):
            x0, x1 = j * tile, min((j + 1) * tile, d)
            for k in range(first[x0] // tile, last[x1 - 1] // tile + 1):
                out[k].append(j)
        return out

    def _check_level(self, w, h, lv, tile, avg):
        from cloudtiff_spark.operators.cogsink import _readers

        src, dst = grid.level_dims(w, h, lv - 1), grid.level_dims(w, h, lv)
        for s, d in zip(src, dst):
            for k, want in self._brute(s, d, tile, avg).items():
                assert _readers(k, s, d, tile, avg) == want, (s, d, tile, avg, k)

    @given(
        w=st.integers(1, 2000),
        h=st.integers(1, 2000),
        tile=st.sampled_from([16, 64, 256]),
        avg=st.booleans(),
    )
    @settings(max_examples=150, deadline=None)
    def test_readers_invert_every_footprint(self, w, h, tile, avg):
        for lv in range(1, grid.num_levels(w, h, tile, tile)):
            self._check_level(w, h, lv, tile, avg)

    @given(
        m=st.integers(0, 5),
        extra=st.integers(0, 31),
        h=st.integers(1100, 2000),
        avg=st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_ratio_three_levels(self, m, extra, h, avg):
        """w >> m == 3 makes level m+1 a 3 -> 1 step along x (sw/dw = 3,
        the widest footprint), while the tall y axis keeps the level in
        the pyramid at tile 16."""
        w = (3 << m) + extra % (1 << m)
        lv = m + 1
        assert grid.level_dims(w, h, lv - 1)[0] == 3 and grid.level_dims(w, h, lv)[0] == 1
        assert grid.num_levels(w, h, 16, 16) > lv
        self._check_level(w, h, lv, 16, avg)
