"""End-to-end Spark operator tests against brute-force pandas/numpy oracles
(SURVEY.md §5.2 items 3-6). Everything runs at sf0.001 on local[8]."""

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cloudtiff_spark import TILE, cells, grid


@pytest.fixture(scope="module")
def tables(spark, sf_small):
    images = spark.read.parquet(os.path.join(sf_small, "images.parquet")).cache()
    meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet")).cache()
    queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet")).cache()
    yield images, meta, queries
    # the session is shared module-to-module: a leaked InMemoryRelation
    # would replace parquet scans in test_plans' pushdown/pruning guards
    for df in (images, meta, queries):
        df.unpersist()


@pytest.fixture(scope="module")
def meta_pd(tables):
    return tables[1].toPandas()


class TestTileAssignments:
    def test_matches_bruteforce(self, tables, meta_pd):
        """Every computed column against the grid / cells python references,
        doubles compared exactly: the SQL fragments must keep the literal
        types (a bare 2.0 is DECIMAL in Spark SQL) and the operation order
        of the references."""
        from cloudtiff_spark.operators.meta import tile_assignments

        cols_out = ("tile_col", "tile_row", "cell", "cell_res", "cell_join", "lon_c", "lat_c")
        got = {
            (r.image_id, r.level, r.tile_idx): tuple(r[c] for c in cols_out)
            for r in tile_assignments(tables[1]).collect()
        }
        want = {}
        for m in meta_pd.itertuples():
            n_lv = grid.num_levels(m.w, m.h, TILE, TILE)
            for lv in range(n_lv):
                lw, lh = grid.level_dims(m.w, m.h, lv)
                cols, rows = grid.grid_shape(lw, lh, TILE, TILE)
                for r in range(rows):
                    for c in range(cols):
                        u0, v0, u1, v1 = grid.tile_bounds_norm(lw, lh, TILE, TILE, c, r)
                        lon = m.xmin + (u0 + u1) / 2 * (m.xmax - m.xmin)
                        lat = m.ymax - (v0 + v1) / 2 * (m.ymax - m.ymin)
                        z = cells.res_for_footprint((m.xmax - m.xmin) * TILE / lw)
                        want[(m.image_id, lv, r * cols + c)] = (
                            c,
                            r,
                            cells.cell_id(lon, lat, z),
                            z,
                            cells.cell_id(lon, lat, cells.Z_JOIN),
                            lon,
                            lat,
                        )
        assert got.keys() == want.keys()
        for key, row in want.items():
            assert got[key] == row, key


def _brute_pip(meta_pd, queries_pd):
    out = set()
    for q in queries_pd[queries_pd.kind == "pip"].itertuples():
        vx, vy = np.asarray(q.poly_x), np.asarray(q.poly_y)
        for m in meta_pd.itertuples():
            n_lv = grid.num_levels(m.w, m.h, TILE, TILE)
            for lv in range(n_lv):
                lw, lh = grid.level_dims(m.w, m.h, lv)
                cols, rows = grid.grid_shape(lw, lh, TILE, TILE)
                for r in range(rows):
                    for c in range(cols):
                        u0, v0, u1, v1 = grid.tile_bounds_norm(lw, lh, TILE, TILE, c, r)
                        px = m.xmin + (u0 + u1) / 2 * (m.xmax - m.xmin)
                        py = m.ymax - (v0 + v1) / 2 * (m.ymax - m.ymin)
                        x1, y1 = vx, vy
                        x2, y2 = np.roll(vx, -1), np.roll(vy, -1)
                        straddle = (y1 > py) != (y2 > py)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                        if int(np.sum(straddle & (px < xint))) % 2 == 1:
                            out.add((q.query_id, m.image_id, lv, r * cols + c))
    return out


class TestPipJoin:
    def test_matches_bruteforce(self, tables, meta_pd):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        _, meta, queries = tables
        got = {
            (r.query_id, r.image_id, r.level, r.tile_idx)
            for r in pip_join(tile_assignments(meta), queries).collect()
        }
        want = _brute_pip(meta_pd, queries.toPandas())
        assert got == want

    def test_salted_equals_unsalted(self, tables):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        _, meta, queries = tables
        ta = tile_assignments(meta)
        a = {tuple(r) for r in pip_join(ta, queries, salt=0).collect()}
        b = {tuple(r) for r in pip_join(ta, queries, salt=8).collect()}
        assert a == b and len(a) > 0

    def test_refine_variants_agree(self, tables):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        _, meta, queries = tables
        ta = tile_assignments(meta)
        evenodd = {tuple(r) for r in pip_join(ta, queries).collect()}
        nonzero = {tuple(r) for r in pip_join(ta, queries, refine="winding").collect()}
        # winding (nonzero) == crossing (even-odd) on simple polygons
        assert evenodd == nonzero and len(evenodd) > 0

    def test_winding_differs_on_self_intersection(self, spark):
        """On a self-intersecting pentagram the nonzero and even-odd rules
        disagree in the overlap pentagon (its center has winding number 2)
        — pin the semantic difference through pip_join itself."""
        from cloudtiff_spark.cells import Z_JOIN, cell_id_expr
        from cloudtiff_spark.operators.spatial import pip_join

        # one tile whose center sits at (0, 0), the pentagram's center
        tile = spark.createDataFrame(
            [("img", 0, 0, "c", 0.0, 0.0)],
            "image_id string, level int, tile_idx int, caption string, "
            "lon_c double, lat_c double",
        ).withColumn("cell_join", F.expr(cell_id_expr("lon_c", "lat_c", Z_JOIN)))
        ang = np.pi / 2 + np.arange(5) * (4 * np.pi / 5)  # skip-2 vertex order
        star = spark.createDataFrame(
            [("pip", "q", [float(v) for v in np.cos(ang)], [float(v) for v in np.sin(ang)])],
            "kind string, query_id string, poly_x array<double>, poly_y array<double>",
        )
        evenodd = pip_join(tile, star, salt=0).collect()
        nonzero = pip_join(tile, star, salt=0, refine="winding").collect()
        assert evenodd == []
        assert [(r.query_id, r.image_id) for r in nonzero] == [("q", "img")]

    def test_unknown_refine_raises(self, tables):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        _, meta, queries = tables
        ta = tile_assignments(meta)
        for bad in ("native", "arrow", "bogus"):
            with pytest.raises(ValueError, match="'arrow_bcast' or 'winding'"):
                pip_join(ta, queries, refine=bad)


def _brute_knn(meta_pd, qpd) -> set:
    want = set()
    ilon = (meta_pd.xmin + meta_pd.xmax) / 2
    ilat = (meta_pd.ymin + meta_pd.ymax) / 2
    for q in qpd[qpd.kind == "knn"].itertuples():
        d = (ilon - q.px) ** 2 + (ilat - q.py) ** 2
        order = sorted(zip(d, meta_pd.image_id))
        for rank, (_, iid) in enumerate(order[: int(q.k)], start=1):
            want.add((q.query_id, rank, iid))
    return want


class TestKnn:
    def test_matches_bruteforce(self, tables, meta_pd):
        from cloudtiff_spark.operators.knn import knn

        _, meta, queries = tables
        got = {(r.query_id, r.rank, r.image_id) for r in knn(meta, queries).collect()}
        assert got == _brute_knn(meta_pd, queries.toPandas())

    def test_k_above_image_count_ranks_every_image(self, spark, tables, meta_pd):
        """A query that can never hold k candidates stays active until the
        whole world is scanned, then returns every image, ranked — beside
        fixture queries that settle in the first rounds."""
        from cloudtiff_spark.operators.knn import knn

        _, meta, queries = tables
        big = spark.createDataFrame(
            [("q_all", "knn", 12.5, 41.0, len(meta_pd) + 5)],
            "query_id string, kind string, px double, py double, k int",
        )
        qs = queries.select("query_id", "kind", "px", "py", "k").unionByName(big)
        got = {(r.query_id, r.rank, r.image_id) for r in knn(meta, qs).collect()}
        assert got == _brute_knn(meta_pd, qs.toPandas())
        assert sum(1 for g in got if g[0] == "q_all") == len(meta_pd)

    def test_duplicated_meta_row_counts_once(self, spark):
        """A meta row listed twice is one candidate: the query must not
        settle on the copy and return fewer than k images. Image A sits
        twice on the query point, B 30 degrees north, and a 2,000-point
        cluster far away sizes the first ring to miss B."""
        from cloudtiff_spark.operators.knn import knn

        rng = np.random.default_rng(5)
        far = [
            (f"c{i:04d}", x - 0.01, y - 0.01, x + 0.01, y + 0.01)
            for i, (x, y) in enumerate(rng.normal((100.0, 50.0), 1.0, (2000, 2)).tolist())
        ]
        meta = spark.createDataFrame(
            [("A", -0.1, -0.1, 0.1, 0.1)] * 2 + [("B", -0.1, 29.9, 0.1, 30.1)] + far,
            "image_id string, xmin double, ymin double, xmax double, ymax double",
        )
        queries = spark.createDataFrame(
            [("q0", "knn", 0.0, 0.0, 2)],
            "query_id string, kind string, px double, py double, k int",
        )
        got = sorted((r.rank, r.image_id) for r in knn(meta, queries).collect())
        assert got == [(1, "A"), (2, "B")]


class TestTiling:
    def test_level0_tiles_bit_exact(self, tables):
        from cloudtiff_spark.codecs import decode_image
        from cloudtiff_spark.operators.tiling import build_tiles, cut_tiles

        images, _, _ = tables
        sample = images.filter(F.col("image_id").isin("img_000000000002", "img_000000000003"))
        tiles = build_tiles(sample).filter(F.col("level") == 0).collect()
        src = {r["image_id"]: r for r in sample.collect()}
        assert tiles
        for t in tiles:
            m = src[t.image_id]
            arr = decode_image(m["bytes"], m["fmt"], m["w"], m["h"])
            expect = dict((i, a) for i, _, _, a in cut_tiles(arr))
            got = decode_image(t.tile_bytes, t.fmt, TILE, TILE)
            assert np.array_equal(got, expect[t.tile_idx]), (t.image_id, t.tile_idx)

    def test_pyramid_dims_and_counts(self, tables):
        from cloudtiff_spark.operators.tiling import build_tiles

        images, _, _ = tables
        sample = images.filter(F.col("image_id") == "img_000000000002")  # 300x256
        rows = build_tiles(sample).groupBy("level").count().collect()
        per_level = {r["level"]: r["count"] for r in rows}
        # 300x256: l0 5x4=20, l1 150x128 -> 3x2=6, l2 75x64 -> 2x1=2, l3 37x32 -> 1
        assert per_level == {0: 20, 1: 6, 2: 2, 3: 1}

    def test_jpeg_tiles_meet_psnr(self, tables):
        from cloudtiff_spark.codecs import decode_image, psnr
        from cloudtiff_spark.operators.tiling import build_tiles, cut_tiles

        images, _, _ = tables
        sample = images.filter(
            (F.col("fmt") == "jpeg") & (F.col("image_id") == "img_000000000000")
        )
        tiles = build_tiles(sample).filter(F.col("level") == 0).collect()
        m = sample.first()
        arr = decode_image(m["bytes"], m["fmt"], m["w"], m["h"])  # already lossy once
        expect = dict((i, a) for i, _, _, a in cut_tiles(arr))
        for t in tiles:
            got = decode_image(t.tile_bytes, "jpeg", TILE, TILE)
            assert psnr(expect[t.tile_idx], got) >= 40.0  # BASELINE lossy gate


class TestRender:
    def test_crop_render_psnr_vs_oracle(self, tables):
        from cloudtiff_spark.codecs import decode_image, psnr
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, _ = tables
        sample_ids = ["img_000000000002", "img_000000000005"]
        images_s = images.filter(F.col("image_id").isin(sample_ids))
        meta_s = meta.filter(F.col("image_id").isin(sample_ids))
        tiles = build_tiles(images_s)
        from cloudtiff_spark.operators.render import crop_render

        crop = (0.1, 0.2, 0.9, 0.8)
        out = {r.image_id: r for r in crop_render(levels_df(meta_s), tiles, crop, 0.01).collect()}
        src = {r["image_id"]: r for r in images_s.collect()}
        assert set(out) == set(sample_ids)
        for iid, r in out.items():
            m = src[iid]
            full = decode_image(m["bytes"], m["fmt"], m["w"], m["h"])
            lw, lh = grid.level_dims(m["w"], m["h"], r.level)
            got = np.frombuffer(r.raster, np.uint8).reshape(r.out_h, r.out_w, 3)
            # oracle: same nearest sampling straight from the source level
            from cloudtiff_spark.operators.tiling import resample_nearest

            lvl_img = full if r.level == 0 else None
            cur = full
            for lv in range(1, r.level + 1):
                lw2, lh2 = grid.level_dims(m["w"], m["h"], lv)
                cur = resample_nearest(cur, lw2, lh2)
            lvl_img = cur
            us = crop[0] + (np.arange(r.out_w) + 0.5) / r.out_w * (crop[2] - crop[0])
            vs = crop[1] + (np.arange(r.out_h) + 0.5) / r.out_h * (crop[3] - crop[1])
            px = np.clip(np.floor(us * lw).astype(int), 0, lw - 1)
            py = np.clip(np.floor(vs * lh).astype(int), 0, lh - 1)
            want = lvl_img[py][:, px]
            if m["fmt"] == "jpeg":  # double-lossy path
                assert psnr(want, got) >= 40.0
            else:
                assert np.array_equal(want, got)

    def test_region_render_runs(self, tables):
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        tiles = build_tiles(images)
        out = region_render(levels_df(meta), tiles, queries).collect()
        assert len(out) > 0
        for r in out[:5]:
            assert len(r.raster) == r.out_w * r.out_h * 3

    def test_region_render_lambert93_image(self, spark):
        """Positive counterpart of the crs_reject sweep: an image
        geo-referenced in a registry conic CRS (Lambert-93) renders through
        the full distributed path, and every non-zero output pixel matches
        a local numpy recompute of the same exact-CRS gather."""
        from cloudtiff_spark.codecs import encode_image
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles
        from cloudtiff_spark.projection import (
            bounds_lat_lon,
            image_coords_from_crs,
            transform_coords,
        )

        w = h = 96
        rng = np.random.default_rng(123)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        # anchor near Paris; 100 m pixels
        ox, oy, sp = 652000.0, 6862500.0, 100.0
        xmin, ymin, xmax, ymax = bounds_lat_lon(2154, ox, oy, sp * w, sp * h)
        images = spark.createDataFrame(
            [("L93", bytearray(encode_image(img, "deflate_raw")), w, h, "deflate_raw")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        meta = spark.createDataFrame(
            [("L93", w, h, "deflate_raw", "", 0, 2154, ox, oy, sp,
              xmin, ymin, xmax, ymax, 64, 64)],
            "image_id string, w int, h int, fmt string, caption string, phash long, "
            "epsg int, origin_x double, origin_y double, scale_px double, "
            "xmin double, ymin double, xmax double, ymax double, tile_w int, tile_h int",
        )
        rx0, ry0 = xmin + (xmax - xmin) * 0.2, ymin + (ymax - ymin) * 0.2
        rx1, ry1 = xmin + (xmax - xmin) * 0.8, ymin + (ymax - ymin) * 0.8
        queries = spark.createDataFrame(
            [("q0", "region", [0.0], [0.0], 0.0, 0.0, 0, rx0, ry0, rx1, ry1, 0.005, 0, 0, 0)],
            "query_id string, kind string, poly_x array<double>, poly_y array<double>, "
            "px double, py double, k int, rxmin double, rymin double, rxmax double, "
            "rymax double, mp_limit double, qz int, qx int, qy int",
        )
        out = region_render(levels_df(meta), build_tiles(images), queries).collect()
        assert len(out) == 1
        r = out[0]
        got = np.frombuffer(r.raster, np.uint8).reshape(r.out_h, r.out_w, 3)
        # local recompute: identical per-pixel exact-CRS inverse gather
        lon = rx0 + (np.arange(r.out_w) + 0.5) / r.out_w * (rx1 - rx0)
        lat = ry1 - (np.arange(r.out_h) + 0.5) / r.out_h * (ry1 - ry0)
        LON, LAT = np.meshgrid(lon, lat)
        X, Y = transform_coords(LON.ravel(), LAT.ravel(), 4326, 2154)
        lw, lh = grid.level_dims(w, h, r.level)
        U, V = image_coords_from_crs(X, Y, ox, oy, sp * w, sp * h)
        px = np.floor(U * lw).astype(np.int64).reshape(r.out_h, r.out_w)
        py = np.floor(V * lh).astype(np.int64).reshape(r.out_h, r.out_w)
        ok = (px >= 0) & (px < lw) & (py >= 0) & (py < lh)
        assert r.level == 0  # 96x96 at mp 0.005 picks full res
        want = np.zeros_like(got)
        want[ok] = img[np.clip(py, 0, lh - 1), np.clip(px, 0, lw - 1)][ok]
        assert ok.sum() > 0.5 * ok.size  # the region mostly covers the image
        assert np.array_equal(got, want)

    def test_region_render_osgb_datum_shift_image(self, spark):
        """An OSGB36 / British National Grid (27700) image — a CRS whose
        path runs the 7-parameter Helmert datum shift — renders through the
        full distributed path, and every output pixel matches a local numpy
        recompute of the same exact-CRS + datum-shift gather."""
        from cloudtiff_spark.codecs import encode_image
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles
        from cloudtiff_spark.projection import (
            bounds_lat_lon,
            image_coords_from_crs,
            transform_coords,
        )

        w = h = 96
        rng = np.random.default_rng(271)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        # anchor near London; 100 m pixels
        ox, oy, sp = 528000.0, 184000.0, 100.0
        xmin, ymin, xmax, ymax = bounds_lat_lon(27700, ox, oy, sp * w, sp * h)
        images = spark.createDataFrame(
            [("BNG", bytearray(encode_image(img, "deflate_raw")), w, h, "deflate_raw")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        meta = spark.createDataFrame(
            [("BNG", w, h, "deflate_raw", "", 0, 27700, ox, oy, sp,
              xmin, ymin, xmax, ymax, 64, 64)],
            "image_id string, w int, h int, fmt string, caption string, phash long, "
            "epsg int, origin_x double, origin_y double, scale_px double, "
            "xmin double, ymin double, xmax double, ymax double, tile_w int, tile_h int",
        )
        rx0, ry0 = xmin + (xmax - xmin) * 0.2, ymin + (ymax - ymin) * 0.2
        rx1, ry1 = xmin + (xmax - xmin) * 0.8, ymin + (ymax - ymin) * 0.8
        queries = spark.createDataFrame(
            [("q0", "region", [0.0], [0.0], 0.0, 0.0, 0, rx0, ry0, rx1, ry1, 0.005, 0, 0, 0)],
            "query_id string, kind string, poly_x array<double>, poly_y array<double>, "
            "px double, py double, k int, rxmin double, rymin double, rxmax double, "
            "rymax double, mp_limit double, qz int, qx int, qy int",
        )
        out = region_render(levels_df(meta), build_tiles(images), queries).collect()
        assert len(out) == 1
        r = out[0]
        got = np.frombuffer(r.raster, np.uint8).reshape(r.out_h, r.out_w, 3)
        lon = rx0 + (np.arange(r.out_w) + 0.5) / r.out_w * (rx1 - rx0)
        lat = ry1 - (np.arange(r.out_h) + 0.5) / r.out_h * (ry1 - ry0)
        LON, LAT = np.meshgrid(lon, lat)
        X, Y = transform_coords(LON.ravel(), LAT.ravel(), 4326, 27700)
        lw, lh = grid.level_dims(w, h, r.level)
        U, V = image_coords_from_crs(X, Y, ox, oy, sp * w, sp * h)
        px = np.floor(U * lw).astype(np.int64).reshape(r.out_h, r.out_w)
        py = np.floor(V * lh).astype(np.int64).reshape(r.out_h, r.out_w)
        ok = (px >= 0) & (px < lw) & (py >= 0) & (py < lh)
        assert r.level == 0
        want = np.zeros_like(got)
        want[ok] = img[np.clip(py, 0, lh - 1), np.clip(px, 0, lw - 1)][ok]
        assert ok.sum() > 0.5 * ok.size
        assert np.array_equal(got, want)

    def test_wmts_render_matches_expected_recompute(self, spark):
        """q_wmts_render vs the sequential expected_wmts recompute: row
        set, fixed 256x256 dims, LOD picks, and raster hashes all match.
        Runs at sf0.01 — the graded scale — because no wmts query tile
        overlaps a 10%-subset image at sf0.001 (the compare would be
        vacuous there)."""
        import __spark_entry__ as E
        from cloudtiff_spark.fixtures import ensure_fixtures
        from cloudtiff_spark.oracle_expected import ensure_expected

        sf = "/root/testdata/sf0.01"
        fdir = ensure_fixtures("sf0.01")
        ensure_expected(sf, fdir)
        import pyarrow.parquet as pq_

        exp = {
            (r["query_id"], r["image_id"]): (r["level"], r["out_w"], r["out_h"], r["raster_hash"])
            for r in pq_.read_table(
                os.path.join(fdir, "expected_wmts.parquet")
            ).to_pylist()
        }
        got = {
            (r.query_id, r.image_id): (r.level, r.out_w, r.out_h, r.raster_hash)
            for r in E.q_wmts_render(spark, sf).collect()
        }
        assert got == exp and len(got) > 0
        assert all(v[1] == 256 and v[2] == 256 for v in got.values())

    def test_crop_render_raster_matches_expected_recompute(self, spark):
        """crop_render's raster bytes vs the sequential
        oracle_expected._expected_crop_row recompute for every image of the
        sf0.01 10% subset (jpeg and deflate_raw tiles, both exact). The
        graded compare reads only mean_px, so this is the byte-exact guard
        on the crop gather."""
        import pyarrow.parquet as pq_

        from cloudtiff_spark.fixtures import ensure_fixtures
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import crop_render
        from cloudtiff_spark.operators.tiling import build_tiles
        from cloudtiff_spark.oracle_expected import _CROP, _CROP_MP, _expected_crop_row

        fdir = ensure_fixtures("sf0.01")
        images = spark.read.parquet(os.path.join(fdir, "images.parquet"))
        meta = spark.read.parquet(os.path.join(fdir, "images_meta.parquet"))
        sub = images.filter(F.col("image_id").endswith("0"))
        lv = levels_df(meta.join(sub.select("image_id"), "image_id", "left_semi"))
        got = {
            r.image_id: (r.level, r.out_w, r.out_h, bytes(r.raster))
            for r in crop_render(lv, build_tiles(sub), _CROP, _CROP_MP).collect()
        }
        want, fmts = {}, set()
        for row in pq_.read_table(os.path.join(fdir, "images.parquet")).to_pylist():
            if row["image_id"].endswith("0"):
                e = _expected_crop_row(row, _CROP, _CROP_MP)
                want[e["image_id"]] = (e["level"], e["out_w"], e["out_h"], e["raster"])
                fmts.add(row["fmt"])
        assert fmts == {"jpeg", "deflate_raw"}
        assert len(got) > 0 and got == want

    def test_region_render_ntf_paris_lambert_image(self, spark):
        """An NTF (Paris) / Lambert zone II (27572) image — the round-6
        registry addition: LCC 1SP on Clarke 1880 (IGN) with the PARIS
        prime meridian and the 3-parameter NTF->WGS84 shift — renders
        through the full distributed path pixel-identically to the local
        numpy recompute (same oracle shape as the OSGB test above)."""
        from cloudtiff_spark.codecs import encode_image
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles
        from cloudtiff_spark.projection import (
            bounds_lat_lon,
            image_coords_from_crs,
            transform_coords,
        )

        w = h = 96
        rng = np.random.default_rng(572)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        # anchor near Paris (Lambert II etendu grid); 100 m pixels
        ox, oy, sp = 595000.0, 2432000.0, 100.0
        xmin, ymin, xmax, ymax = bounds_lat_lon(27572, ox, oy, sp * w, sp * h)
        images = spark.createDataFrame(
            [("NTF", bytearray(encode_image(img, "deflate_raw")), w, h, "deflate_raw")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        meta = spark.createDataFrame(
            [("NTF", w, h, "deflate_raw", "", 0, 27572, ox, oy, sp,
              xmin, ymin, xmax, ymax, 64, 64)],
            "image_id string, w int, h int, fmt string, caption string, phash long, "
            "epsg int, origin_x double, origin_y double, scale_px double, "
            "xmin double, ymin double, xmax double, ymax double, tile_w int, tile_h int",
        )
        rx0, ry0 = xmin + (xmax - xmin) * 0.2, ymin + (ymax - ymin) * 0.2
        rx1, ry1 = xmin + (xmax - xmin) * 0.8, ymin + (ymax - ymin) * 0.8
        queries = spark.createDataFrame(
            [("q0", "region", [0.0], [0.0], 0.0, 0.0, 0, rx0, ry0, rx1, ry1, 0.005, 0, 0, 0)],
            "query_id string, kind string, poly_x array<double>, poly_y array<double>, "
            "px double, py double, k int, rxmin double, rymin double, rxmax double, "
            "rymax double, mp_limit double, qz int, qx int, qy int",
        )
        out = region_render(levels_df(meta), build_tiles(images), queries).collect()
        assert len(out) == 1
        r = out[0]
        got = np.frombuffer(r.raster, np.uint8).reshape(r.out_h, r.out_w, 3)
        lon = rx0 + (np.arange(r.out_w) + 0.5) / r.out_w * (rx1 - rx0)
        lat = ry1 - (np.arange(r.out_h) + 0.5) / r.out_h * (ry1 - ry0)
        LON, LAT = np.meshgrid(lon, lat)
        X, Y = transform_coords(LON.ravel(), LAT.ravel(), 4326, 27572)
        lw, lh = grid.level_dims(w, h, r.level)
        U, V = image_coords_from_crs(X, Y, ox, oy, sp * w, sp * h)
        px = np.floor(U * lw).astype(np.int64).reshape(r.out_h, r.out_w)
        py = np.floor(V * lh).astype(np.int64).reshape(r.out_h, r.out_w)
        ok = (px >= 0) & (px < lw) & (py >= 0) & (py < lh)
        assert r.level == 0
        want = np.zeros_like(got)
        want[ok] = img[np.clip(py, 0, lh - 1), np.clip(px, 0, lw - 1)][ok]
        assert ok.sum() > 0.5 * ok.size
        assert np.array_equal(got, want)

    def test_region_render_unsupported_crs_is_typed(self, tables):
        """crs_reject sweep (VERDICT r3 action #4): an image whose metadata
        carries an EPSG outside the supported families must surface the
        typed UnsupportedCrs message through the distributed render path,
        not silently-wrong pixels."""
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        bad_meta = meta.withColumn("epsg", F.lit(31466))
        tiles = build_tiles(images)
        with pytest.raises(Exception, match="unsupported CRS 31466"):
            region_render(levels_df(bad_meta), tiles, queries).collect()


class TestDecodeCheck:
    def test_all_images_verify(self, tables):
        from cloudtiff_spark.operators.decode import decode_check

        bad = decode_check(tables[0]).filter(~F.col("phash_ok")).count()
        assert bad == 0


class TestLineage:
    def test_resume_is_idempotent(self, spark, tables, tmp_path):
        from cloudtiff_spark.lineage import checkpointed_pip_run

        _, meta, queries = tables
        out1 = str(tmp_path / "straight")
        checkpointed_pip_run(
            spark, meta, queries, out1, str(tmp_path / "m1"), "run1", n_partitions=4
        )
        straight = {tuple(r) for r in spark.read.parquet(out1 + "/part=*").collect()}

        out2 = str(tmp_path / "resumed")
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpointed_pip_run(
                spark, meta, queries, out2, str(tmp_path / "m2"), "run2",
                n_partitions=4, fail_after=2,
            )
        man = checkpointed_pip_run(
            spark, meta, queries, out2, str(tmp_path / "m2"), "run2", n_partitions=4
        )
        resumed = {tuple(r) for r in spark.read.parquet(out2 + "/part=*").collect()}
        assert resumed == straight and len(straight) > 0
        # lineage counters: all 4 partitions done, counts monotone & complete
        mpd = man.read(spark).toPandas()
        assert set(mpd[mpd.status == "done"].partition_id) == {0, 1, 2, 3}
        assert int(mpd.rows_in.sum()) == meta.count()


class TestQuarantine:
    """Row-grain decode-failure quarantine (SURVEY §2.3): the reference
    silently filter_map-drops bad tiles (render/tiles.rs:33-56); the engine
    routes them to a queryable table via an anti join."""

    def _corrupted(self, images):
        return images.withColumn(
            "bytes",
            F.when(
                F.col("image_id").endswith("3"),
                F.expr("substring(bytes, 1, greatest(1, cast(length(bytes) / 2 as int)))"),
            ).otherwise(F.col("bytes")),
        )

    def test_clean_table_quarantines_nothing(self, tables):
        from cloudtiff_spark.operators.decode import quarantine

        assert quarantine(tables[0]).count() == 0

    def test_corrupt_rows_quarantined_exactly(self, tables):
        from cloudtiff_spark.operators.decode import quarantine

        images = tables[0]
        out = quarantine(self._corrupted(images)).collect()
        got = {r.image_id for r in out}
        want = {r.image_id for r in images.select("image_id").collect() if r.image_id.endswith("3")}
        assert got == want and len(want) > 0
        assert all(r.err_kind in ("decode_error", "phash_mismatch") for r in out)

    def test_checkpointed_run_routes_quarantine_to_lineage(self, spark, tables, tmp_path):
        from cloudtiff_spark.lineage import checkpointed_pip_run

        images, meta, queries = tables
        corrupted = self._corrupted(images)
        out = str(tmp_path / "out")
        man = checkpointed_pip_run(
            spark, meta, queries, out, str(tmp_path / "m"), "runq",
            n_partitions=4, images=corrupted,
        )
        mpd = man.read(spark).toPandas()
        n_bad = sum(
            1 for r in images.select("image_id").collect() if r.image_id.endswith("3")
        )
        assert int(mpd.quarantined.sum()) == n_bad
        quar = spark.read.parquet(out + "/quarantine/part=*")
        assert quar.count() == n_bad
        # a corrupt payload never kills the run: all slices completed
        assert set(mpd[mpd.status == "done"].partition_id) == {0, 1, 2, 3}


class TestDecodeOnceRender:
    def test_decode_once_is_byte_identical(self, spark, tables):
        """region_render(decode_once=True) — the decode-dedup scale path —
        must produce byte-identical rasters to the default plan."""
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        tiles = build_tiles(images)
        lv = levels_df(meta)
        key = lambda r: (r.query_id, r.image_id)
        a = {key(r): bytes(r.raster) for r in region_render(lv, tiles, queries).collect()}
        b = {
            key(r): bytes(r.raster)
            for r in region_render(lv, tiles, queries, decode_once=True).collect()
        }
        assert a == b and len(a) > 0


class TestBlockedRender:
    def test_blocked_is_byte_identical(self, tables):
        """region_render_blocked — the gigapixel-render scale path (one
        task per output block instead of one per render) — must produce
        byte-identical rasters and the identical row set, across both the
        separable 4326 and the exact-CRS projected branches. block=64
        forces real multi-block fan-out at fixture output sizes."""
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render, region_render_blocked
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        tiles = build_tiles(images)
        lv = levels_df(meta)
        key = lambda r: (r.query_id, r.image_id)
        a = {
            key(r): (r.level, r.out_w, r.out_h, bytes(r.raster))
            for r in region_render(lv, tiles, queries).collect()
        }
        b = {
            key(r): (r.level, r.out_w, r.out_h, bytes(r.raster))
            for r in region_render_blocked(lv, tiles, queries, block=64).collect()
        }
        assert a == b and len(a) > 0

    def test_blocked_identical_for_helmert_crs_image(self, spark):
        """Byte-identity must hold through the DATUM-SHIFT branch too: the
        geodetic solve iterates a FIXED count precisely so a block slice
        computes bit-identical coords to the whole grid (a batch-global
        convergence break made the result depend on batch mates — review
        r5 pass 2 #1)."""
        from cloudtiff_spark.codecs import encode_image
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render, region_render_blocked
        from cloudtiff_spark.operators.tiling import build_tiles
        from cloudtiff_spark.projection import bounds_lat_lon

        w = h = 96
        rng = np.random.default_rng(277)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        ox, oy, sp = 528000.0, 184000.0, 100.0  # London, OSGB36 grid
        xmin, ymin, xmax, ymax = bounds_lat_lon(27700, ox, oy, sp * w, sp * h)
        images = spark.createDataFrame(
            [("BNG", bytearray(encode_image(img, "deflate_raw")), w, h, "deflate_raw")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        meta = spark.createDataFrame(
            [("BNG", w, h, "deflate_raw", "", 0, 27700, ox, oy, sp,
              xmin, ymin, xmax, ymax, 64, 64)],
            "image_id string, w int, h int, fmt string, caption string, phash long, "
            "epsg int, origin_x double, origin_y double, scale_px double, "
            "xmin double, ymin double, xmax double, ymax double, tile_w int, tile_h int",
        )
        rx0, ry0 = xmin + (xmax - xmin) * 0.15, ymin + (ymax - ymin) * 0.15
        rx1, ry1 = xmin + (xmax - xmin) * 0.85, ymin + (ymax - ymin) * 0.85
        queries = spark.createDataFrame(
            [("q0", "region", [0.0], [0.0], 0.0, 0.0, 0, rx0, ry0, rx1, ry1, 0.02, 0, 0, 0)],
            "query_id string, kind string, poly_x array<double>, poly_y array<double>, "
            "px double, py double, k int, rxmin double, rymin double, rxmax double, "
            "rymax double, mp_limit double, qz int, qx int, qy int",
        )
        tiles = build_tiles(images)
        lv = levels_df(meta)
        a = {
            (r.query_id, r.image_id): bytes(r.raster)
            for r in region_render(lv, tiles, queries).collect()
        }
        b = {
            (r.query_id, r.image_id): bytes(r.raster)
            for r in region_render_blocked(lv, tiles, queries, block=48).collect()
        }
        assert a == b and len(a) == 1

    def test_invalid_block_size_rejected(self, tables):
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render_blocked
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        for bad in (0, -5):
            with pytest.raises(ValueError, match="block size"):
                region_render_blocked(levels_df(meta), build_tiles(images), queries, block=bad)

    def test_block_grain_covers_output_exactly(self, tables):
        """emit_blocks=True: the WMTS-shaped grain — blocks tile the output
        raster exactly once and concatenate back to the whole-render
        bytes."""
        import numpy as np

        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render, region_render_blocked
        from cloudtiff_spark.operators.tiling import build_tiles

        images, meta, queries = tables
        tiles = build_tiles(images)
        lv = levels_df(meta)
        whole = {
            (r.query_id, r.image_id): (r.out_w, r.out_h, bytes(r.raster))
            for r in region_render(lv, tiles, queries).collect()
        }
        blocks: dict = {}
        for r in region_render_blocked(lv, tiles, queries, block=64, emit_blocks=True).collect():
            blocks.setdefault((r.query_id, r.image_id), []).append(r)
        assert set(blocks) == set(whole)
        for k, rows in blocks.items():
            out_w, out_h, want = whole[k]
            canvas = np.zeros((out_h, out_w, 3), dtype=np.uint8)
            seen = np.zeros((out_h, out_w), dtype=np.int32)
            for r in rows:
                arr = np.frombuffer(r.raster, dtype=np.uint8).reshape(r.block_h, r.block_w, 3)
                canvas[r.row0 : r.row0 + r.block_h, r.col0 : r.col0 + r.block_w] = arr
                seen[r.row0 : r.row0 + r.block_h, r.col0 : r.col0 + r.block_w] += 1
            assert (seen == 1).all(), k  # exact partition, no gaps/overlap
            assert canvas.tobytes() == want, k


class TestEmbedNearDup:
    def test_lsh_equals_exact_on_fixture(self, spark):
        """The LSH scale path must find every exact pair on the frozen
        sf0.001-scale table (recall 1.0 for the default params) — the
        property that makes the exact recompute a valid oracle."""
        from cloudtiff_spark.operators.dedup import embed_near_dup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {
            (r.id_a, r.id_b): round(r.cos, 9)
            for r in embed_near_dup(emb, tau=0.3, mode="exact").collect()
        }
        lsh = {
            (r.id_a, r.id_b): round(r.cos, 9)
            for r in embed_near_dup(emb, tau=0.3, n_planes=2, n_tables=32).collect()
        }
        assert lsh == exact and len(exact) > 0

    def test_empty_table_yields_empty_pairs(self, spark):
        """An empty embeddings table must return an empty (id_a, id_b, cos)
        frame, not crash auto-sizing on len(None) (the F.first of an empty
        agg is null)."""
        from pyspark.sql import types as T

        from cloudtiff_spark.operators.dedup import embed_near_dup

        empty = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("vec_id", T.LongType()),
                    T.StructField("embedding", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        for kwargs in ({}, {"n_planes": 2, "n_tables": 4}):
            out = embed_near_dup(empty, tau=0.3, **kwargs)
            assert out.columns == ["id_a", "id_b", "cos"]
            assert out.count() == 0

    def test_mixed_null_embeddings_are_dropped_not_crashed(self, spark):
        """A table mixing null and real embeddings must compute pairs over
        the non-null rows (null rows can never pair) — not crash np.stack
        in the signature UDF (review r5 pass 2 #2)."""
        from pyspark.sql import Row

        from cloudtiff_spark.operators.dedup import embed_near_dup

        base = [Row(vec_id=1, embedding=None), Row(vec_id=2, embedding=[1.0, 0.0, 0.0])]
        near = [Row(vec_id=3, embedding=[0.99, 0.14, 0.0]), Row(vec_id=4, embedding=None)]
        emb = spark.createDataFrame(
            base + near, "vec_id long, embedding array<double>"
        )
        for kwargs in ({"mode": "exact"}, {"n_planes": 2, "n_tables": 32}, {}):
            pairs = {(r.id_a, r.id_b) for r in embed_near_dup(emb, tau=0.9, **kwargs).collect()}
            assert pairs == {(2, 3)}, kwargs

    def test_pairs_are_ordered_and_thresholded(self, spark):
        from cloudtiff_spark.operators.dedup import embed_near_dup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = embed_near_dup(emb, tau=0.5, mode="exact").collect()
        for r in rows:
            assert r.id_a < r.id_b and r.cos >= 0.5

    def test_auto_planes_scales_with_corpus(self):
        """planes = max(2, ceil(log2(n/target))) — the bucket self-join
        quadratic must shrink as the corpus grows (verdict r3 #2)."""
        from cloudtiff_spark.operators.dedup import auto_planes

        assert auto_planes(100) == 2
        assert auto_planes(500) == 2
        assert auto_planes(5_000) == 3
        assert auto_planes(1_000_000) == 10
        assert auto_planes(1_000_000_000) == 20
        assert auto_planes(1_000_000, target_bucket_rows=256) == 12

    def test_auto_tables_recall_formula(self):
        """T = ceil(ln(miss)/ln(1-p^planes)) clamped to [4,64]; the
        fixture-tuned (tau=0.3, planes=2) setting falls out as 32."""
        from cloudtiff_spark.operators.dedup import auto_tables

        assert auto_tables(0.3, 2) == 32
        assert auto_tables(0.3, 3) == 58  # more planes -> more tables
        assert auto_tables(0.9, 2) == 11  # high-tau pairs collide often
        assert auto_tables(0.3, 10) == 64  # clamp: fan-out ceiling

    def test_auto_lsh_params_cosolve_protects_recall(self):
        """When the bucket rule wants more planes than the table ceiling
        can compensate (review finding r4), the solver widens buckets
        instead of silently dropping the miss target."""
        from cloudtiff_spark.operators.dedup import auto_lsh_params, auto_tables

        # small corpus: bucket rule dominates
        assert auto_lsh_params(500, 0.3) == (2, 32)
        # 10k corpus at tau=0.3: planes=4 would need 102 tables (clamped
        # to 64 = recall loss); the solver backs off to 3 planes / 58
        assert auto_lsh_params(10_000, 0.3) == (3, 58)
        # high tau: collisions are easy, the bucket rule can keep planes
        p, t = auto_lsh_params(1_000_000, 0.9)
        assert p == 10 and t == auto_tables(0.9, 10) and t < 64

    def test_bucket_population_stays_bounded(self, spark):
        """Guard: with auto planes the max bucket population per table
        stays within a small multiple of target_bucket_rows (balanced-hash
        expectation x skew allowance) — the property that keeps the bucket
        self-join from degenerating toward all-pairs."""
        import numpy as np

        from cloudtiff_spark.operators.dedup import auto_planes

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        n = emb.count()
        target = 32
        planes = auto_planes(n, target_bucket_rows=target)
        rng = np.random.default_rng(42)
        X = np.stack(
            [np.asarray(r[0], dtype=np.float64) for r in emb.select("embedding").collect()]
        )
        hyper = rng.normal(size=(8, planes, X.shape[1]))
        bits = (np.einsum("tpd,bd->btp", hyper, X) > 0).astype(np.int64)
        packed = (bits * (1 << np.arange(planes, dtype=np.int64))).sum(axis=2)
        for t in range(packed.shape[1]):
            _, counts = np.unique(packed[:, t], return_counts=True)
            assert counts.max() <= 8 * target, (t, counts.max())


class TestProgressiveJpegSparkPath:
    def test_progressive_payloads_flow_through_image_features(self, spark):
        """A web-scraped corpus is ~10% progressive JPEG: the distributed
        decode path must handle SOF2 payloads transparently (same features
        as the baseline encoding of the identical pixels), not quarantine
        them."""
        from cloudtiff_spark.jpeg import encode_jpeg, encode_jpeg_progressive
        from cloudtiff_spark.operators.features import image_features

        rng = np.random.default_rng(99)
        rows = []
        for i in range(6):
            w, h = 40 + 8 * i, 32 + 8 * i
            base = rng.integers(0, 256, (h // 8 + 1, w // 8 + 1, 3)).astype(np.float64)
            img = np.clip(np.kron(base, np.ones((8, 8, 1)))[:h, :w], 0, 255).astype(
                np.uint8
            )
            rows.append((f"base_{i}", bytearray(encode_jpeg(img, 95)), "jpeg", w, h))
            rows.append(
                (f"prog_{i}", bytearray(encode_jpeg_progressive(img, 95)), "jpeg", w, h)
            )
        df = spark.createDataFrame(
            rows, "image_id string, bytes binary, fmt string, w int, h int"
        )
        got = {r.image_id: tuple(r.mean_rgb) + (r.grad_energy,) for r in image_features(df).collect()}
        assert len(got) == 12  # nothing dropped or errored
        # same pixels + same quantization -> identical decode -> identical
        # features row-for-row between the two encodings
        for i in range(6):
            assert got[f"prog_{i}"] == got[f"base_{i}"], i


class TestSimhashPairs:
    def test_pigeonhole_matches_bruteforce(self, spark):
        """6-block/3-of-6 Manku banding must be LOSSLESS for hamming <= 3
        (a pair with <= 3 differing bits leaves >= 3 blocks untouched, so
        it agrees on >= 1 of the C(6,3)=20 3-block keys) — compare against
        the all-pairs popcount oracle on the fixture corpus."""
        from cloudtiff_spark.operators.dedup import simhash, simhash_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
        ids = sorted(sigs)
        want = {
            (a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
        }
        got = {
            (r.doc_id_a, r.doc_id_b, r.hamming)
            for r in simhash_pairs(docs, max_hamming=3).collect()
        }
        assert got == want

    def test_lean_fanout_reuses_signature_exchange(self, spark):
        """The r6 lean fan-out re-joins the 64-bit signatures by doc_id
        after pair dedup, referencing the sig frame three times — AQE's
        exchange reuse must collapse those into ONE shingle-scan +
        vote-agg (the final adaptive plan shows ReusedExchange nodes), or
        the de-amplification win would be paid back as recompute."""
        from cloudtiff_spark.operators.dedup import simhash_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = simhash_pairs(docs, max_hamming=3)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("ReusedExchange") >= 1

    def test_max_hamming_over_3_rejected(self, spark):
        from cloudtiff_spark.operators.dedup import simhash_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        with pytest.raises(ValueError, match="pigeonhole"):
            simhash_pairs(docs, max_hamming=4)

    def test_planted_hamming_pairs_lossless(self):
        """Seeded corpus of random 64-bit signatures with PLANTED hamming
        1/2/3 partners: every planted pair must share at least one of the
        20 3-block table keys (pure-python mirror of the Spark key
        expressions, same layout constants)."""
        import random

        from cloudtiff_spark.operators.dedup import (
            _SIMHASH_BLOCK_OFFSETS,
            _SIMHASH_BLOCK_SIZES,
            _SIMHASH_TRIPLES,
        )

        def keys(sim: int) -> set[tuple[int, int]]:
            blk = [
                (sim >> _SIMHASH_BLOCK_OFFSETS[i]) & ((1 << _SIMHASH_BLOCK_SIZES[i]) - 1)
                for i in range(6)
            ]
            out = set()
            for t, (i, j, k) in enumerate(_SIMHASH_TRIPLES):
                v = (
                    (blk[i] << (_SIMHASH_BLOCK_SIZES[j] + _SIMHASH_BLOCK_SIZES[k]))
                    | (blk[j] << _SIMHASH_BLOCK_SIZES[k])
                    | blk[k]
                )
                out.add((t, v))
            return out

        rng = random.Random(42)
        for _ in range(500):
            x = rng.getrandbits(64)
            for ham in (1, 2, 3):
                y = x
                for b in rng.sample(range(64), ham):
                    y ^= 1 << b
                assert keys(x) & keys(y), (hex(x), hex(y), ham)
        # and a sanity negative: 4 flips CAN escape every table
        # (not asserted per-sample — only that the scheme is not vacuous)
        assert len(keys(0)) == 20

    def test_join_key_width_scale_pin(self):
        """Scale pin: 20 tables, every join key >= 31 bits (the max-min
        achievable splitting 64 bits into 6 blocks: the 4 triples holding
        both 10-bit blocks are 31 bits, the other 16 are 32-33).  Guards
        against regressing to the quadratic 16-bit band keys."""
        from cloudtiff_spark.operators.dedup import _SIMHASH_BLOCK_SIZES, _SIMHASH_TRIPLES

        assert sum(_SIMHASH_BLOCK_SIZES) == 64
        assert len(_SIMHASH_TRIPLES) == 20
        widths = sorted(
            sum(_SIMHASH_BLOCK_SIZES[b] for b in t) for t in _SIMHASH_TRIPLES
        )
        assert widths[0] >= 31
        assert sum(1 for w in widths if w >= 32) >= 16


class TestQuantizedANN:
    """int8 scalar quantization for the embedding scan (4x less memory
    traffic per ANN pass at the 10^12-row design point) + the standard
    two-stage quantized-screen / float-rerank search."""

    def test_quantize_dequant_error_bounded(self, spark):
        from cloudtiff_spark.operators.dedup import quantize_embeddings

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = quantize_embeddings(emb).join(
            emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
        )
        for r in q.collect():
            x = np.asarray(r.embedding, dtype=np.float64)
            deq = np.frombuffer(r.qvec, dtype=np.int8).astype(np.float64) * r.scale
            # symmetric int8: per-component error <= scale/2 = max|x|/254
            assert np.abs(x - deq).max() <= r.scale / 2 + 1e-12

    def test_quantized_topk_recall_and_rerank_exact(self, spark):
        from cloudtiff_spark.operators.dedup import cosine_topk, quantized_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = [0, 7, 13]
        exact = {
            (r.query_id, r.rank): r.neighbor_id
            for r in cosine_topk(emb, probes, k=5).collect()
        }
        quant = {
            (r.query_id, r.rank): r.neighbor_id
            for r in quantized_cosine_topk(emb, probes, k=5).collect()
        }
        # pure-quantized: high set-recall (ordering may flip near ties)
        e_sets = {q: {v for (qq, _), v in exact.items() if qq == q} for q in probes}
        q_sets = {q: {v for (qq, _), v in quant.items() if qq == q} for q in probes}
        recall = sum(len(e_sets[q] & q_sets[q]) for q in probes) / sum(
            len(e_sets[q]) for q in probes
        )
        assert recall >= 0.8
        # two-stage with float rerank of the quantized top-20: exact-rank
        reranked = {
            (r.query_id, r.rank): r.neighbor_id
            for r in quantized_cosine_topk(emb, probes, k=5, rerank=20).collect()
        }
        assert reranked == exact

    def test_rerank_smaller_than_k_still_fills_k(self, spark):
        """0 < rerank < k clamps to k — the float stage can only reorder
        what the int8 screen kept, so a 2-row pool could never yield 5
        neighbors (previously silently returned short result sets)."""
        from cloudtiff_spark.operators.dedup import quantized_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = quantized_cosine_topk(emb, [0, 7], k=5, rerank=2).collect()
        per = {}
        for r in out:
            per.setdefault(r.query_id, set()).add(r.rank)
        assert per == {0: {1, 2, 3, 4, 5}, 7: {1, 2, 3, 4, 5}}

    def test_partial_screen_shrinks_window_input_and_stays_exact(self, spark):
        """The int8 screen emits per-Arrow-batch top-m only: with
        maxRecordsPerBatch forced small, (a) the rank window's input is
        bounded by n_batches*m_keep*p (far below the n*p explosion the r5
        verdict flagged), and (b) the final result is bit-identical to the
        single-batch run AND to the exact float search — per-batch top-m
        sets (ordered by the same (sim desc, id asc) key) are a superset
        of the global top-m."""
        from cloudtiff_spark.operators.dedup import (
            _quantized_screen,
            cosine_topk,
            quantize_embeddings,
            quantized_cosine_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        n = emb.count()
        probes = [0, 7, 13]
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "50")
        try:
            q = quantize_embeddings(emb)
            probes_pdf = quantize_embeddings(
                emb.filter(F.col("vec_id").isin(probes))
            ).toPandas()
            p_ids = probes_pdf["id"].to_numpy(dtype=np.int64)
            p_mat = np.stack(
                [
                    np.frombuffer(bq, dtype=np.int8).astype(np.float64) * s
                    for bq, s in zip(probes_pdf["qvec"], probes_pdf["scale"])
                ]
            )
            p_n = p_mat / np.linalg.norm(p_mat, axis=1, keepdims=True)
            m_keep = 20
            survivors = _quantized_screen(q, p_ids, p_n, m_keep).count()
            n_batches = -(-n // 50)
            assert survivors <= n_batches * m_keep * len(probes)
            assert survivors < n * len(probes)  # strictly below the old n*p shape
            multi = {
                (r.query_id, r.rank, r.neighbor_id)
                for r in quantized_cosine_topk(emb, probes, k=5, rerank=20).collect()
            }
        finally:
            spark.conf.set(key, old)
        single = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in quantized_cosine_topk(emb, probes, k=5, rerank=20).collect()
        }
        exact = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk(emb, probes, k=5).collect()
        }
        assert multi == single == exact

    def test_null_embedding_rows_are_dropped(self, spark):
        """A null embedding row must not crash the quantization np.stack
        (ADVICE r5): it is filtered up front and the search result over
        the remaining rows is unchanged."""
        from cloudtiff_spark.operators.dedup import quantized_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with_null = emb.unionByName(
            spark.createDataFrame(
                [(999999, None, 0)], schema="vec_id long, embedding array<float>, label int"
            )
        )
        clean = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in quantized_cosine_topk(emb, [0, 7], k=5, rerank=20).collect()
        }
        nulled = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in quantized_cosine_topk(with_null, [0, 7], k=5, rerank=20).collect()
        }
        assert nulled == clean

    def test_graded_setting_matches_exact(self, spark):
        """Pin the CORRECTNESS-graded configuration (k=5, rerank=50):
        its oracle is the exact cosine top-k SQL, valid only while the
        two-stage search has recall 1.0 on the frozen fixture."""
        import __spark_entry__ as E
        from cloudtiff_spark.operators.dedup import cosine_topk

        sf = "/root/testdata/sf0.001"
        exact = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk(E._emb(spark, sf), E.EMBED_PROBES, k=5).collect()
        }
        graded = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in E.q_quantized_topk(spark, sf).collect()
        }
        assert graded == exact


class TestMediaOperators:
    """Multimodal audio/video plumbing (task brief): real raw decode,
    typed stub path for compressed codecs, Arrow-batched throughout."""

    @pytest.fixture(scope="class")
    def media(self, spark):
        from cloudtiff_spark.fixtures import ensure_media_dir

        fdir = ensure_media_dir("sf0.001")
        return spark.read.parquet(fdir + "/media.parquet")

    def test_audio_pcm16_decodes_and_features_match_numpy(self, media):
        from cloudtiff_spark.operators.features import audio_features

        rows = {r.media_id: r for r in audio_features(media).collect()}
        src = {r.media_id: r for r in media.filter("kind='audio'").collect()}
        assert set(rows) == set(src)
        checked = 0
        for mid, r in rows.items():
            s = src[mid]
            if s.codec != "pcm16":
                assert r.status == "unsupported_codec"
                continue
            x = np.frombuffer(s.bytes, dtype="<i2").astype(np.float64) / 32768.0
            assert r.status == "ok"
            assert r.duration_milli == round(len(x) / s.sr * 1000)
            assert r.rms_milli == round(float(np.sqrt(np.mean(x * x))) * 1000)
            assert 0 <= r.dom_band < 8
            checked += 1
        assert checked > 5

    def test_audio_compressed_codec_stubbed_not_failed(self, media):
        from cloudtiff_spark.operators.features import audio_features

        out = audio_features(media).filter("status = 'unsupported_codec'")
        # the fixture plants opus rows: they must appear as stub rows, not
        # kill the task
        assert out.count() > 0

    def test_video_frame_sampling(self, media):
        from cloudtiff_spark.operators.features import video_frame_features

        rows = {r.media_id: r for r in video_frame_features(media, every=2).collect()}
        src = {r.media_id: r for r in media.filter("kind='video'").collect()}
        assert set(rows) == set(src)
        for mid, r in rows.items():
            s = src[mid]
            if s.codec != "rawvideo":
                assert r.status == "unsupported_codec"
                continue
            assert r.n_sampled == (s.n_frames + 1) // 2  # every 2nd frame
            assert 0 <= r.mean_luma_milli <= 255_000

    def test_every_parameter_changes_sampling(self, media):
        from cloudtiff_spark.operators.features import video_frame_features

        n1 = video_frame_features(media, every=1).agg(F.sum("n_sampled")).first()[0]
        n4 = video_frame_features(media, every=4).agg(F.sum("n_sampled")).first()[0]
        assert n1 > n4 > 0


class TestOracleExpected:
    def test_xxh64_matches_spark(self, spark):
        """The oracle-side xxHash64 recompute must agree with Spark's
        F.xxhash64 (seed 42, UTF-8) on adversarial lengths (0, <4, <8, <32,
        32, >32) and non-ASCII."""
        from cloudtiff_spark.oracle_expected import xxh64_str

        cases = [
            "", "a", "abc", "abcd", "abcdefg", "abcdefgh",
            "x" * 31, "x" * 32, "x" * 33, "x" * 100,
            "the_quick_brown fox", "über straße 中文 🌍", "gram_a gram_b",
        ]
        df = spark.createDataFrame([(c,) for c in cases], "g string")
        got = {r.g: r.h for r in df.select("g", F.xxhash64("g").alias("h")).collect()}
        for c in cases:
            assert got[c] == xxh64_str(c), repr(c)

    def test_simhash_fingerprint_expected_match_engine(self, spark):
        """The scalar-Python expected values (the DuckDB oracle tables) must
        equal the Spark operators' output on a fixture corpus."""
        from cloudtiff_spark.operators.dedup import simhash
        from cloudtiff_spark.operators.text import fingerprint
        from cloudtiff_spark.oracle_expected import expected_fingerprint, expected_simhash

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        texts = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
        want_sim = dict(expected_simhash(texts))
        got_sim = {r.doc_id: r.simhash for r in simhash(docs).collect()}
        assert got_sim == want_sim
        want_fp = dict(expected_fingerprint(texts))
        got_fp = {r.doc_id: r.fp for r in fingerprint(docs).collect()}
        assert got_fp == want_fp


class TestDedupRecall:
    def test_minhash_lsh_finds_exact_pairs(self, spark):
        from cloudtiff_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        exact = {(r.doc_id_a, r.doc_id_b) for r in jaccard_pairs(docs, tau=0.15).collect()}
        lsh = {(r.doc_id_a, r.doc_id_b) for r in minhash_lsh_pairs(docs, tau=0.15).collect()}
        assert lsh <= exact  # verification step guarantees no false positives
        if exact:
            assert len(lsh) / len(exact) >= 0.8  # banding recall at tau=0.15

    def test_jaccard_hot_shingle_cap(self, spark):
        """max_df drops corpus-hot shingles from CANDIDATE GENERATION only:
        near-dupe pairs sharing any non-hot shingle are still found with
        EXACT jaccard (the verify re-joins full shingle sets); a pair whose
        every shared shingle is hot is the documented miss. On a skewed
        corpus (one boilerplate prefix in every doc) the uncapped inverted
        index generates O(n^2) candidate rows from the hot key alone."""
        from cloudtiff_spark.operators.dedup import jaccard_pairs

        n_docs = 60
        rows = []
        for i in range(n_docs):
            # shared boilerplate prefix (hot shingles) + unique tail;
            # (2i, 2i+1) are near-dupe pairs through their NON-hot tails
            tail = f"u{i // 2}a u{i // 2}b u{i // 2}c u{i // 2}d u{i // 2}e"
            rows.append((i, f"aa bb cc dd ee {tail}"))
        # two pure-boilerplate docs: their only shared shingles are hot
        rows.append((1000, "aa bb cc dd ee"))
        rows.append((1001, "aa bb cc dd ee"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        capped = {
            (r.doc_id_a, r.doc_id_b)
            for r in jaccard_pairs(docs, tau=0.3, n=3, max_df=10).collect()
        }
        exact = {
            (r.doc_id_a, r.doc_id_b)
            for r in jaccard_pairs(docs, tau=0.3, n=3, max_df=None).collect()
        }
        dupe_pairs = {(2 * i, 2 * i + 1) for i in range(n_docs // 2)}
        assert dupe_pairs <= capped  # non-hot-sharing pairs all survive the cap
        assert (1000, 1001) in exact  # uncapped finds the boilerplate twins
        assert (1000, 1001) not in capped  # the documented miss
        # every miss involves a pure-boilerplate doc (shares ONLY hot
        # shingles); all other exact pairs survive the cap
        assert capped == {p for p in exact if p[0] < 1000 and p[1] < 1000}
        # capped jaccard values are EXACT (hot shingles count in the verify)
        cj = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in jaccard_pairs(docs, tau=0.3, n=3, max_df=10).collect()
        }
        ej = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in jaccard_pairs(docs, tau=0.3, n=3, max_df=None).collect()
        }
        for p in capped:
            assert abs(cj[p] - ej[p]) < 1e-12

    def test_ivf_cosine_recall_and_exhaustive_exactness(self, spark):
        from cloudtiff_spark.operators.dedup import cosine_topk, ivf_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = [0, 7, 13]
        exact = {(r.query_id, r.rank, r.neighbor_id) for r in cosine_topk(emb, probes, k=5).collect()}
        # exhaustive probing (n_probe == n_lists) must reproduce exact
        full = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in ivf_cosine_topk(emb, probes, k=5, n_lists=8, n_probe=8).collect()
        }
        assert full == exact
        # partial probing: meaningful recall on the structureless corpus
        part = {
            (r.query_id, r.neighbor_id)
            for r in ivf_cosine_topk(emb, probes, k=5, n_lists=8, n_probe=4).collect()
        }
        epairs = {(q, n) for q, _, n in exact}
        assert len(part & epairs) / len(epairs) >= 0.3

    def test_lsh_cosine_recall(self, spark):
        from cloudtiff_spark.operators.dedup import cosine_topk, lsh_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = [0, 7, 13]
        exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, probes, k=5).collect()}
        approx = {
            (r.query_id, r.neighbor_id) for r in lsh_cosine_topk(emb, probes, k=5).collect()
        }
        # approximate: assert meaningful overlap, not equality
        assert len(approx & exact) / len(exact) >= 0.3


class TestXxh64Binary:
    def test_xxh64_matches_spark_on_binary(self, spark):
        """The region-render expected table hashes raster BYTES; pin the
        oracle-side xxh64 against Spark's xxhash64 on binary columns."""
        import numpy as np

        from cloudtiff_spark.oracle_expected import xxh64

        rng = np.random.default_rng(71)
        blobs = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in (0, 1, 7, 31, 32, 1000)]
        df = spark.createDataFrame([(b,) for b in blobs], "b binary")
        got = [r.h for r in df.select(F.xxhash64("b").alias("h")).collect()]
        for b, h in zip(blobs, got):
            v = xxh64(b)
            assert (v - (1 << 64) if v >= (1 << 63) else v) == h, len(b)


class TestSkewSalting:
    def test_salting_splits_pathological_hot_cell(self, tables, spark):
        """Force ALL images into one Z_JOIN cell (worst-case skew) and
        assert (a) hot_cells flags it, (b) the salt key splits the cell's
        tiles ~SALT-fold (the shuffle-partition bound that prevents a
        single-straggler join at corpus scale), (c) pip_join output is
        unchanged by salting even under total skew."""
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import SALT, hot_cells, pip_join

        _, meta, queries = tables
        # collapse every image footprint into one small patch near (-120,45)
        skewed = (
            meta.withColumn("xmin", F.lit(-120.05))
            .withColumn("xmax", F.lit(-119.95))
            .withColumn("ymin", F.lit(44.95))
            .withColumn("ymax", F.lit(45.05))
        )
        ta = tile_assignments(skewed)
        hot = hot_cells(ta)
        hot_rows = hot.collect()
        assert len(hot_rows) >= 1  # the collapsed cell is flagged
        per_cell = (
            ta.groupBy("cell_join").count().orderBy(F.desc("count")).first()["count"]
        )
        per_salted = (
            ta.withColumn("_salt", F.pmod(F.col("phash"), F.lit(SALT)))
            .groupBy("cell_join", "_salt")
            .count()
            .orderBy(F.desc("count"))
            .first()["count"]
        )
        # phash is uniform PER IMAGE (all of an image's tiles share its
        # phash), so with only 100 images the max salt bucket carries the
        # binomial max deviation; assert a robust >=3x split (the ratio
        # approaches SALT as the image count grows)
        assert per_salted * 3 <= per_cell
        unsalted = {tuple(r) for r in pip_join(ta, queries, salt=0).collect()}
        salted = {tuple(r) for r in pip_join(ta, queries, salt=SALT, hot=hot).collect()}
        assert salted == unsalted


class TestSessionCacheIsolation:
    """The driver runs sf0.001 smoke then sf0.01 correctness in ONE
    session; the session caches must never cross-serve between scale
    dirs (verdict r4 #8 — assert the keying makes collisions impossible)."""

    @staticmethod
    def _entries(E, builder: str) -> list[tuple]:
        return sorted(k for k in E._SESSION_CACHE if k[0] == builder)

    def test_caches_keyed_per_sf_dir(self, spark):
        import __spark_entry__ as E

        E._clear_session_caches()
        a = E._shared_decoded(spark, "/root/testdata/sf0.001")
        b = E._shared_decoded(spark, "/root/testdata/sf0.01")
        # both entries coexist under distinct keys...
        keys = self._entries(E, "_shared_decoded")
        assert len(keys) == 2
        assert keys[0][1] == keys[1][1] == spark.sparkContext.applicationId
        assert keys[0][2] != keys[1][2]
        # ...and repeat lookups return each dir's own cached frame
        assert E._shared_decoded(spark, "/root/testdata/sf0.001") is a
        assert E._shared_decoded(spark, "/root/testdata/sf0.01") is b
        # the frames really are different data, not one scale served twice
        na, nb = a.count(), b.count()
        assert na != nb and 0 < na < nb
        # builders share one table: the tiles built over a dir's decoded
        # rasters are their own entry, not a hit on the rasters' key
        t = E._shared_tiles(spark, "/root/testdata/sf0.001")
        assert t is not a
        assert len(self._entries(E, "_shared_tiles")) == 1
        assert len(self._entries(E, "_shared_decoded")) == 2

    def test_shingle_and_emb_caches_keyed_per_sf_dir(self, spark):
        """The r6 shingle/embedding session caches follow the same keying
        contract as the decode/tile caches: per (applicationId, sf_dir[, n])
        — an n=2 simhash shingle frame must never serve an n=3 jaccard
        consumer, and scale dirs never cross-serve."""
        import __spark_entry__ as E

        E._clear_session_caches()
        s2 = E._shared_shingles(spark, "/root/testdata/sf0.001", 2)
        s3 = E._shared_shingles(spark, "/root/testdata/sf0.001", 3)
        assert s2 is not s3 and len(self._entries(E, "_shared_shingles")) == 2
        assert E._shared_shingles(spark, "/root/testdata/sf0.001", 2) is s2
        # n really differs: a doc's 2-gram set is not its 3-gram set
        r2 = s2.orderBy("doc_id").select("shingles").first()[0]
        r3 = s3.orderBy("doc_id").select("shingles").first()[0]
        assert r2 != r3
        e1 = E._shared_emb(spark, "/root/testdata/sf0.001")
        e2 = E._shared_emb(spark, "/root/testdata/sf0.01")
        # distinct per-dir entries (the fixture generator happens to emit
        # the same embedding row count at these two scales, so identity —
        # not count — is the isolation signal)
        assert len(self._entries(E, "_shared_emb")) == 2 and e1 is not e2
        assert E._shared_emb(spark, "/root/testdata/sf0.001") is e1

    def test_trailing_slash_does_not_fork_the_cache(self, spark):
        """normpath keying: 'dir' and 'dir/' are the same fixture — a
        second entry would double the cached memory footprint."""
        import __spark_entry__ as E

        E._clear_session_caches()
        a = E._shared_decoded(spark, "/root/testdata/sf0.001")
        assert E._shared_decoded(spark, "/root/testdata/sf0.001/") is a
        assert len(self._entries(E, "_shared_decoded")) == 1

    def test_clear_unpersists(self, spark):
        """Clearing must release the persisted partitions, not only the
        handles: the mutation probe clears once per probe kind, and every
        dropped-but-persisted rebuild stayed in storage for the session."""
        import __spark_entry__ as E

        E._clear_session_caches()
        a = E._shared_decoded(spark, "/root/testdata/sf0.001")
        a.count()
        assert a.is_cached
        E._clear_session_caches()
        assert not a.is_cached
        assert not E._SESSION_CACHE


class TestStreamGroups:
    def test_equals_apply_in_pandas(self, spark):
        """stream_groups == groupBy().applyInPandas row for row, with
        groups split across 3-row Arrow batches, null keys, and shuffle
        partitions left empty (AQE coalescing off so they reach the UDF)."""
        from cloudtiff_spark.operators.render import stream_groups

        rows = [
            (k1, k2, i)
            for i, (k1, k2) in enumerate(
                [("a", 1)] * 7 + [("a", None)] * 2 + [(None, 1)] * 4
                + [("b", 2)] + [(None, None)] * 5 + [("c", 3)] * 3
            )
        ]
        df = spark.createDataFrame(rows, "k1 string, k2 int, v long")
        schema = "k1 string, k2 int, n long, s long, vs binary"

        def fn(g):
            v = g["v"].to_numpy()
            return {
                "k1": g["k1"].iloc[0],
                "k2": g["k2"].iloc[0],
                "n": len(g),
                "s": int(v.sum()),
                "vs": np.sort(v).astype(np.int64).tobytes(),
            }

        confs = {
            "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            sizes = (
                df.repartition("k1", "k2").sortWithinPartitions("k1", "k2")
                .rdd.glom().map(len).collect()
            )
            assert 0 in sizes and max(sizes) > 3, sizes
            got = stream_groups(df, ["k1", "k2"], fn, schema).collect()
            want = df.groupBy("k1", "k2").applyInPandas(
                lambda g: pd.DataFrame([fn(g)]), schema
            ).collect()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        key = lambda r: (r["k1"] or "", -1 if r["k2"] is None else r["k2"])  # noqa: E731
        assert len(got) == 6
        assert sorted(got, key=key) == sorted(want, key=key)

    def test_one_partition_per_core(self, spark):
        """The exchange holds defaultParallelism partitions however small
        the groups are: adaptive execution coalesces a by-column
        repartition of 64 one-row groups into one task, never one with an
        explicit count."""
        from cloudtiff_spark.operators.render import stream_groups

        def fn(g):
            from pyspark import TaskContext

            return {"k": int(g["k"].iloc[0]), "p": TaskContext.get().partitionId()}

        df = spark.range(64).selectExpr("CAST(id AS INT) AS k")
        got = stream_groups(df, ["k"], fn, "k int, p int").collect()
        assert sorted(r["k"] for r in got) == list(range(64))
        assert len({r["p"] for r in got}) == spark.sparkContext.defaultParallelism


class TestLodPick:
    """The row-local LOD pick equals a brute-force pick over each image's
    pyramid (grid.level_dims over the first min(num_levels, MAX_LEVELS)
    levels): the greatest level where the condition holds, else 0."""

    @staticmethod
    def _cases(rng):
        """(w, h, tile_w, tile_h, span_x, span_y, req) rows: random images
        with the requirement aimed near a random level, plus single-level
        images, a condition false at level 0, true at every level, null,
        and images past the MAX_LEVELS cap."""
        rows = []
        for _ in range(300):
            w, h = (int(v) for v in rng.integers(1, 5000, 2))
            tw, th = (int(v) for v in rng.choice([16, 64, 100, 256, 512], 2))
            k = int(rng.integers(0, 8))
            sx, sy = (float(v) for v in rng.uniform(0.01, 2.0, 2))
            lw, lh = grid.level_dims(w, h, k)
            jitter = float(rng.choice([0.999, 1.0, 1.001, rng.uniform(0.5, 2)]))
            req = max(sx / lw, sy / lh) * jitter
            rows.append((w, h, tw, th, sx, sy, req))
        rows += [
            (50, 40, 64, 64, 1.0, 1.0, 1.0),  # single level, ok
            (50, 40, 64, 64, 1.0, 1.0, 1e-9),  # single level, not ok
            (3000, 200, 64, 64, 1.0, 1.0, 1e-9),  # false at level 0
            (3000, 200, 64, 64, 1.0, 1.0, 1e9),  # true at every level
            (3000, 200, 64, 64, 1.0, 1.0, None),  # null: false everywhere
            (1 << 20, 7, 16, 16, 1.0, 1.0, 1e9),  # past the cap: level 12
            (1 << 20, 1 << 19, 16, 16, 1.0, 1.0, 1.0 / (1 << 12)),  # level 6
        ]
        return rows

    @pytest.fixture(scope="class")
    def levels(self, spark):
        from cloudtiff_spark.operators.meta import levels_df

        rows = [(f"i{i}", *r) for i, r in enumerate(self._cases(np.random.default_rng(7)))]
        meta = spark.createDataFrame(
            rows,
            "image_id string, w int, h int, tile_w int, tile_h int, "
            "sx double, sy double, req double",
        )
        return rows, levels_df(meta)

    @staticmethod
    def _brute(w, h, tw, th, ok):
        n = min(grid.num_levels(w, h, tw, th), grid.MAX_LEVELS)
        return max([lv for lv in range(n) if ok(*grid.level_dims(w, h, lv))], default=0)

    def _check(self, levels, ok_sql, ok_py):
        from cloudtiff_spark.operators.spatial import _lod_pick

        rows, lv = levels
        got = {}
        for r in _lod_pick(lv, ok_sql).select("image_id", "level").collect():
            assert r["image_id"] not in got, r["image_id"]  # one level per image
            got[r["image_id"]] = r["level"]
        want = {iid: self._brute(w, h, tw, th, ok_py(*rest)) for iid, w, h, tw, th, *rest in rows}
        assert got == want
        assert {0, grid.MAX_LEVELS - 1} < set(want.values())
        assert len(set(want.values())) >= 6

    def test_region_condition(self, levels):
        """region_extract_picked's rule: the level's degrees per pixel
        beat the query's requirement on both axes."""

        def ok_py(sx, sy, req):
            return lambda lw, lh: req is not None and max(sx / lw, sy / lh) < req

        self._check(
            levels, lambda lw, lh: f"GREATEST(sx / {lw}, sy / {lh}) < req", ok_py
        )

    def test_crop_condition(self, levels):
        """crop_render's rule: the level keeps at least the output's
        pixel count inside the crop on both axes."""

        def ok_py(sx, sy, req):
            return lambda lw, lh: req is not None and lw * sx >= 1 / req and lh * sy >= 1 / req

        self._check(
            levels, lambda lw, lh: f"{lw} * sx >= 1 / req AND {lh} * sy >= 1 / req", ok_py
        )


class TestOverlapCover:
    def test_padded_cover_has_no_duplicate_cells(self, spark):
        """_overlap_join's pad-1 query cover holds each (query, cell) once,
        also for rects on the lon +-180 and lat +-90 edges, where the pad
        ring reaches past the grid (cx or cy of -1 or 2^Z_JOIN)."""
        from cloudtiff_spark.operators.spatial import _bbox_cells

        rects = [
            (-180.0, -90.0, 180.0, 90.0),
            (-180.0, 80.0, -179.0, 90.0),
            (179.5, -90.0, 180.0, -89.9),
            (180.0, 90.0, 180.0, 90.0),
            (-180.0, -90.0, -180.0, -90.0),
            (-10.0, -90.0, 10.0, 90.0),
        ]
        q = spark.createDataFrame(
            [(f"q{i}", *r) for i, r in enumerate(rects)],
            "query_id string, x0 double, y0 double, x1 double, y1 double",
        )
        qc = _bbox_cells(q, ("x0", "y0", "x1", "y1"), cells.Z_JOIN, pad=1)
        dup = qc.groupBy("query_id", "cell_join").count().filter("count > 1").count()
        assert dup == 0
        want = 0
        for x0, y0, x1, y1 in rects:
            cx0, cy0 = cells.cell_xy(x0, y1, cells.Z_JOIN)
            cx1, cy1 = cells.cell_xy(x1, y0, cells.Z_JOIN)
            want += (cx1 - cx0 + 3) * (cy1 - cy0 + 3)
        assert qc.count() == want


class TestCogTiles:
    """operators/cog.cog_tiles: the one container tile-decode relation
    behind the cog_jpeg, strip_ingest, sparse_cog and mask_ingest queries,
    over in-memory encode_cog containers."""

    @staticmethod
    def _containers() -> dict[str, bytes]:
        from cloudtiff_spark import tiff

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(300, 260, 3), dtype=np.uint8)
        sparse_img = img.copy()
        sparse_img[:, 130:] = 0  # all-zero tiles on the right become holes
        mask = np.zeros((300, 260), dtype=bool)
        mask[40:280, 40:200] = True
        return {
            "deflate": tiff.encode_cog(
                sparse_img, 4326, 10.0, 50.0, 1e-4, sparse=True, mask=mask
            ),
            "jpeg": tiff.encode_cog(
                img, 4326, 10.0, 50.0, 1e-4, compression=tiff.COMPRESSION_JPEG
            ),
        }

    @staticmethod
    def _tiles(spark, cogs: dict[str, bytes]) -> dict:
        from cloudtiff_spark.operators.cog import cog_tiles

        df = spark.createDataFrame(list(cogs.items()), "image_id string, cog binary")
        return {
            (r.image_id, r.mask, r.level, r.tile_idx): r for r in cog_tiles(df).collect()
        }

    @staticmethod
    def _decoded(data: bytes) -> dict:
        """(mask, level, tile_idx) -> (is_hole, pix) straight from the
        tile decoders."""
        from cloudtiff_spark import tiff

        info = tiff.cog_info(data)
        out = {}
        for mask, chain, decode in (
            (False, info["levels"], tiff.decode_tile),
            (True, info["mask_levels"], tiff.decode_mask_tile),
        ):
            for lv, lev in enumerate(chain):
                for ti, cnt in enumerate(lev["byte_counts"]):
                    out[(mask, lv, ti)] = (cnt == 0, decode(data, info, lv, ti).tobytes())
        return out

    def test_every_tile_matches_the_decoders(self, spark):
        cogs = self._containers()
        got = self._tiles(spark, cogs)
        want = {
            (iid, *k): v for iid, data in cogs.items() for k, v in self._decoded(data).items()
        }
        assert got.keys() == want.keys()
        for key, (hole, pix) in want.items():
            assert got[key].is_hole == hole, key
            assert bytes(got[key].pix) == pix, key
        # both chains and both hole states are exercised
        assert {k[1] for k in got if k[0] == "deflate"} == {False, True}
        assert not any(r.mask for k, r in got.items() if k[0] == "jpeg")
        holes = {(k[0], k[1]) for k, r in got.items() if r.is_hole}
        assert holes == {("deflate", False), ("deflate", True)}
        assert {r.compression for k, r in got.items() if k[0] == "jpeg"} == {"jpeg"}
        assert {r.compression for k, r in got.items() if k[0] == "deflate"} == {"deflate"}

    def test_corrupt_jpeg_tile_quarantines_one_row(self, spark):
        """4 stomped bytes inside one JPEG tile payload: that row carries
        the typed sentinel, every other row is unchanged, and the task
        does not fail."""
        from cloudtiff_spark import tiff

        cogs = self._containers()
        data = cogs["jpeg"]
        lev = tiff.cog_info(data)["levels"][0]
        pos = lev["offsets"][0] + lev["byte_counts"][0] // 2
        bad = data[:pos] + b"\x00\xff\x00\xff" + data[pos + 4 :]
        clean = self._tiles(spark, cogs)
        got = self._tiles(spark, {**cogs, "jpeg": bad})
        assert got.keys() == clean.keys()
        changed = {k for k in got if bytes(got[k].pix) != bytes(clean[k].pix)}
        assert changed == {("jpeg", False, 0, 0)}
        assert bytes(got[("jpeg", False, 0, 0)].pix).startswith(b"decode-failed:")


class TestContainerIngestOracle:
    @pytest.mark.parametrize(
        "name", ["cog_jpeg", "strip_ingest", "sparse_cog", "mask_ingest"]
    )
    def test_query_matches_oracle(self, spark, name):
        """Each container-ingest query equals its oracle_sql() table under
        tools/check_correctness.py's compare (row count, column names,
        order-insensitive typed value hash)."""
        import sys

        import duckdb

        import __spark_entry__ as E

        tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        from check_correctness import SF_DIR, arrow_rows, value_hash

        srows, scols = arrow_rows(E.queries()[name](spark, SF_DIR).toArrow())
        orows, ocols = arrow_rows(duckdb.connect().execute(E.oracle_sql()[name]).arrow())
        assert len(srows) == len(orows) > 0
        assert sorted(scols) == sorted(ocols)
        assert value_hash(srows, scols) == value_hash(orows, ocols)
