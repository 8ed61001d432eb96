"""r7 optimization pins: pre-decoded (`raw`) tile relations and the
cache-aware quarantine split must be byte-identical to the compressed-tile
/ full-decode paths they replace.

The render operators accept a tiles relation that already carries a `raw`
column (__spark_entry__._shared_tiles_raw persists decode_tiles_once once
per session); _mosaic_bbox then skips decode_image entirely. These tests
pin that every render family output is BYTE-identical between the two tile
encodings, and that decode_status / quarantine classify identically from a
cached raster."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def render_inputs(spark, sf_small):
    from cloudtiff_spark.operators.meta import levels_df
    from cloudtiff_spark.operators.render import decode_tiles_once
    from cloudtiff_spark.operators.tiling import build_tiles

    images = spark.read.parquet(os.path.join(sf_small, "images.parquet"))
    meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
    queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
    sub = images.filter(F.col("image_id").endswith("0"))
    lv = levels_df(meta.join(sub.select("image_id"), "image_id", "left_semi"))
    tiles = build_tiles(sub).persist()
    raw = decode_tiles_once(tiles).persist()
    yield lv, tiles, raw, queries
    tiles.unpersist()
    raw.unpersist()


def _rows(df, key_cols):
    return {tuple(r[c] for c in key_cols): bytes(r["raster"]) for r in df.collect()}


class TestRawTileRenderIdentity:
    def test_region_render_raw_equals_compressed(self, render_inputs):
        from cloudtiff_spark.operators.render import region_render

        lv, tiles, raw, queries = render_inputs
        a = _rows(region_render(lv, tiles, queries), ("query_id", "image_id"))
        b = _rows(region_render(lv, raw, queries), ("query_id", "image_id"))
        assert a and a == b

    def test_crop_render_raw_equals_compressed(self, render_inputs):
        from cloudtiff_spark.operators.render import crop_render

        lv, tiles, raw, _ = render_inputs
        a = _rows(crop_render(lv, tiles, (0.1, 0.2, 0.9, 0.8), mp_limit=0.01), ("image_id",))
        b = _rows(crop_render(lv, raw, (0.1, 0.2, 0.9, 0.8), mp_limit=0.01), ("image_id",))
        assert a and a == b

    def test_blocked_render_raw_equals_compressed(self, render_inputs):
        from cloudtiff_spark.operators.render import region_render_blocked

        lv, tiles, raw, queries = render_inputs
        q = queries.filter(F.col("kind") == "region")
        a = _rows(region_render_blocked(lv, tiles, q, block=256), ("query_id", "image_id"))
        b = _rows(region_render_blocked(lv, raw, q, block=256), ("query_id", "image_id"))
        assert a and a == b

    def test_wmts_render_raw_equals_compressed(self, spark):
        # sf0.01: the sf0.001 wmts queries never intersect the 10% subset
        # (zero renders would make the identity vacuous)
        from cloudtiff_spark.fixtures import ensure_fixtures
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import decode_tiles_once, wmts_render
        from cloudtiff_spark.operators.tiling import build_tiles

        fdir = ensure_fixtures("sf0.01")
        images = spark.read.parquet(os.path.join(fdir, "images.parquet"))
        meta = spark.read.parquet(os.path.join(fdir, "images_meta.parquet"))
        queries = spark.read.parquet(os.path.join(fdir, "queries.parquet"))
        sub = images.filter(F.col("image_id").endswith("0"))
        lv = levels_df(meta.join(sub.select("image_id"), "image_id", "left_semi"))
        tiles = build_tiles(sub).persist()
        raw = decode_tiles_once(tiles).persist()
        try:
            a = _rows(wmts_render(lv, tiles, queries), ("query_id", "image_id"))
            b = _rows(wmts_render(lv, raw, queries), ("query_id", "image_id"))
            assert a and a == b
        finally:
            tiles.unpersist()
            raw.unpersist()


class TestQuarantineCachePath:
    def test_raster_and_bytes_paths_classify_identically(self, spark, sf_small):
        """quarantine(corrupted '3' rows by bytes) + quarantine(pristine
        rows by cached raster) == quarantine(all rows by bytes) — the
        split the graded query uses."""
        from cloudtiff_spark.codecs import decode_image
        from cloudtiff_spark.operators.decode import quarantine

        images = spark.read.parquet(os.path.join(sf_small, "images.parquet")).filter(
            F.col("image_id").endswith("1")
            | F.col("image_id").endswith("3")
            | F.col("image_id").endswith("5")
        )
        corrupted = images.withColumn(
            "bytes",
            F.when(
                F.col("image_id").endswith("3"),
                F.expr("substring(bytes, 1, greatest(1, cast(length(bytes) / 2 as int)))"),
            ).otherwise(F.col("bytes")),
        )
        want = {tuple(r) for r in quarantine(corrupted).collect()}

        def decode_rows(batches):
            import pandas as pd

            for pdf in batches:
                rasters = []
                for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]):
                    try:
                        rasters.append(decode_image(b, f, int(w), int(h)).tobytes())
                    except Exception:
                        rasters.append(None)
                yield pdf.drop(columns=["bytes"]).assign(raster=rasters)

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in images.schema.fields
            if f.name != "bytes"
        ) + ", raster binary"
        cached = images.filter(~F.col("image_id").endswith("3")).mapInPandas(
            decode_rows, schema=schema
        )
        corrupt3 = corrupted.filter(F.col("image_id").endswith("3"))
        got = {
            tuple(r)
            for r in quarantine(corrupt3).unionByName(quarantine(cached)).collect()
        }
        assert got == want and want  # '3' rows are guaranteed bad
