"""User-facing facade mirroring the reference's entry points.

A cloudtiff user drives the Rust library through three surfaces
(README.md + lib.rs:40-50): ``CloudTiff::open``-style analyze
(examples/file.rs:27, http.rs, s3.rs), the render builder
(``cog.renderer().with_mp_limit(..).of_crop(..).with_reader(..).render()``,
examples/demo.rs:39-44; ``of_output_region_lat_lon_deg`` for reprojected
regions, render/mod.rs:168-182), and the WMTS ``tiles`` module
(wmts.rs:22-44). This module exposes the same verbs over the Spark table
model, so those call sites translate one-to-one:

    ct = CloudTiffSpark(spark)
    ct.open_directory("/data/cogs")                 # CloudTiff::open per file
    ct.disect(cog_bytes)                            # examples/disect.rs
    r = ct.renderer(images, meta)                   # RenderBuilder
    r.with_mp_limit(1.0).of_crop(0.1, 0.2, 0.9, 0.8).render()
    r.of_output_region_lat_lon_deg(w, s, e, n).render()
    r.wmts_tile(z, x, y).render()

Everything returns lazy DataFrames (the builder IS the logical plan, the
same way the reference's RenderBuilder is, render/mod.rs:66-75); Catalyst
replaces the hand-rolled dispatch in renderer.rs:18-57.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CloudTiffSpark:
    """Session-scoped entry point (the `CloudTiff` analog at table scale)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    # ---- E1: analyze (CloudTiff::open family) ----

    def open_directory(self, path: str, pattern: str = "*.tif") -> DataFrame:
        """Header-only analyze of every COG under ``path`` — one row per
        pyramid level (CloudTiff::open + header-only ranged read,
        cog/mod.rs:91-135 / 272-320)."""
        from .sources import analyze_cog_headers

        return analyze_cog_headers(self.spark, path, pattern)

    def open_http(self, url: str) -> dict:
        """Ranged-GET analyze of one remote COG (examples/http.rs)."""
        from .sources import header_info_http

        info, _ = header_info_http(url)
        return info

    def open_s3(self, bucket: str, key: str, initial_bytes: int = 65536, **client_kw) -> dict:
        """SigV4 ranged analyze (examples/s3.rs); client_kw feeds the
        stdlib SigV4 client (endpoint, access_key, secret_key, region).
        The same grow-and-reparse open as the other header-only paths."""
        from .s3 import S3RangeFetcher
        from .sources import header_info_s3

        return header_info_s3(S3RangeFetcher(bucket=bucket, **client_kw), key, initial_bytes)[0]

    def open_bytes(self, data: bytes) -> dict:
        """In-memory analyze (CloudTiff::open over a byte reader)."""
        from .tiff import cog_info

        return cog_info(data)

    def disect(self, data: bytes) -> str:
        """Debug dump of the container structure (examples/disect.rs)."""
        from .sources import disect

        return disect(data)

    # ---- E2/E3: renders ----

    def renderer(self, images: DataFrame, meta: DataFrame) -> "RenderBuilder":
        """The RenderBuilder analog (render/mod.rs:66-75) over the
        images+meta tables; tile materialization is deferred to render()."""
        return RenderBuilder(self.spark, images, meta)

    # ---- WMTS tiles module (lib.rs:47, wmts.rs) ----

    def wmts_enumerate(self, meta: DataFrame, max_z: int = 18) -> DataFrame:
        """Every slippy-map tile each image intersects per zoom
        (tile_tree_indices, wmts.rs:22-44)."""
        from .operators.spatial import wmts_enumerate

        return wmts_enumerate(meta, max_z=max_z)


class RenderBuilder:
    """Immutable-ish builder: each with_/of_ call returns self for
    chaining (the reference mutates the same way). ``render()`` produces
    the DataFrame — dispatch on the region kind mirrors renderer.rs:18-57."""

    def __init__(self, spark: SparkSession, images: DataFrame, meta: DataFrame) -> None:
        self.spark = spark
        self.images = images
        self.meta = meta
        self._mp_limit = 0.25  # the reference's default preview budget
        self._mp_explicit = False  # with_mp_limit called?
        self._crop: tuple[float, float, float, float] | None = None
        self._region: tuple[float, float, float, float] | None = None
        self._tiles: DataFrame | None = None
        self._block = 0  # 0 = whole-render grain
        self._resolution: tuple[int, int] | None = None

    def with_mp_limit(self, mp: float) -> "RenderBuilder":
        """Output megapixel cap -> output dims (util.rs:131-142)."""
        self._mp_limit = float(mp)
        self._mp_explicit = True
        return self

    def with_tiles(self, tiles: DataFrame) -> "RenderBuilder":
        """Inject a pre-materialized (possibly persisted) tiles table —
        the `.with_reader` analog (render/mod.rs:99-101): the tile source
        is pluggable."""
        self._tiles = tiles
        return self

    def of_crop(self, xmin: float, ymin: float, xmax: float, ymax: float) -> "RenderBuilder":
        """Normalized-unit image crop (render/mod.rs:162-165; saturated).
        Degenerate or inverted extents fail HERE, not deep inside the
        pandas assemble stage."""
        clamp = lambda v: min(1.0, max(0.0, float(v)))  # noqa: E731 — UnitFloat clamp (F9)
        crop = (clamp(xmin), clamp(ymin), clamp(xmax), clamp(ymax))
        if not (crop[0] < crop[2] and crop[1] < crop[3]):
            raise ValueError(f"empty/inverted crop after unit clamp: {crop}")
        self._crop = crop
        self._region = None
        return self

    def of_output_region_lat_lon_deg(
        self, west: float, south: float, east: float, north: float
    ) -> "RenderBuilder":
        """EPSG:4326 output region (render/mod.rs:168-182): every image
        intersecting the region renders reprojected into it."""
        if not (float(west) < float(east) and float(south) < float(north)):
            raise ValueError(
                f"empty/inverted region: west={west} south={south} east={east} north={north}"
            )
        self._region = (float(west), float(south), float(east), float(north))
        self._crop = None
        return self

    def with_block_size(self, px: int) -> "RenderBuilder":
        """Route region renders through the block-tiled path: the output
        raster is cut into px*px blocks, each an independent task
        (byte-identical to the whole-render path; the scale grain for
        gigapixel outputs — see operators.render.region_render_blocked).
        Pass 0 to return to the whole-render grain."""
        if px < 0:
            raise ValueError(f"block size must be >= 0, got {px}")
        self._block = int(px)
        return self

    def with_exact_resolution(self, w: int, h: int) -> "RenderBuilder":
        """Exact output dims for region renders, bypassing the mp-limit
        formula (render/mod.rs:149-151 with_exact_resolution) — the WMTS
        tile path pairs this with wmts_tile(z, x, y)."""
        if int(w) <= 0 or int(h) <= 0:
            raise ValueError(f"resolution must be positive, got {(w, h)}")
        self._resolution = (int(w), int(h))
        return self

    def wmts_tile(self, z: int, x: int, y: int) -> "RenderBuilder":
        """One slippy-map tile = its lat/lon bounds as the output region
        (wmts.rs:124-132 -> of_output_region path, renderer.rs:38-56).
        Bounds come from the SAME numpy helper the wmts_render operator
        and the oracle recompute use — one definition, bit-identical
        doubles on every path."""
        from .operators.spatial import slippy_bounds_np

        west, south, east, north = slippy_bounds_np(x, y, z)
        return self.of_output_region_lat_lon_deg(
            float(west), float(south), float(east), float(north)
        )

    def render(self) -> DataFrame:
        """Dispatch on the configured region kind (renderer.rs:18-57)."""
        from .operators.meta import levels_df
        from .operators.render import crop_render, region_render, region_render_blocked
        from .operators.tiling import build_tiles

        tiles = self._tiles if self._tiles is not None else build_tiles(self.images)
        lv = levels_df(self.meta)
        if self._crop is not None:
            if self._resolution is not None:
                raise ValueError(
                    "with_exact_resolution applies to region renders only; "
                    "crop output dims come from the mp limit"
                )
            if self._block:
                # fail loudly: a user who set the block size to avoid the
                # one-task-per-image memory blowup must not silently get
                # the whole-render crop path (review r5 pass 2 #5)
                raise ValueError(
                    "with_block_size applies to region renders only; "
                    "the crop path has no block-tiled variant yet"
                )
            return crop_render(lv, tiles, self._crop, mp_limit=self._mp_limit)
        if self._region is not None:
            w, s, e, n = self._region
            if self._resolution is not None:
                if self._block:
                    raise ValueError(
                        "with_exact_resolution and with_block_size are "
                        "mutually exclusive (the blocked fan-out derives "
                        "block counts from the mp-limit dims)"
                    )
                rw, rh = self._resolution
                # the LOD pick still runs off mp_limit even when the output
                # dims are fixed; unless the caller set the limit explicitly,
                # derive it from the requested resolution so the picked
                # pyramid level matches the output density (the wmts_render
                # operator uses the same tile_px^2/1e6 rule) — otherwise the
                # default 0.25 MP preview budget silently picks a DIFFERENT
                # level than the resolution implies (r6 review pass 1 #1)
                mp = self._mp_limit if self._mp_explicit else rw * rh / 1e6
                q = self.spark.createDataFrame(
                    [("api_region", "region", w, s, e, n, mp, rw, rh)],
                    "query_id string, kind string, rxmin double, rymin double, "
                    "rxmax double, rymax double, mp_limit double, "
                    "res_w int, res_h int",
                )
                return region_render(lv, tiles, q)
            q = self.spark.createDataFrame(
                [("api_region", "region", w, s, e, n, self._mp_limit)],
                "query_id string, kind string, rxmin double, rymin double, "
                "rxmax double, rymax double, mp_limit double",
            )
            if self._block:
                return region_render_blocked(lv, tiles, q, block=self._block)
            return region_render(lv, tiles, q)
        raise ValueError("configure of_crop(...) or of_output_region_lat_lon_deg(...) first")
