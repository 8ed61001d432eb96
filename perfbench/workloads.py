"""The three benchmark workloads, driven through cloudtiff_spark's public
functions only.

Each workload has:

- ``setup(tracer)``: read the generated inputs, persist them and do the
  per-snapshot preparation production amortizes (timed as set-up); it
  returns the time of each preparation step, traced when a tracer is given;
- ``run_pass()``: one closed-loop pass, every output force-evaluated,
  returning a digest that must repeat exactly across passes;
- ``check()``: output checks that do not share the timed code path;
- ``trace(tracer)``: each layer's public call forced on its own under its
  own job group, returning the per-layer figures measured from outside.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtiff_spark import TILE
from cloudtiff_spark.grid import level_dims, num_levels
from cloudtiff_spark.operators.cog import parse_cogs, write_cogs
from cloudtiff_spark.operators.cogsink import (
    assemble_cogs,
    blocks_from_images,
    encode_cog_blocked,
)
from cloudtiff_spark.operators.knn import knn
from cloudtiff_spark.operators.meta import levels_df, tile_assignments
from cloudtiff_spark.operators.render import (
    crop_render,
    decode_tiles_once,
    region_render,
    wmts_render,
)
from cloudtiff_spark.operators.spatial import (
    hot_cells,
    pip_join,
    prepare_pip_queries,
    region_extract,
)
from cloudtiff_spark.operators.tiling import build_tiles
from cloudtiff_spark.tiff import COMPRESSION_DEFLATE, COMPRESSION_LZW, cog_info

#: normalized crop rendered over every image in tile_render
CROP = (0.1, 0.2, 0.9, 0.8)
CROP_MP = 0.01
#: sample sizes of the output checks
PIP_SAMPLE = 12
KNN_SAMPLE = 24
COG_SAMPLE = 4
#: images (of at most this size on each side) in the traced COG layers
COG_IMAGES = 12
COG_MAX_DIM = 128


@contextmanager
def timed(tracer, name: str):
    """A tracer span when tracing, otherwise a bare timer. Yields a dict
    that holds ``start`` and, once the block ends, ``end``."""
    if tracer is not None:
        with tracer.span(name) as span:
            yield span
        return
    span = {"name": name, "start": time.time()}
    try:
        yield span
    finally:
        span["end"] = time.time()


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


def force_eval(df: DataFrame) -> tuple[int, int]:
    """(rows, xor of xxhash64 over every column): forces every output
    column, which a bare count() would let Catalyst prune."""
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, inputs: str, cpus: int):
        self.spark = spark
        self.inputs = inputs
        self.cpus = cpus
        self._persisted: list[DataFrame] = []
        #: input properties recorded with every run
        self.properties: dict[str, float] = {}

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))

    def _persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        return df

    def teardown(self) -> None:
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted = []

    def setup(self, tracer=None) -> dict[str, float]:
        raise NotImplementedError

    def describe(self) -> None:
        """Measure the input properties the workload was chosen for."""

    def run_pass(self) -> tuple:
        raise NotImplementedError

    def check(self, digest: tuple) -> list[tuple[str, bool, str]]:
        """Output checks; ``digest`` is the timed passes' digest."""
        raise NotImplementedError

    def trace(self, tracer) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# spatial_join: tile assignment + PIP join + kNN over metadata only
# ---------------------------------------------------------------------------


def tile_centers_np(meta: pd.DataFrame) -> pd.DataFrame:
    """Every (image, level, tile) centre, computed in numpy with the same
    double operations as meta.tiles_df: an oracle independent of Catalyst."""
    parts = []
    for (w, h, tw, th), grp in meta.groupby(["w", "h", "tile_w", "tile_h"]):
        w, h, tw, th = int(w), int(h), int(tw), int(th)
        xmin = grp["xmin"].to_numpy()
        xmax = grp["xmax"].to_numpy()
        ymin = grp["ymin"].to_numpy()
        ymax = grp["ymax"].to_numpy()
        ids = grp["image_id"].to_numpy()
        for lv in range(num_levels(w, h, tw, th)):
            lw, lh = level_dims(w, h, lv)
            cols, rows = -(-lw // tw), -(-lh // th)
            c = np.tile(np.arange(cols), rows)
            r = np.repeat(np.arange(rows), cols)
            u0 = (c * tw) / lw
            u1 = np.minimum(1.0, ((c + 1) * tw) / lw)
            v0 = (r * th) / lh
            v1 = np.minimum(1.0, ((r + 1) * th) / lh)
            lon = xmin[:, None] + (u0 + u1)[None, :] / 2 * (xmax - xmin)[:, None]
            lat = ymax[:, None] - (v0 + v1)[None, :] / 2 * (ymax - ymin)[:, None]
            n = len(ids)
            parts.append(
                pd.DataFrame(
                    {
                        "image_id": np.repeat(ids, cols * rows),
                        "level": lv,
                        "tile_idx": np.tile(r * cols + c, n),
                        "lon_c": lon.ravel(),
                        "lat_c": lat.ravel(),
                    }
                )
            )
    return pd.concat(parts, ignore_index=True)


def crossing_number(vx: np.ndarray, vy: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd containment of points in one polygon (last edge wraps)."""
    x1, y1 = vx[:, None], vy[:, None]
    x2, y2 = np.roll(vx, -1)[:, None], np.roll(vy, -1)[:, None]
    straddle = (y1 > py[None, :]) != (y2 > py[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
    return (np.sum(straddle & (px[None, :] < xint), axis=0) % 2).astype(bool)


class SpatialJoin(Workload):
    name = "spatial_join"

    def setup(self, tracer=None) -> dict[str, float]:
        self.teardown()
        self.meta = self._persist(self._read("meta").repartition(self.cpus, "image_id"))
        self.queries = self._persist(self._read("queries"))
        self.meta.count()
        self.queries.count()
        with timed(tracer, "spatial.hot_cells") as hs:
            self.hot = self._persist(hot_cells(tile_assignments(self.meta)))
            self.hot.count()
        with timed(tracer, "spatial.prepare") as ps:
            self.prepared = prepare_pip_queries(self.queries)
            self.prepared.qc = self._persist(self.prepared.qc)
            self.prepared.qc.count()
            self.prepared.polys_dict()
        return {"spatial.hot_cells_s": seconds(hs), "spatial.prepare_s": seconds(ps)}

    def describe(self) -> None:
        flagged = tile_assignments(self.meta).join(
            F.broadcast(self.hot.withColumn("_hot", F.lit(1))), "cell_join", "left"
        )
        row = flagged.agg(F.count(F.lit(1)).alias("n"), F.count("_hot").alias("hot")).first()
        self.properties = {
            "meta.tiles": row["n"],
            "spatial.hot_cells": self.hot.count(),
            "spatial.hot_tile_share": row["hot"] / row["n"],
        }

    def _pip(self) -> DataFrame:
        return pip_join(tile_assignments(self.meta), self.queries, hot=self.hot, prepared=self.prepared)

    def _knn(self) -> DataFrame:
        return knn(self.meta, self.queries)

    def run_pass(self) -> tuple:
        return force_eval(self._pip()), force_eval(self._knn())

    def check(self, digest: tuple) -> list[tuple[str, bool, str]]:
        meta = self.meta.select("image_id", "w", "h", "tile_w", "tile_h", "xmin", "ymin", "xmax", "ymax").toPandas()
        qs = self.queries.toPandas()
        rng = np.random.default_rng(7)
        out = []

        pip_q = qs[qs["kind"] == "pip"]
        sample = pip_q.iloc[rng.choice(len(pip_q), min(PIP_SAMPLE, len(pip_q)), replace=False)]
        centers = tile_centers_np(meta)
        got_keys = {
            (r["query_id"], r["image_id"], r["level"], r["tile_idx"])
            for r in self._pip().filter(F.col("query_id").isin(list(sample["query_id"]))).collect()
        }
        want_keys = set()
        lon, lat = centers["lon_c"].to_numpy(), centers["lat_c"].to_numpy()
        for qid, vx, vy in zip(sample["query_id"], sample["poly_x"], sample["poly_y"]):
            vx, vy = np.asarray(vx, np.float64), np.asarray(vy, np.float64)
            box = (lon >= vx.min()) & (lon <= vx.max()) & (lat >= vy.min()) & (lat <= vy.max())
            idx = np.flatnonzero(box)
            inside = idx[crossing_number(vx, vy, lon[idx], lat[idx])]
            sub = centers.iloc[inside]
            want_keys |= {
                (qid, i, int(lv), int(t))
                for i, lv, t in zip(sub["image_id"], sub["level"], sub["tile_idx"])
            }
        out.append(
            (
                "pip_crossing_number",
                got_keys == want_keys,
                f"{len(sample)} queries, {len(want_keys)} expected rows, {len(got_keys)} got",
            )
        )

        knn_q = qs[qs["kind"] == "knn"]
        sample = knn_q.iloc[rng.choice(len(knn_q), min(KNN_SAMPLE, len(knn_q)), replace=False)]
        got = self._knn().filter(F.col("query_id").isin(list(sample["query_id"]))).toPandas()
        ilon = ((meta["xmin"] + meta["xmax"]) / 2).to_numpy()
        ilat = ((meta["ymin"] + meta["ymax"]) / 2).to_numpy()
        ids = meta["image_id"].to_numpy()
        ok = True
        for qid, px, py, k in zip(sample["query_id"], sample["px"], sample["py"], sample["k"]):
            d = (ilon - px) * (ilon - px) + (ilat - py) * (ilat - py)
            order = np.lexsort((ids, d))[: int(k)]
            want = list(ids[order])
            mine = got[got["query_id"] == qid].sort_values("rank")
            ok &= list(mine["image_id"]) == want and list(mine["rank"]) == list(range(1, len(want) + 1))
        out.append(("knn_brute_force", bool(ok), f"{len(sample)} queries"))
        return out

    def trace(self, tracer) -> dict[str, float]:
        with timed(tracer, "meta.tile_assignments") as ts:
            tiles = force_eval(tile_assignments(self.meta))[0]
        with timed(tracer, "spatial.pip_join") as ps:
            joined = force_eval(self._pip())[0]
        with timed(tracer, "knn.knn") as ks:
            force_eval(self._knn())
        return {
            "meta.tile_assign_s": seconds(ts),
            "meta.tiles": tiles,
            "spatial.pip_join_s": seconds(ps),
            "spatial.pip_joined_rows": joined,
            "knn.knn_s": seconds(ks),
        }


# ---------------------------------------------------------------------------
# tile_render: region + crop renders over the compressed tile table
# ---------------------------------------------------------------------------


class TileRender(Workload):
    name = "tile_render"

    def setup(self, tracer=None) -> dict[str, float]:
        self.teardown()
        self.cog: CogPath | None = None
        self.meta = self._persist(self._read("meta"))
        self.queries = self._persist(self._read("queries"))
        with timed(tracer, "tiling.build_tiles") as bs:
            images = self._read("images").repartition(self.cpus, "image_id")
            self.tiles = self._persist(build_tiles(images))
            # materializes the tile cache, as count() would
            stats = self.tiles.agg(F.count(F.lit(1)).alias("n"), F.sum("byte_count").alias("b")).first()
        self.tile_stats = {"tiling.tiles": int(stats["n"]), "tiling.tile_bytes": int(stats["b"])}
        self.levels = self._persist(levels_df(self.meta))
        self.queries.count()
        self.levels.count()
        return {"tiling.build_tiles_s": seconds(bs)}

    def describe(self) -> None:
        per_tile = (
            region_extract(self.levels, self.queries)
            .groupBy("image_id", "level", "tile_idx")
            .count()
            .collect()
        )
        n_refs = sum(r["count"] for r in per_tile)
        distinct = len(per_tile)
        self.properties = {
            "spatial.tile_refs": n_refs,
            "render.tile_fanin": n_refs / distinct if distinct else 0.0,
            **self.tile_stats,
        }

    def _region(self, queries: DataFrame | None = None, decode_once: bool = False) -> DataFrame:
        q = self.queries if queries is None else queries
        return region_render(self.levels, self.tiles, q, decode_once=decode_once)

    def _wmts(self) -> DataFrame:
        return wmts_render(self.levels, self.tiles, self.queries, tile_px=256)

    def _crop(self) -> DataFrame:
        return crop_render(self.levels, self.tiles, CROP, mp_limit=CROP_MP)

    def run_pass(self) -> tuple:
        return force_eval(self._region()), force_eval(self._crop())

    def check(self, digest: tuple) -> list[tuple[str, bool, str]]:
        # decode-once is a separate code path (decode_tiles_once + raw tile
        # join) that must give byte-identical rasters: the same digest over
        # every output column, raster bytes included, as the timed passes
        base = digest[0] if digest else None
        once = force_eval(self._region(decode_once=True))
        out = [("render_decode_once_identical", base == once and base[0] > 0, f"{base} vs {once}")]
        return out + (self.cog.check() if self.cog is not None else [])

    def trace(self, tracer) -> dict[str, float]:
        with timed(tracer, "spatial.region_extract") as rs:
            refs = force_eval(region_extract(self.levels, self.queries))[0]
        with timed(tracer, "render.region") as r1:
            g1 = force_eval(self._region())[0]
        with timed(tracer, "render.wmts") as r2:
            g2 = force_eval(self._wmts())[0]
        with timed(tracer, "render.crop") as r3:
            g3 = force_eval(self._crop())[0]
        with timed(tracer, "codecs.decode_tiles") as ds:
            force_eval(decode_tiles_once(self.tiles))
        if self.cog is None:
            small = self.meta.filter((F.col("w") <= COG_MAX_DIM) & (F.col("h") <= COG_MAX_DIM))
            ids = [r["image_id"] for r in small.orderBy("image_id").limit(COG_IMAGES).collect()]
            images = self._read("images").filter(F.col("image_id").isin(ids)).repartition(self.cpus, "image_id")
            self.cog = CogPath(self, images, self.meta)
        return self.cog.trace(tracer) | {
            "spatial.region_extract_s": seconds(rs),
            "spatial.tile_refs": refs,
            "render.region_s": seconds(r1),
            "render.wmts_s": seconds(r2),
            "render.crop_s": seconds(r3),
            "render.groups": g1 + g2 + g3,
            "codecs.decode_tiles_s": seconds(ds),
        }


# ---------------------------------------------------------------------------
# COG write and read-back: the cog, tiff and cogsink layers
# ---------------------------------------------------------------------------


def _decode_rasters(images: DataFrame) -> DataFrame:
    """Decode every image once to RGB8 (stands in for rendered blocks)."""

    def gen(batches):
        from cloudtiff_spark.codecs import decode_image

        for pdf in batches:
            rasters = [
                decode_image(b, f, int(w), int(h)).tobytes()
                for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
            ]
            yield pdf.drop(columns=["bytes"]).assign(raster=rasters)

    schema = "image_id string, w int, h int, fmt string, caption string, phash bigint, raster binary"
    return images.mapInPandas(gen, schema=schema)


def _release(tiles: DataFrame) -> None:
    """Unpersist what encode_cog_blocked and assemble_cogs cached."""
    for df in getattr(tiles, "_cogsink_persisted", []):
        df.unpersist()
    tiles.unpersist()


class CogPath:
    """write_cogs, the blocked sink (blocks_from_images -> encode_cog_blocked
    -> assemble_cogs) and parse_cogs over a set of images decoded once."""

    def __init__(self, workload: Workload, images: DataFrame, meta: DataFrame):
        self.input_bytes = int(images.agg(F.sum(F.length("bytes"))).first()[0])
        geo = meta.select("image_id", "epsg", "origin_x", "origin_y", "scale_px")
        self.sub = workload._persist(_decode_rasters(images).join(geo, "image_id"))
        self.sub.count()
        self.sink_meta = workload._persist(
            self.sub.select(
                "image_id",
                "w",
                "h",
                F.lit(3).alias("c"),
                F.lit("uint8").alias("dtype"),
                "epsg",
                "origin_x",
                "origin_y",
                "scale_px",
                # write_cogs' codec rule as a per-image column
                F.when(F.col("fmt") == "lzw_raw", F.lit(COMPRESSION_LZW))
                .otherwise(F.lit(COMPRESSION_DEFLATE))
                .alias("compression"),
            )
        )
        self.sink_meta.count()

    def trace(self, tracer) -> dict[str, float]:
        cogs = write_cogs(self.sub).persist(StorageLevel.MEMORY_AND_DISK)
        with timed(tracer, "cog.write_cogs") as ws:
            force_eval(cogs)
        out = int(cogs.agg(F.sum("cog_bytes")).first()[0])
        blocks = blocks_from_images(self.sub.select("image_id", "raster", "w", "h"))
        with timed(tracer, "cogsink.encode") as es:
            # persisted here, so assemble_cogs (which persists its input)
            # reads the encoded tiles back instead of encoding again
            tiles = encode_cog_blocked(blocks, self.sink_meta).persist()
            force_eval(tiles)
        with timed(tracer, "cogsink.assemble") as asp:
            force_eval(assemble_cogs(tiles, self.sink_meta))
        _release(tiles)
        with timed(tracer, "cog.parse") as ps:
            force_eval(parse_cogs(cogs))
        cogs.unpersist()
        return {
            "cog.write_cogs_s": seconds(ws),
            "cogsink.encode_s": seconds(es),
            "cogsink.assemble_s": seconds(asp),
            "cog.parse_s": seconds(ps),
            "cog.bytes_out": out,
            "cog.bytes_per_input_byte": out / self.input_bytes,
        }

    def check(self) -> list[tuple[str, bool, str]]:
        ids = sorted(r["image_id"] for r in self.sub.select("image_id").collect())
        rng = np.random.default_rng(13)
        sample = list(rng.choice(ids, min(COG_SAMPLE, len(ids)), replace=False))
        sub = self.sub.filter(F.col("image_id").isin(sample))
        single = {r["image_id"]: bytes(r["cog"]) for r in write_cogs(sub).select("image_id", "cog").collect()}
        smeta = self.sink_meta.filter(F.col("image_id").isin(sample))
        tiles = encode_cog_blocked(blocks_from_images(sub.select("image_id", "raster", "w", "h")), smeta)
        blocked = {r["image_id"]: bytes(r["cog"]) for r in assemble_cogs(tiles, smeta).collect()}
        _release(tiles)
        same = set(single) == set(sample) and single == blocked
        # every container parses, with the level count the grid rule gives
        dims = {r["image_id"]: (r["w"], r["h"]) for r in self.sub.select("image_id", "w", "h").collect()}
        bad = []
        for r in write_cogs(self.sub).select("image_id", "cog").collect():
            w, h = dims[r["image_id"]]
            try:
                info = cog_info(bytes(r["cog"]))
            except Exception as exc:  # a container that does not parse
                bad.append(f"{r['image_id']}: {exc}")
                continue
            if len(info["levels"]) != num_levels(w, h, TILE, TILE) or info["levels"][0]["width"] != w:
                bad.append(r["image_id"])
        return [
            ("cogsink_matches_write_cogs", same, f"{len(sample)} images"),
            ("every_container_parses", not bad, f"{len(dims)} containers, bad={bad[:3]}"),
        ]


WORKLOADS = {w.name: w for w in (SpatialJoin, TileRender)}
