"""Cell-keyed spatial joins: point-in-polygon, region extraction, WMTS.

The benchmark stage (BASELINE.json metric): tile assignment -> cell-keyed
equi-join against the vector (query) side -> exact refine. Join strategy is
explicit (north_rule): pip_join broadcasts the query cover, which is small
by design (one row per (query, cell)); hot cells (the fixture plants 3 hot
regions) are salted with ``phash % S`` on the tile side and the query cover
is exploded x S on those cells. The hot list is collected on the driver and
spliced in as one ``cell_join IN (...)`` literal set: a hot cell holds more
than ``fraction`` of all tiles, so there are fewer than 1/fraction of them
(50 at HOT_FRACTION), and the pass plans one join, not a flag join per side.

Reference analogs: the tile-cache hash join (render/tiles.rs:26-57,
renderer.rs:137-175) and the crop -> tile-range pruning (level.rs:204-231);
the PIP refine generalizes the reference's in-bounds containment checks
(level.rs:254-256, 384-402) to arbitrary polygons: one Arrow UDF tests each
batch against padded per-query edge matrices in a single numpy broadcast,
under the even-odd (crossing number) or nonzero (winding number) rule.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..cells import Z_JOIN, cell_id_expr, cell_xy_expr, pack_expr
from ..grid import MAX_LEVELS, level_dim_expr

#: default salting factor for hot cells; queries explode x SALT on hot cells
SALT = 8
#: a cell is "hot" when it holds more than this fraction of all tiles
HOT_FRACTION = 0.02


# ---------------------------------------------------------------------------
# query-side cell covering (bbox of the polygon at Z_JOIN) — native exprs
# ---------------------------------------------------------------------------


def _bbox_cells(df: DataFrame, rect: tuple[str, str, str, str], z: int, pad: int = 0) -> DataFrame:
    """Explode a lon/lat rect (SQL for xmin, ymin, xmax, ymax) into its
    covering cells at resolution z, as column ``cell_join``; ``pad`` widens
    the cell range by that many cells on every side (packed without a
    clamp, so a pad cell past the grid edge matches no tile). Mirrors
    cover_bbox (cells.py) / the reference's crop->tile-range enumeration
    (level.rs:204-231) — one sequence-product explode, fully native."""
    xmin, ymin, xmax, ymax = rect
    x0, y0 = cell_xy_expr(xmin, ymax, z)  # top-left
    x1, y1 = cell_xy_expr(xmax, ymin, z)
    cells = (
        f"flatten(transform(sequence({x0} - {pad}, {x1} + {pad}), _cx -> "
        f"transform(sequence({y0} - {pad}, {y1} + {pad}), _cy -> {pack_expr(z, '_cx', '_cy')})))"
    )
    return df.selectExpr("*", f"explode({cells}) AS cell_join")


def hot_cells(tiles: DataFrame, fraction: float = HOT_FRACTION) -> DataFrame:
    """Cheap pre-pass: cells holding > fraction of all tiles (skew list),
    as one lazy plan (no job at call time): a hash aggregation per cell,
    then the all-tiles total as an unpartitioned window over its tiny
    output. There are fewer than 1/fraction such cells."""
    counts = tiles.groupBy("cell_join").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.selectExpr("cell_join", f"n > {fraction!r}D * sum(n) OVER () AS _hot")
        .filter("_hot")
        .select("cell_join")
    )


class PreparedQueries:
    """Query-side planning artifacts for pip_join, cacheable across runs:
    the exploded cell cover (qc, cached DataFrame) and the polygon table
    (tiny DataFrame + a collected dict for the edge-matrix refine). In a
    steady-state service these change only when the query set does."""

    def __init__(self, qc: DataFrame, q_polys: DataFrame):
        self.qc = qc
        self.q_polys = q_polys
        self._polys_dict: dict | None = None

    def polys_dict(self) -> dict:
        if self._polys_dict is None:
            self._polys_dict = {
                r["query_id"]: (
                    np.asarray(r["poly_x"], dtype=np.float64),
                    np.asarray(r["poly_y"], dtype=np.float64),
                )
                for r in self.q_polys.collect()
            }
        return self._polys_dict

    def edge_matrices(self) -> tuple[dict, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Padded per-query edge matrices for the fully-vectorized refine:
        (query_id -> row index, X1, Y1, X2, Y2) each of shape (Q, max_edges).
        Padding edges have y1 == y2 == 0, so they never straddle the ray
        (even-odd) nor count as an up or down edge (nonzero)."""
        polys = self.polys_dict()
        qids = sorted(polys)
        max_e = max(len(polys[q][0]) for q in qids)
        Q = len(qids)
        X1 = np.zeros((Q, max_e))
        Y1 = np.zeros((Q, max_e))
        X2 = np.zeros((Q, max_e))
        Y2 = np.zeros((Q, max_e))
        for qi, q in enumerate(qids):
            vx, vy = polys[q]
            m = len(vx)
            X1[qi, :m], Y1[qi, :m] = vx, vy
            X2[qi, :m], Y2[qi, :m] = np.roll(vx, -1), np.roll(vy, -1)
        return {q: i for i, q in enumerate(qids)}, X1, Y1, X2, Y2


def prepare_pip_queries(queries: DataFrame) -> PreparedQueries:
    """Build (and cache) the query-side plan: bbox cells at Z_JOIN + polygon
    table. The cell cover is broadcast per job — kept LEAN: only (query_id,
    cell, bbox); polygon arrays never ride the exploded side. The explode is
    repartitioned first into ``defaultParallelism`` partitions (query tables
    usually arrive as one file split, and a single-task explode would
    serialize every broadcast build); an explicit count, because adaptive
    execution coalesces a by-column exchange of a few KB into one task."""
    q = queries.filter("kind = 'pip'")
    parts = queries.sparkSession.sparkContext.defaultParallelism
    qc = _bbox_cells(
        q.selectExpr(
            "query_id",
            "array_min(poly_x) AS bxmin",
            "array_min(poly_y) AS bymin",
            "array_max(poly_x) AS bxmax",
            "array_max(poly_y) AS bymax",
        ).repartition(parts, "query_id"),
        ("bxmin", "bymin", "bxmax", "bymax"),
        Z_JOIN,
    )
    return PreparedQueries(qc, q.selectExpr("query_id", "poly_x", "poly_y"))


def pip_join(
    tiles: DataFrame,
    queries: DataFrame,
    salt: int = SALT,
    hot: DataFrame | None = None,
    refine: str = "arrow_bcast",
    prepared: PreparedQueries | None = None,
) -> DataFrame:
    """PIP spatial join: polygons x tile-centers -> exact containment rows.

    Plan: queries (pip kind) -> bbox cells at Z_JOIN -> [salt explode on hot
    cells] -> equi-join tiles on (cell_join[, salt]) -> edge-matrix refine
    -> project. Output grain matches FIXTURES.md golden_pip_rows:
    (query_id, image_id, level, tile_idx, caption).

    Salting (``salt`` > 1) collects ``hot`` (default: ``hot_cells(tiles)``)
    and tests membership with one SQL ``IN`` over its fewer than
    1/fraction cells: a hot tile gets ``_salt = pmod(phash, salt)``, a hot
    cover row is replicated ``salt`` times, so each tile still matches one
    copy per query. An empty list joins on ``cell_join`` alone.

    ``refine`` picks the containment rule: ``"arrow_bcast"`` (default) is
    even-odd (crossing number), the formula the DuckDB oracle in
    __spark_entry__.oracle_sql evaluates byte-identically; ``"winding"`` is
    nonzero (winding number). The two agree on simple polygons and differ
    only where a self-intersecting polygon overlaps itself, which nonzero
    counts as inside.
    """
    if refine not in ("arrow_bcast", "winding"):
        raise ValueError(
            f"unknown pip_join refine {refine!r}; expected 'arrow_bcast' or 'winding'"
        )
    if prepared is None:
        prepared = prepare_pip_queries(queries)
    qc = prepared.qc

    t = tiles
    join_keys = ["cell_join"]
    if salt and salt > 1:
        # the skew list is computed once per snapshot in production (it only
        # changes when the data distribution does) — callers amortize it by
        # passing a cached `hot`. It is collected here and spliced in as a
        # literal set: fewer than 1/fraction cells, so no flag join.
        if hot is None:
            hot = hot_cells(tiles)
        cells = sorted(r["cell_join"] for r in hot.collect() if r["cell_join"] is not None)
        if cells:
            is_hot = f"cell_join IN ({', '.join(map(str, cells))})"
            t = t.selectExpr(
                "*", f"CASE WHEN {is_hot} THEN pmod(phash, {salt}) ELSE 0 END AS _salt"
            )
            qc = qc.selectExpr(
                "*",
                f"explode(CASE WHEN {is_hot} THEN sequence(0, {salt - 1}) "
                "ELSE array(0) END) AS _salt",
            )
            join_keys = ["cell_join", "_salt"]

    cand = t.join(F.broadcast(qc), join_keys, "inner")

    # cheap native bbox prune before the refine
    cand = cand.filter("lon_c >= bxmin AND lon_c <= bxmax AND lat_c >= bymin AND lat_c <= bymax")
    # ship only (query_id, lon, lat) through Arrow; the polygon EDGE
    # MATRICES are captured ONCE in the UDF closure. The whole batch is
    # refined in ONE (rows x max_edges) numpy broadcast — no per-group
    # Python loop (a groupby-per-batch variant was 10x slower and capped
    # core scaling).
    qidx, X1, Y1, X2, Y2 = prepared.edge_matrices()
    winding = refine == "winding"

    @pandas_udf(BooleanType())
    def _refine(qid: pd.Series, pxs: pd.Series, pys: pd.Series) -> pd.Series:
        codes = qid.map(qidx).to_numpy(dtype=np.int64)
        X = pxs.to_numpy(dtype=np.float64)[:, None]  # (B, 1)
        Y = pys.to_numpy(dtype=np.float64)[:, None]
        x1, y1 = X1[codes], Y1[codes]  # (B, E)
        x2, y2 = X2[codes], Y2[codes]
        if winding:
            # +1 per upward edge (y1 <= py < y2) with the point strictly
            # left of it, -1 per downward edge (y2 <= py < y1) with the
            # point strictly right; inside iff the sum is nonzero
            cross = (x2 - x1) * (Y - y1) - (X - x1) * (y2 - y1)
            up = (y1 <= Y) & (y2 > Y) & (cross > 0)
            dn = (y2 <= Y) & (y1 > Y) & (cross < 0)
            inside = up.sum(axis=1) != dn.sum(axis=1)
        else:
            # ray cast along +x: an edge crosses iff it straddles py and
            # its crossing lies right of px
            straddle = (y1 > Y) != (y2 > Y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (Y - y1) / (y2 - y1) + x1
            inside = (np.sum(straddle & (X < xint), axis=1) % 2).astype(bool)
        return pd.Series(inside)

    hit = cand.filter(_refine("query_id", "lon_c", "lat_c"))
    return hit.selectExpr("query_id", "image_id", "level", "tile_idx", "caption")


# ---------------------------------------------------------------------------
# region extraction (E2/E3 analog): LOD pick + covering tiles (P6)
# ---------------------------------------------------------------------------


def _overlap_join(images: DataFrame, q: DataFrame, rect: tuple[str, str, str, str]) -> DataFrame:
    """Every (image, query) pair whose rects overlap. ``images`` carries
    its bounds as xmin/ymin/xmax/ymax; ``rect`` names q's rect columns
    (xmin, ymin, xmax, ymax). The equi-join key is the image-centre cell at
    Z_JOIN against the query's broadcast Z_JOIN cover (same key as
    pip_join), then the exact rect-overlap filter runs natively."""
    # image footprints are tiny (<= ~0.5 deg) vs Z_JOIN cells; keying the
    # image by its centre cell and padding the query cover by one cell ring
    # keeps the equi-join lossless for overlap tests. The cover needs no
    # dedup: pack is injective for cx, cy in [-1, 2^Z_JOIN], so each query
    # row's padded sequence product holds every cell once
    qc = _bbox_cells(q, rect, Z_JOIN, pad=1)
    im = images.selectExpr(
        "*", f"{cell_id_expr('(xmin + xmax) / 2', '(ymin + ymax) / 2', Z_JOIN)} AS cell_join"
    )
    x0, y0, x1, y1 = rect
    cand = im.join(F.broadcast(qc), "cell_join", "inner")
    return cand.filter(f"xmin < {x1} AND xmax > {x0} AND ymin < {y1} AND ymax > {y0}")


def _tile_range(u0: str, u1: str, v0: str, v1: str) -> tuple[str, str, str, str]:
    """P6: SQL for (r0, r1, c0, c1), the tile range a normalized crop
    [u0, u1] x [v0, v1] (SQL operands) covers on a level row's tile grid
    (floor .. ceil-1, clamped to the grid; level.rs:204-231)."""

    def span(a: str, b: str, dim: str, tile: str, n: str) -> tuple[str, str]:
        clamp = lambda e: f"GREATEST(0, LEAST({n} - 1, {e}))"  # noqa: E731
        return clamp(f"FLOOR(({a}) * {dim} / {tile})"), clamp(f"CEIL(({b}) * {dim} / {tile}) - 1")

    return (*span(v0, v1, "lh", "tile_h", "rows"), *span(u0, u1, "lw", "tile_w", "cols"))


def _explode_tiles(
    df: DataFrame, r0: str, r1: str, c0: str, c1: str, outer: bool = False
) -> DataFrame:
    """One row per tile_idx of each row's tile range r0..r1 x c0..c1 (SQL
    operands) on its level grid (``cols``), rows outer. ``outer`` keeps a
    row whose range is null, with a null tile_idx."""
    ex = "explode_outer" if outer else "explode"
    idx = (
        f"flatten(transform(sequence({r0}, {r1}), _r -> "
        f"transform(sequence({c0}, {c1}), _c -> CAST(_r * cols + _c AS INT))))"
    )
    return df.selectExpr("*", f"{ex}({idx}) AS tile_idx")


def _lod_pick(cand: DataFrame, ok: Callable[[str, str], str]) -> DataFrame:
    """The LOD pick: of each image's levels keep the greatest where ``ok``
    holds, else level 0. ``ok(lw, lh)`` returns SQL over a level's dims
    (SQL operands); a null counts as false.

    Level dims only shrink, so ``ok`` (a resolution test) holds on a
    prefix of the levels, and the pick is row-local, like the reference's
    level-by-level test (cog/mod.rs:218-236): a row is kept when ``ok``
    holds there and the row is its image's last level (grid.levels_expr)
    or ``ok`` fails at level + 1, or when it is level 0 and ``ok`` fails
    there. One filter, no window and no exchange.

    Precondition: ``cand`` holds every level of each image's pyramid (per
    query, where there are queries), as levels_df gives and every caller
    passes; an image whose picked level is absent gets no row."""
    here = f"COALESCE({ok('lw', 'lh')}, false)"
    coarser = ok(level_dim_expr("w", "level + 1"), level_dim_expr("h", "level + 1"))
    last = f"(lw <= tile_w AND lh <= tile_h) OR level = {MAX_LEVELS - 1}"
    return cand.filter(
        f"({here} AND ({last} OR NOT COALESCE({coarser}, false))) OR (level = 0 AND NOT {here})"
    )


def region_extract_picked(levels: DataFrame, queries: DataFrame) -> DataFrame:
    """The PRE-EXPLOSION region-extract relation: one row per
    (query, image) with the LOD-picked level, full level/render params,
    and the covered tile-range rectangle as columns (tr0..tr1, tc0..tc1).
    region_render and region_render_blocked consume this directly, so the
    spatial join runs once and the pruned range and the render params
    travel as data instead of through re-joins.

    Output columns: query_id, image_id, level + level params + the query's
    render params (res_w/res_h too when the queries carry them) +
    tr0/tr1/tc0/tc1."""
    # output dims from megapixel cap + aspect (O4, util.rs:131-142)
    aspect = "((rxmax - rxmin) / (rymax - rymin))"
    out_h = f"SQRT(mp_limit * 1000000.0D / {aspect})"
    out_w = f"({aspect} * {out_h})"
    res_cols = [c for c in ("res_w", "res_h") if c in queries.columns]
    q = queries.filter("kind = 'region'").selectExpr(
        "query_id", "rxmin", "rymin", "rxmax", "rymax", "mp_limit", *res_cols,
        f"(rxmax - rxmin) / {out_w} AS req_x",
        f"(rymax - rymin) / {out_h} AS req_y",
    )

    cand = _overlap_join(levels, q, ("rxmin", "rymin", "rxmax", "rymax"))
    # LOD: greatest level whose pixel scale beats the requirement, else 0
    picked = _lod_pick(
        cand,
        lambda lw, lh: (
            f"GREATEST((xmax - xmin) / {lw}, (ymax - ymin) / {lh}) < LEAST(req_x, req_y)"
        ),
    )
    # crop rect -> normalized image coords (P3 affine with the y flip),
    # clamped to [0,1] (UnitFloat, primatives.rs:48-50)
    clamp = lambda c: f"GREATEST(0.0D, LEAST(1.0D, {c}))"  # noqa: E731
    picked = picked.selectExpr(
        "*",
        f"{clamp('(rxmin - xmin) / (xmax - xmin)')} AS cu0",
        f"{clamp('(rxmax - xmin) / (xmax - xmin)')} AS cu1",
        f"{clamp('(ymax - rymax) / (ymax - ymin)')} AS cv0",
        f"{clamp('(ymax - rymin) / (ymax - ymin)')} AS cv1",
    )
    r0, r1, c0, c1 = _tile_range("cu0", "cu1", "cv0", "cv1")
    return picked.selectExpr(
        "*",
        f"CAST({r0} AS INT) AS tr0",
        f"CAST({r1} AS INT) AS tr1",
        f"CAST({c0} AS INT) AS tc0",
        f"CAST({c1} AS INT) AS tc1",
    )


def region_extract(levels: DataFrame, queries: DataFrame) -> DataFrame:
    """For each 'region' query: images intersecting the lon/lat rect, the
    LOD-selected level (sane variant of cog/mod.rs:218-236 + util.rs:34-100,
    see SURVEY.md §1.3), and the covering tile indices (level.rs:204-231).

    Output: (query_id, image_id, level, tile_idx) — the exploded form of
    region_extract_picked's (tr0..tr1) x (tc0..tc1) rectangle."""
    out = _explode_tiles(region_extract_picked(levels, queries), "tr0", "tr1", "tc0", "tc1")
    return out.selectExpr("query_id", "image_id", "level", "tile_idx")


# ---------------------------------------------------------------------------
# WMTS slippy tiles (F11/F12, render/wmts.rs) — fully native column math
# ---------------------------------------------------------------------------

_LAT_LIMIT = 85.05112878  # web-mercator clamp (wmts.rs:9-11)


def wmts_enumerate(meta: DataFrame, max_z: int = 18, tile_px: int = 256) -> DataFrame:
    """Per image: all web-mercator (z, x, y) tiles covering its bounds for
    z in [min_z, max_z_img] (tile-tree enumeration, wmts.rs:22-113):

    - min_z: coarsest z where the image spans <= ~one tile on both axes,
    - max_z_img: z where the slippy tile resolution (360/(2^z*tile_px)
      deg/px) reaches the image's own base pixel scale — rendering deeper
      gains nothing (wmts.rs:84-109 semantics).

    Output: (image_id, z, x, y). Pure native math: log2/floor/asinh/tan.
    """
    # cap min_z at max_z: tiny images enumerate exactly one tile at max_z.
    # (also keeps the sequence ascending — Spark would happily generate a
    # DESCENDING sequence for min_z > max_z, DuckDB an empty one)
    min_z = f"least({max_z}, greatest(0, CAST(floor(log2(360.0D / (xmax - xmin))) AS INT)))"
    # s_x = (xmax - xmin) / w: the base level's deg/px
    max_z_img = (
        f"least({max_z}, greatest({min_z}, "
        f"CAST(ceil(log2(360.0D / ((xmax - xmin) / w * {tile_px}))) AS INT)))"
    )
    n = "CAST(power(2.0D, z) AS BIGINT)"

    def clamp(c: str) -> str:
        return f"greatest(CAST(0 AS BIGINT), least({n} - 1, {c}))"

    def merc_y(lat: str) -> str:
        t = f"tan(radians(greatest({-_LAT_LIMIT}D, least({_LAT_LIMIT}D, {lat}))))"
        # asinh spelled out (ln(t+sqrt(t^2+1))) so the DuckDB oracle (which
        # has no asinh) evaluates the byte-identical expression tree
        return clamp(f"floor((1.0D - ln({t} + sqrt({t} * {t} + 1.0D)) / {np.pi}D) / 2.0D * {n})")

    x0, x1 = (clamp(f"floor(({lon} + 180.0D) / 360.0D * {n})") for lon in ("xmin", "xmax"))
    return (
        meta.selectExpr("*", f"explode(sequence({min_z}, {max_z_img})) AS z")
        .selectExpr("*", f"explode(sequence({x0}, {x1})) AS x")
        # ymax (north) -> smaller y
        .selectExpr("*", f"explode(sequence({merc_y('ymax')}, {merc_y('ymin')})) AS y")
        .selectExpr("image_id", "z", "CAST(x AS BIGINT) AS x", "CAST(y AS BIGINT) AS y")
    )


def slippy_bounds_np(qx, qy, qz):
    """Slippy tile (x, y, z) -> lon/lat bounds (txmin, tymin, txmax,
    tymax) in numpy float64 — the same math as wmts_lookup's native
    expressions (wmts.rs:124-141), but evaluated in numpy so the
    DISTRIBUTED wmts_render path (mapInPandas) and the sequential
    oracle_expected recompute share ONE definition and produce
    bit-identical doubles (JVM Math.exp/atan are not guaranteed to agree
    with C libm to the last ulp; a last-ulp latitude difference could
    flip a pixel floor in the render gather)."""
    qx = np.asarray(qx, np.float64)
    qy = np.asarray(qy, np.float64)
    n = np.power(2.0, np.asarray(qz, np.float64))
    txmin = qx / n * 360.0 - 180.0
    txmax = (qx + 1.0) / n * 360.0 - 180.0
    v1 = np.pi * (1.0 - 2.0 * qy / n)
    v2 = np.pi * (1.0 - 2.0 * (qy + 1.0) / n)
    tymax = np.degrees(np.arctan((np.exp(v1) - np.exp(-v1)) / 2.0))
    tymin = np.degrees(np.arctan((np.exp(v2) - np.exp(-v2)) / 2.0))
    return txmin, tymin, txmax, tymax


def wmts_lookup(meta: DataFrame, queries: DataFrame) -> DataFrame:
    """Images intersecting a queried slippy tile (query kind 'wmts').

    Inverse slippy math (wmts.rs:124-179): tile (x,y,z) -> lon/lat bounds
    via atan(sinh(...)), then a native bbox-overlap join. Output:
    (query_id, image_id).
    """
    n = "CAST(power(2.0D, qz) AS BIGINT)"

    def lat(qy: str) -> str:
        v = f"(1.0D - {qy} * 2.0D / {n}) * {np.pi}D"
        # sinh spelled out for DuckDB-oracle expression parity (no sinh in
        # DuckDB 1.0)
        return f"degrees(atan((exp({v}) - exp(-({v}))) / 2.0D))"

    q = queries.filter("kind = 'wmts'").selectExpr(
        "query_id", "qx", "qy", "qz",
        f"qx / {n} * 360.0D - 180.0D AS t_xmin",
        f"(qx + 1) / {n} * 360.0D - 180.0D AS t_xmax",
        f"{lat('qy')} AS t_ymax",
        f"{lat('(qy + 1)')} AS t_ymin",
    )
    hit = _overlap_join(meta, q, ("t_xmin", "t_ymin", "t_xmax", "t_ymax"))
    return hit.selectExpr("query_id", "image_id")
