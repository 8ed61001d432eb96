"""kNN via grid-cell ring expansion (J5 — north-rule operator).

No reference analog exists (SURVEY.md §2.3 J5); the ring search generalizes
the reference's rectangle enumeration (level.rs:204-231). Semantics:

- candidate set: one point per image = the center of its EPSG:4326 bounds,
- metric: squared euclidean distance in lon/lat degrees (documented; the
  fixture band excludes the antimeridian so no wraparound),
- result: top-k per query, ties broken by image_id ascending
  (FIXTURES.md golden_knn).

Algorithm (driver-side iteration, each round fully native + one Arrow-free
join): scan cells in growing chebyshev rings around the query cell at
Z_KNN. A query finishes when it holds >= k candidates whose k-th smallest
distance is provably closer than anything outside the scanned block: every
unscanned point is > R * (180/2^z) degrees away (the lat cell span is the
smaller of the two, see cells.py). Rings are scanned in geometrically
growing batches so the number of Spark rounds is O(log(world/cell)).

Each round keeps only the top k per query (rows carried from the last
round plus the new ring's candidates, deduplicated per image, behind one
exchange) and checkpoints it, so the last round's checkpoint is the
result and a duplicated image row counts once. Spark jobs, not rows, set
the cost at these sizes: a point count, then three per round (the ring
broadcast, the exchange, the collect); the result plans no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import cell_xy_expr

Z_KNN = 4  # 16x16 world grid: hot fixtures resolve in 1-2 rounds
#: a candidate's rank within its query: distance, then image_id, ascending;
#: a null-distance pad row ranks after every candidate
_RANK = (
    "row_number() OVER (PARTITION BY query_id ORDER BY dist_sq ASC NULLS LAST, image_id ASC)"
)


def _image_points(meta: DataFrame) -> DataFrame:
    lon, lat = "(xmin + xmax) / 2", "(ymin + ymax) / 2"
    cx, cy = cell_xy_expr(lon, lat, Z_KNN)
    return meta.selectExpr(
        "image_id", f"{lon} AS ilon", f"{lat} AS ilat", f"{cx} AS icx", f"{cy} AS icy"
    )


def knn(meta: DataFrame, queries: DataFrame, z: int = Z_KNN, max_rounds: int = 8) -> DataFrame:
    """Output: (query_id, rank, image_id) for 'knn' queries.

    The first round's radius is sized from the measured point density so
    typical queries settle immediately; rings then grow x4. Each round
    carries only the top k per query:

    - the union of the round's ring candidates (the ring is the broadcast
      build side, the image points stream), one null-distance pad row per
      still-active query and the rows carried from the last round goes
      through ONE ``repartition(defaultParallelism, "query_id")`` (an
      explicit count is never coalesced, and hashing on query_id also
      clusters the (query_id, image_id) window, so both windows share it),
    - a (query_id, image_id) dedup window, then the rank window (distance,
      then image_id; the pad ranks last), keeps rank <= k and is
      ``localCheckpoint``-ed: the next round's carried rows,
    - one driver collect of the unsettled query ids (a pad survived, so
      the query holds fewer than k candidates, or its k-th distance lies
      beyond the ring bound) is that checkpoint's materializing action.

    This is exact: top-k(A u B) = top-k(top-k(A) u B) under the
    (dist_sq, image_id) order, and scanning a superset of rings never
    changes the exact top-k. The result is the last checkpoint's real rows,
    so it plans no exchange and no window."""
    n = 1 << z
    lat_span = 180.0 / n  # min cell span in degrees

    pts = _image_points(meta)
    qcx, qcy = cell_xy_expr("px", "py", z)
    q = queries.filter("kind = 'knn'").selectExpr(
        "query_id", "px", "py", "k", f"{qcx} AS qcx", f"{qcy} AS qcy"
    )

    # density-sized first radius: expect >= ~4*k candidates in the first
    # scanned block so the common query terminates in one round
    n_pts = pts.count()
    if n_pts == 0:
        # no candidate points: every query "scans the world" and finds
        # nothing — return the empty result without looping
        return q.selectExpr("query_id", "CAST(1 AS INT) AS rank", "'' AS image_id").limit(0)
    density = n_pts / float(n * n)
    k_hint = 16.0  # fixture k's are single-digit; 4*k headroom
    r0 = 0
    while (2 * r0 + 1) ** 2 * density < 4.0 * k_hint and r0 < n:
        r0 += 1

    parts = meta.sparkSession.sparkContext.defaultParallelism
    active = q  # the still-active queries
    top: DataFrame | None = None  # the last round's top k per query
    r_lo = 0  # rings [r_lo, r_hi] scanned this round
    r_hi = r0
    for _ in range(max_rounds):
        # enumerate this round's ring cells (chebyshev distance in
        # [r_lo, r_hi]) — O(annulus), not O(square): rows with |dy| >= r_lo
        # span the full dx range; interior rows only the two side strips.
        # (r_lo == 0 always takes the full-range branch, so no duplicates.)
        # one (icx, icy) struct per ring cell, rows (_dy) outer
        dx = (
            f"CASE WHEN abs(_dy) >= {r_lo} THEN sequence({-r_hi}, {r_hi}) "
            f"ELSE concat(sequence({-r_hi}, {-r_lo}), sequence({r_lo}, {r_hi})) END"
        )
        ring = active.selectExpr(
            "*",
            f"inline(flatten(transform(sequence({-r_hi}, {r_hi}), _dy -> transform({dx}, "
            "_dx -> named_struct('icx', qcx + _dx, 'icy', qcy + _dy)))))",
        ).filter(f"icx >= 0 AND icx < {n} AND icy >= 0 AND icy < {n}")
        cand = (
            F.broadcast(ring)
            .join(pts, ["icx", "icy"], "inner")
            .selectExpr(
                "query_id",
                "k",
                "image_id",
                "(ilon - px) * (ilon - px) + (ilat - py) * (ilat - py) AS dist_sq",
            )
            .unionByName(
                active.selectExpr(
                    "query_id", "k", "CAST(NULL AS STRING) AS image_id",
                    "CAST(NULL AS DOUBLE) AS dist_sq",
                )
            )
        )
        if top is not None:
            cand = cand.unionByName(top.filter("image_id IS NOT NULL").drop("rank"))
        top = (
            cand.repartition(parts, "query_id")
            .selectExpr(
                "*",
                "row_number() OVER (PARTITION BY query_id, image_id ORDER BY dist_sq ASC) AS _dup",
            )
            .filter("_dup = 1")
            .selectExpr("query_id", "k", "image_id", "dist_sq", f"{_RANK} AS rank")
            .filter("rank <= k")
            .localCheckpoint(eager=False)
        )

        # a query is settled when its k-th candidate beats the ring bound,
        # or the whole world has been scanned. Settled queries' rows are
        # carried too, but their candidates never change while the bound
        # only grows, so they stay settled.
        guard = (r_hi * lat_span) ** 2
        active_ids = [
            r["query_id"]
            for r in top.filter(
                f"image_id IS NULL OR (rank = k AND dist_sq > {guard!r}D)"
            ).select("query_id").collect()
        ]
        if not active_ids or r_hi >= n:
            break
        # isin over the active-id list is right at the query counts this
        # operator sees (the vector side is small by design — pip_join
        # broadcasts it whole); a service with 10^5+ concurrent knn
        # queries should swap this for a left_anti join against a
        # done-ids relation to keep the per-round plan size bounded
        active = q.filter(F.col("query_id").isin(active_ids))
        r_lo = r_hi + 1
        r_hi = max(1, r_hi * 4)  # geometric ring growth
    else:
        raise RuntimeError("kNN ring expansion did not converge")

    return top.filter("image_id IS NOT NULL").selectExpr("query_id", "rank", "image_id")
