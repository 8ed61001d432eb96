"""Physical-plan regression guards: the benchmark pipeline must keep the
plan shape it was tuned to (broadcast equi-joins, no cartesian products,
parquet column pruning). Catching an accidental plan regression here is
cheaper than re-profiling (SURVEY.md §4)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def plans(spark, sf_small):
    from cloudtiff_spark.operators.meta import tile_assignments
    from cloudtiff_spark.operators.spatial import pip_join

    meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
    queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
    ta = tile_assignments(meta)
    pj = pip_join(ta, queries)
    return {
        "ta": ta._jdf.queryExecution().executedPlan().toString(),
        "pip": pj._jdf.queryExecution().executedPlan().toString(),
    }


class TestPlanShape:
    def test_no_cartesian_product(self, plans):
        for name, plan in plans.items():
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name

    def test_pip_uses_broadcast_hash_join(self, plans):
        assert "BroadcastHashJoin" in plans["pip"]

    def test_tile_assignment_is_scan_plus_generate(self, plans):
        # the assignment stage must stay shuffle-free: scan -> explodes
        assert "Exchange hashpartitioning" not in plans["ta"]
        assert "Generate explode" in plans["ta"]

    def test_quarantine_anti_join_is_lean(self, spark, sf_small):
        """The quarantine anti join must ship only (image_id[, fmt]) —
        never the payload bytes — and stay hash-join shaped (no nested
        loop / cartesian)."""
        from cloudtiff_spark.operators.decode import quarantine

        images = spark.read.parquet(os.path.join(sf_small, "images.parquet"))
        plan = quarantine(images)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the joins above the decode stage must not carry the binary column
        after_join = plan.split("Join")[0]  # topmost section above first join
        assert "bytes" not in after_join

    def test_column_pruning_reaches_scan(self, spark, sf_small):
        # a 2-column projection must not read the wide schema
        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        plan = (
            meta.select("image_id", "epsg")._jdf.queryExecution().executedPlan().toString()
        )
        assert "ReadSchema: struct<image_id:string,epsg:int>" in plan

    def test_filter_pushdown_reaches_scan(self, spark, sf_small):
        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        plan = (
            meta.filter(F.col("epsg") == 4326)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [IsNotNull(epsg), EqualTo(epsg,4326)]" in plan


class TestPlanBuildRoundTrips:
    """Building the benchmarked plans must stay a few hundred py4j round
    trips: each stage is one selectExpr of SQL text, and get_spark turns
    off PySpark's per-call call-site capture. A projection written as
    chained Column calls costs round trips per operator and breaks these
    budgets by thousands."""

    #: py4j commands per build, with headroom over the measured
    #: 170 / 280 / 130 / 52 / 30 (the WMTS pair as chained Column calls:
    #: 152 / 347)
    BUDGET = {"pip": 400, "region": 500, "crop": 250, "wmts_lookup": 100, "wmts_enum": 80}

    @staticmethod
    def _commands(spark, build) -> int:
        """py4j commands this thread sends while ``build()`` runs; garbage
        collection notices (sent by py4j's finalizer thread) do not count."""
        import threading

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()
        n = 0

        def counting(command, *args, **kwargs):
            nonlocal n
            if threading.get_ident() == me and not command.startswith("m\n"):
                n += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            build()
        finally:
            del client.send_command  # the class method again
        return n

    def test_build_budgets(self, spark, sf_small):
        from cloudtiff_spark.operators.meta import levels_df, tile_assignments
        from cloudtiff_spark.operators.render import crop_render, region_render
        from cloudtiff_spark.operators.spatial import (
            hot_cells,
            pip_join,
            prepare_pip_queries,
            wmts_enumerate,
            wmts_lookup,
        )
        from cloudtiff_spark.operators.tiling import build_tiles

        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
        images = spark.read.parquet(os.path.join(sf_small, "images.parquet"))
        hot = hot_cells(tile_assignments(meta))
        prepared = prepare_pip_queries(queries)
        prepared.polys_dict()  # the one collect pip_join would run
        levels, tiles = levels_df(meta), build_tiles(images)
        builds = {
            "pip": lambda: pip_join(tile_assignments(meta), queries, hot=hot, prepared=prepared),
            "region": lambda: region_render(levels, tiles, queries),
            "crop": lambda: crop_render(levels, tiles, (0.1, 0.2, 0.9, 0.8), mp_limit=0.01),
            "wmts_lookup": lambda: wmts_lookup(meta, queries),
            "wmts_enum": lambda: wmts_enumerate(meta),
        }
        for name, build in builds.items():
            build()  # first-use lookups are not per-build cost
            n = self._commands(spark, build)
            assert n <= self.BUDGET[name], (name, n)


class TestLshPayloadShape:
    """The LSH fan-outs must stay payload-free: the band/bucket (minhash)
    and table/bucket (cosine) explodes may carry only ids + keys. Shingle
    arrays / embedding vectors ride the plan only AFTER candidate-pair
    dedup, re-joined by id (round-2 de-amplification — a corpus byte must
    never be shuffled bands/n_tables times)."""

    def _generate_lines(self, plan: str, generate_marker: str) -> list[str]:
        # a Generate node prints `Generate <generator>, [pass-through cols],
        # ...` — the pass-through list IS the fan-out payload
        return [line for line in plan.splitlines() if generate_marker in line]

    def test_minhash_band_explode_is_lean(self, spark):
        from cloudtiff_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            minhash_lsh_pairs(docs, tau=0.15)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the band struct mentions sig-array lambdas, so split off the
        # pass-through section after the generator expression
        gens = self._generate_lines(plan, "Generate explode(array(struct(band")
        assert gens, "band explode not found in plan"
        for g in gens:
            passthrough = g.rsplit(")), [", 1)[-1]
            assert "shingles" not in passthrough, g[:200]

    def test_lsh_cosine_table_explode_is_lean(self, spark):
        from cloudtiff_spark.operators.dedup import lsh_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            lsh_cosine_topk(emb, [0, 7, 13], k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        gens = self._generate_lines(plan, "Generate posexplode(sig")
        assert gens, "table explode not found in plan"
        for g in gens:
            assert "vec" not in g and "embedding" not in g, g[:200]

    def test_graded_embed_near_dup_is_the_lsh_plan(self, spark, monkeypatch):
        """The graded query must run the scale path: no driver-side
        collect of the embeddings table (round-3 verdict What's wrong #2)
        and BUCKET-LOCAL verification (r7): candidates are verified by a
        per-(table, bucket) numpy matmul inside FlatMapGroupsInPandas —
        the plan must contain NO join at all (the earlier candidate-PAIR
        self-join + vector re-attach joins were quadratic in Spark rows
        at tau=0.3, where LSH tables cannot prune random pairs; the
        round-6 driver record measured 101 s at sf1.0). Vectors riding
        the table fan-out ONCE (linear in n) is the deliberate trade."""
        import __spark_entry__ as E
        from cloudtiff_spark.operators import dedup

        def _boom(*a, **k):
            raise AssertionError("graded embed_near_dup took the exact/collect path")

        monkeypatch.setattr(dedup, "_embed_near_dup_exact", _boom)
        out = E.queries()["embed_near_dup"](spark, "/root/testdata/sf0.001")
        plan = out._jdf.queryExecution().executedPlan().toString()
        gens = self._generate_lines(plan, "Generate posexplode(sig")
        assert gens, "LSH table explode not found — not the scale path?"
        assert "FlatMapGroupsInPandas" in plan, "bucket-local verify missing"
        assert "Join" not in plan, "pair-grain join crept back into the LSH path"


class TestBlockedRenderPlanShape:
    """Scale pins for the block-tiled render (review r5 pass 2): the tile
    PAYLOAD must flow through exactly one join keyed by per-block ranges,
    and nothing may shuffle rasters or payloads per (query, image)."""

    @pytest.fixture(scope="class")
    def blocked_plan(self, spark, sf_small):
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render_blocked
        from cloudtiff_spark.operators.tiling import build_tiles

        images = spark.read.parquet(os.path.join(sf_small, "images.parquet"))
        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
        out = region_render_blocked(levels_df(meta), build_tiles(images), queries, block=64)
        return out._jdf.queryExecution().executedPlan().toString()

    def test_no_cartesian(self, blocked_plan):
        assert "CartesianProduct" not in blocked_plan
        assert "BroadcastNestedLoopJoin" not in blocked_plan

    def test_payload_joined_exactly_once(self, blocked_plan):
        # the ONE LeftOuter join is the tile-payload join; the existence
        # gate is keys-only semi-join machinery. A second outer join (or
        # any Window) would mean the probe/window regressions — shipping
        # payloads or rasters into one task per render — came back.
        # (Join header lines never print output columns, so this counts
        # join TYPES rather than grepping for tile_bytes on the header —
        # the earlier form of this guard was vacuous, review r5 pass 3.)
        assert blocked_plan.count("LeftOuter") == 1, blocked_plan[:2000]

    def test_no_per_render_window_over_blocks(self, blocked_plan):
        # a Window evaluated over BLOCK rows shuffles every block raster
        # into one partition per render — the exact shape review pass 2
        # removed. region_extract's LOD pick is a row-local filter, so no
        # Window is allowed at all.
        for line in blocked_plan.splitlines():
            assert "Window" not in line, line.strip()[:200]

    def test_existence_gate_is_semi_join(self, blocked_plan):
        assert "LeftSemi" in blocked_plan


class TestRenderAssembleParallelism:
    """The Python assemble (decode + gather) of region_render and
    crop_render runs one task per core. The final adaptive plan holds no
    LOD window, whose exchange on (query_id, image_id) once replaced the
    assemble's own, and the assemble stage reads its shuffle uncoalesced
    (adaptive execution sizes a coalesced read by bytes and ran the whole
    assemble of a few small tile-ref rows as one or two tasks)."""

    @pytest.fixture(scope="class")
    def final_plans(self, spark, sf_small):
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import crop_render, region_render
        from cloudtiff_spark.operators.tiling import build_tiles

        images = spark.read.parquet(os.path.join(sf_small, "images.parquet"))
        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
        levels, tiles = levels_df(meta), build_tiles(images)
        out = {
            "region": region_render(levels, tiles, queries),
            "crop": crop_render(levels, tiles, (0.1, 0.2, 0.9, 0.8), mp_limit=0.01),
        }
        plans = {}
        for name, df in out.items():
            assert df.collect(), name  # runs this plan: count() would plan another
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return plans

    @staticmethod
    def _assemble_stage(plan: str) -> list[str]:
        """The final plan's lines from the assemble MapInPandas (the root)
        down to the shuffle stage it reads."""
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        lines = final.splitlines()
        top = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
        end = next(i for i in range(top, len(lines)) if "ShuffleQueryStage" in lines[i])
        return lines[top : end + 1]

    def test_no_window(self, final_plans):
        for name, plan in final_plans.items():
            assert "isFinalPlan=true" in plan, name
            assert "Window" not in plan.split("== Initial Plan ==")[0], name

    def test_assemble_read_not_coalesced(self, final_plans):
        for name, plan in final_plans.items():
            stage = self._assemble_stage(plan)
            assert not any("AQEShuffleRead" in line and "coalesced" in line for line in stage), (
                name,
                "\n".join(stage),
            )


class TestBlockedCogSinkPlanShape:
    """The blocked COG sink over one 300x200 image at tile 64 (4 levels).
    Each overview level is one source-side feed over the previous level's
    raw tiles, then the per-dest-tile resample; the pyramid caches
    nothing, and one action runs each level's resample exchange once,
    reusing it for that level's compress and the next level's feed.

    Encode + assemble + collect, 8 shuffle partitions: 18 jobs and 52
    stages with every level persisted (the settings aggregate, as the
    first action over them, submitted each level's exchange as a job of
    its own), 10 jobs and 26 stages with the lazy pyramid and a
    local-checkpointed assemble input."""

    JOBS = 10

    @pytest.fixture(scope="class")
    def inputs(self, spark):
        import numpy as np

        from cloudtiff_spark.grid import num_levels
        from cloudtiff_spark.operators.cogsink import blocks_from_images

        w, h = 300, 200
        assert num_levels(w, h, 64, 64) == 4
        arr = np.zeros((h, w, 3), np.uint8)
        images = spark.createDataFrame(
            [("p", bytearray(arr.tobytes()), w, h, 3, "uint8")],
            "image_id string, raster binary, w int, h int, c int, dtype string",
        )
        meta = spark.createDataFrame(
            [("p", w, h, 3, "uint8", 32633, 0.0, 0.0, 1.0)],
            "image_id string, w int, h int, c int, dtype string, epsg int, "
            "origin_x double, origin_y double, scale_px double",
        )
        return blocks_from_images(images, tile=64), meta

    def test_overview_levels_join_nothing(self, inputs):
        """No level may pair tiles through a join, which moves raw
        payloads through an extra exchange per level."""
        from cloudtiff_spark.operators.cogsink import encode_cog_blocked

        blocks, meta = inputs
        plan = encode_cog_blocked(blocks, meta, tile=64)._jdf.queryExecution().executedPlan()
        plan = plan.toString()
        assert plan.count("MapInPandas") >= 3, plan[:2000]  # the plan is all there
        assert "Join" not in plan, plan[:2000]

    @pytest.mark.parametrize("cached", [False, True])
    def test_levels_reuse_exchanges_not_caches(self, inputs, cached):
        """Also over a cached blocks relation, as every caller passes one:
        the copies of its InMemoryRelation in the level plans do not
        canonicalize equal, so reading it straight defeats the reuse."""
        from cloudtiff_spark.operators.cogsink import encode_cog_blocked

        blocks, meta = inputs
        if cached:
            blocks = blocks.cache()
        try:
            tiles = encode_cog_blocked(blocks, meta, tile=64)
            assert tiles.collect()  # runs this plan: the final plan shows the reuse
            plan = tiles._jdf.queryExecution().executedPlan().toString()
        finally:
            blocks.unpersist()
        assert "isFinalPlan=true" in plan, plan
        assert "InMemoryTableScan" not in plan, plan
        # levels 1 and 2 each feed the level after them
        assert plan.count("ReusedExchange") >= 2, plan

    def test_jobs_per_encode_and_assemble(self, spark, inputs):
        from cloudtiff_spark.operators.cogsink import assemble_cogs, encode_cog_blocked

        blocks, meta = inputs

        def run():
            assert assemble_cogs(encode_cog_blocked(blocks, meta, tile=64), meta).collect()

        run()  # warm: first-use broadcasts and code generation
        assert _jobs(spark, run) <= self.JOBS


class TestHeaderScanShape:
    def test_header_scan_reads_only_path_and_length(self, spark, tmp_path):
        """analyze_cog_headers lists files through read_cog_directory; the
        binaryFile scan must still be pruned to (path, length) so the files'
        content is never read — the header-only contract."""
        import re

        import numpy as np

        from cloudtiff_spark import tiff
        from cloudtiff_spark.sources import analyze_cog_headers

        img = np.zeros((64, 64, 3), dtype=np.uint8)
        (tmp_path / "a.tif").write_bytes(tiff.encode_cog(img, 4326, 0.0, 50.0, 1e-4))
        plan = analyze_cog_headers(spark, str(tmp_path))._jdf.queryExecution().executedPlan()
        scans = re.findall(r"FileScan binaryFile \[([^\]]*)\]", plan.toString())
        assert scans
        for cols in scans:
            assert sorted(re.sub(r"#\d+L?$", "", c) for c in cols.split(",")) == [
                "length",
                "path",
            ]


def _jobs(spark, run) -> int:
    """Spark jobs ``run()`` submits, counted in the status tracker under a
    job group of its own (once the listener bus, which fills the tracker
    asynchronously, has drained)."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _force(df) -> None:
    """Evaluate every output column of ``df`` (a bare count would let
    Catalyst prune them)."""
    df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()


class TestSpatialJoinPass:
    """The spatial-join pass is set by how many Spark jobs it runs: each
    action over a persisted relation costs about 0.1 s on a 4-CPU host. kNN carries only
    each query's top k through its rounds and returns the last round's
    checkpoint; pip_join salts hot cells from a literal set instead of two
    LEFT joins against a broadcast flag relation.

    Jobs per call, force-evaluated, on sf_small with meta, the hot list and
    the prepared query cover persisted (8 shuffle partitions; kNN settles
    in two rounds there): ``knn`` ran 13 (a cached point count 3, each
    round 3, the final dedup + rank and the evaluation 4), now 10 (count 2,
    each round 3, evaluation 2); ``pip_join`` ran 5, now 4."""

    KNN_JOBS = 10
    PIP_JOBS = 4

    @pytest.fixture(scope="class")
    def inputs(self, spark, sf_small):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import hot_cells, prepare_pip_queries

        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet")).cache()
        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet")).cache()
        # a low threshold, so sf_small has hot cells to salt
        hot = hot_cells(tile_assignments(meta), fraction=0.005).cache()
        assert hot.count() > 0
        prepared = prepare_pip_queries(queries)
        prepared.qc = prepared.qc.cache()
        prepared.qc.count()
        prepared.polys_dict()
        yield meta, queries, hot, prepared
        # a leaked InMemoryRelation would replace parquet scans in the
        # pushdown / pruning guards above
        for df in (meta, queries, hot, prepared.qc):
            df.unpersist()

    def test_knn_result_plans_no_exchange_or_window(self, inputs):
        from cloudtiff_spark.operators.knn import knn

        meta, queries, _, _ = inputs
        plan = knn(meta, queries)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Window" not in plan, plan

    def test_pip_hot_salting_joins_once(self, inputs):
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        meta, queries, hot, prepared = inputs
        pj = pip_join(tile_assignments(meta), queries, hot=hot, prepared=prepared)
        plan = pj._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "LeftOuter" not in plan, plan
        assert "_salt" in plan, plan  # the hot list is not empty: salting runs

    def test_jobs_per_call(self, spark, inputs):
        from cloudtiff_spark.operators.knn import knn
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import pip_join

        meta, queries, hot, prepared = inputs
        runs = {
            "knn": lambda: _force(knn(meta, queries)),
            "pip": lambda: _force(
                pip_join(tile_assignments(meta), queries, hot=hot, prepared=prepared)
            ),
        }
        for run in runs.values():
            run()  # warm: first-use broadcasts and code generation
        got = {name: _jobs(spark, run) for name, run in runs.items()}
        assert got["knn"] <= self.KNN_JOBS, got
        assert got["pip"] <= self.PIP_JOBS, got



class TestSpatialJoinSetUp:
    """The pass's per-snapshot inputs, on fresh unpersisted reads (a cached
    relation of the same plan would be read instead)."""

    def test_hot_cells_is_lazy_and_exact(self, spark, sf_small):
        """hot_cells runs no job when called, and its plan gives the
        brute-force set of cells holding more than the fraction of tiles."""
        from cloudtiff_spark.operators.meta import tile_assignments
        from cloudtiff_spark.operators.spatial import HOT_FRACTION, hot_cells

        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        ta = tile_assignments(meta)
        cells = ta.select("cell_join").toPandas()["cell_join"]
        per_cell = cells.value_counts()
        for fraction in (HOT_FRACTION, 0.005):
            box = []
            assert _jobs(spark, lambda: box.append(hot_cells(ta, fraction))) == 0
            want = set(per_cell[per_cell > fraction * len(cells)].index)
            assert {r["cell_join"] for r in box[0].collect()} == want, fraction
        assert per_cell.max() > 0.005 * len(cells)  # the low threshold flags a cell

    def test_pip_cover_explode_not_coalesced(self, spark, sf_small):
        """The cell-cover explode reads its repartition uncoalesced on a
        fresh, unpersisted read: adaptive execution would run a by-column
        exchange of a few KB of polygons as one task."""
        from cloudtiff_spark.operators.spatial import prepare_pip_queries

        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
        qc = prepare_pip_queries(queries).qc
        assert qc.collect()
        plan = qc._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        assert "Generate explode" in final, final
        assert not any("AQEShuffleRead" in ln and "coalesced" in ln for ln in final.splitlines()), final


class TestRegionRenderReadsPickedParams:
    """region_render takes each (query, image) pair's level and query
    render params from the extract relation itself: the optimized plan
    holds the cell-key overlap join and the tile join only, and scans the
    image metadata once. wmts_render's slippy bounds are one MapInPandas,
    so they are evaluated once per call."""

    @pytest.fixture(scope="class")
    def optimized(self, spark, sf_small):
        from cloudtiff_spark.operators.meta import levels_df
        from cloudtiff_spark.operators.render import region_render, wmts_render
        from cloudtiff_spark.operators.tiling import build_tiles

        read = lambda name: spark.read.parquet(os.path.join(sf_small, f"{name}.parquet"))  # noqa: E731
        levels, tiles = levels_df(read("images_meta")), build_tiles(read("images"))
        queries = read("queries")
        return {
            name: df._jdf.queryExecution().optimizedPlan().toString()
            for name, df in (
                ("region", region_render(levels, tiles, queries)),
                ("wmts", wmts_render(levels, tiles, queries)),
            )
        }

    def test_no_join_against_levels(self, optimized):
        for name, plan in optimized.items():
            lines = plan.splitlines()
            assert sum(" Join " in ln for ln in lines) == 2, (name, plan)
            meta_scans = [ln for ln in lines if "Relation [" in ln and "origin_x" in ln]
            assert len(meta_scans) == 1, (name, plan)

    def test_wmts_bounds_planned_once(self, optimized):
        plan = optimized["wmts"]
        assert plan.count("MapInPandas bounds(") == 1, plan
