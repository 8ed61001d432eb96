"""Benchmark: north-star stage = tile assignment + cell-keyed PIP join.

Prints ONE JSON line:
  {"metric": ..., "value": <headline stage sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": ..., "throughput_rows_per_sec": ...,
   "cpus": ..., "tiles": ..., "joined_rows": ...}

Env:
  SPARK_GRAFT_SF_DIR  input scale dir (default /root/testdata/sf0.1);
                      mapped to the deterministic fixture of the same scale
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_ITERS         steady-state iterations for the headline stage (5)

The headline is steady-state stage throughput: inputs are cached and the
stage is run BENCH_ITERS times; the best run is reported (SURVEY.md §6 —
the scaling criterion compares this number between local[8] and local[32],
see tools/bench_scaling.py).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def force_eval(df: DataFrame) -> int:
    """Count rows while forcing EVERY output column to be computed —
    a bare count() lets Catalyst prune the projected columns away."""
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).first()
    return row["n"]


def time_query(
    fn: Callable[[SparkSession, str], DataFrame],
    spark: SparkSession,
    sf_dir: str,
    qiters: int,
    heavy_iters: int,
) -> list[float]:
    """Wall seconds of each pass of ``force_eval(fn(spark, sf_dir))``: the
    first is cold, the best is the warm figure. A query whose best warm
    pass is still > 2 s gets extra passes up to heavy_iters total."""
    times = []
    for _ in range(max(1, qiters)):
        t0 = time.time()
        force_eval(fn(spark, sf_dir))
        times.append(round(time.time() - t0, 3))
    while len(times) < heavy_iters and min(times[1:] or times) > 2.0:
        t0 = time.time()
        force_eval(fn(spark, sf_dir))
        times.append(round(time.time() - t0, 3))
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    iters = int(os.environ.get("BENCH_ITERS", "5"))  # best-of; the multi-tenant host needs a few samples
    sf_name = os.path.basename(os.path.normpath(sf_dir))

    import __spark_entry__ as E
    from cloudtiff_spark.fixtures import fixture_dir_for
    from cloudtiff_spark.operators.meta import tile_assignments
    from cloudtiff_spark.operators.spatial import pip_join
    from cloudtiff_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = get_spark("cloudtiff-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    fdir = fixture_dir_for(sf_dir)
    # single-file parquet -> explicitly split by image_id (the production
    # table arrives bucketed; see __spark_entry__._fixture_tables).
    # BENCH_REPL replicates the image table in-memory with distinct ids —
    # used by tools/bench_scaling.py so the parallel region dominates the
    # fixed per-job cost when comparing parallelism levels.
    repl = int(os.environ.get("BENCH_REPL", "1"))
    meta = spark.read.parquet(os.path.join(fdir, "images_meta.parquet"))
    if repl > 1:
        from pyspark.sql import functions as FF

        meta = (
            meta.withColumn("_r", FF.explode(FF.sequence(FF.lit(0), FF.lit(repl - 1))))
            .withColumn("image_id", FF.concat_ws("#", "image_id", FF.col("_r").cast("string")))
            .drop("_r")
        )
    meta = meta.repartition(cpus * 2, "image_id").cache()
    queries = spark.read.parquet(os.path.join(fdir, "queries.parquet")).cache()
    meta.count()
    queries.count()

    # ---- headline: tile assignment + PIP join, steady state ----
    # the hot-cell skew list is per-snapshot state in production; computed
    # once and cached (see operators/spatial.py)
    from cloudtiff_spark.operators.spatial import hot_cells

    from cloudtiff_spark.operators.spatial import prepare_pip_queries

    load_before = os.getloadavg()[0]
    hot = hot_cells(tile_assignments(meta)).cache()
    hot.count()
    prepared = prepare_pip_queries(queries)
    prepared.qc = prepared.qc.cache()
    prepared.qc.count()
    prepared.polys_dict()
    tiles_n = force_eval(tile_assignments(meta))  # assignment stage, warm
    passes: list[float] = []
    joined_n = 0
    for _ in range(max(1, iters)):
        t0 = time.time()
        # one action per pass: the join pipeline recomputes the tile
        # assignment internally, so the timed region covers assignment+join
        joined_n = force_eval(
            pip_join(tile_assignments(meta), queries, hot=hot, prepared=prepared)
        )
        passes.append(time.time() - t0)
    best = min(passes)
    sp = sorted(passes)
    mid = len(sp) // 2
    median = sp[mid] if len(sp) % 2 else (sp[mid - 1] + sp[mid]) / 2
    throughput = (tiles_n + joined_n) / best

    # ---- per-query timings ----
    # BENCH_QUERY_ITERS passes per query (default 2): `queries` reports the
    # best pass (steady state — single-shot timings on this multi-tenant box
    # swing ±20-100%, see BENCH.md "Noise study"), `queries_cold` the first
    # pass (includes planning/codegen cold cost), so both the envelope and
    # the cold story stay visible.
    qiters = int(os.environ.get("BENCH_QUERY_ITERS", "2"))
    # heavy queries (best warm pass still > 2 s) get extra passes, up to
    # BENCH_HEAVY_ITERS total: one tenant load spike on this host inflates
    # a single pass 3-4x (BENCH.md noise study; the r5 driver record
    # showed exactly that), and expensive queries are the ones where a
    # polluted best-of-2 misleads for a whole round.
    heavy_iters = max(int(os.environ.get("BENCH_HEAVY_ITERS", "4")), qiters)
    qtimes: dict[str, float] = {}
    qcold: dict[str, float] = {}
    names = [] if os.environ.get("BENCH_HEADLINE_ONLY") else list(E.queries())
    for name, fn in ((n, E.queries()[n]) for n in names):
        try:
            times = time_query(fn, spark, sf_dir, qiters, heavy_iters)
            qcold[name] = times[0]
            qtimes[name] = min(times)
        except Exception as exc:  # pragma: no cover
            qtimes[name] = -1.0
            qcold[name] = -1.0
            print(f"# bench query {name} failed: {exc}", file=sys.stderr)
    load_after = os.getloadavg()[0]

    # The harness that records this benchmark keeps only a bounded tail of
    # the output, so the final stdout line MUST stay compact (budget: well
    # under 2000 bytes even at 60+ queries).  Per-query warm times stay on
    # the line (contract field), rounded to centiseconds; everything verbose
    # (cold first-pass times, full-precision warm times) goes to a sidecar
    # file referenced from BENCH.md.
    detail = {
        "metric": "tile_assignment_plus_pip_join_stage",
        "value": round(best, 3),
        "value_median": round(median, 3),
        "unit": "sec",
        "queries": qtimes,
        "queries_cold": qcold,
        "sf": sf_name,
        "throughput_rows_per_sec": round(throughput, 1),
        "tiles": tiles_n,
        "joined_rows": joined_n,
        "cpus": cpus,
        # 1-min loadavg straddling the timed region (headline + queries):
        # a noisy-tenant
        # record is self-identifying (values near `cpus`-busy from OTHER
        # processes mean the timings above are bandwidth-starved)
        "load": [round(load_before, 1), round(load_after, 1)],
    }
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "bench_detail.json")
        with open(sidecar, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # pragma: no cover - read-only checkout
        print(f"# bench sidecar write failed: {exc}", file=sys.stderr)
    out = dict(detail)
    del out["queries_cold"]
    out["queries"] = {k: round(v, 2) for k, v in qtimes.items()}
    spark.stop()
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # pragma: no cover - future-query-count guard
        # keep the headline parseable no matter how many queries land:
        # drop the per-query dict to the sidecar only.
        out["queries"] = {"detail": "tools/bench_detail.json"}
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
