"""Side benchmark (r7): time a SUBSET of the declared queries with the
exact bench.py methodology (same session config, same force_eval, same
best-of-N warm passes) without paying for the full 50-query sweep.

bench.py is FROZEN for driver measurement; this file exists for the
optimization loop's before/after numbers (OPTIMIZATION_r07.md cites it).

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py wmts_render region_render
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    qiters = int(os.environ.get("BENCH_QUERY_ITERS", "2"))
    heavy_iters = max(int(os.environ.get("BENCH_HEAVY_ITERS", "4")), qiters)
    names = [a for a in sys.argv[1:] if not a.startswith("-")]

    import __spark_entry__ as E
    from bench import time_query
    from cloudtiff_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = get_spark("cloudtiff-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qtimes: dict[str, float] = {}
    qcold: dict[str, float] = {}
    allq = E.queries()
    for name in names:
        fn = allq[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        times = time_query(fn, spark, sf_dir, qiters, heavy_iters)
        qcold[name] = times[0]
        qtimes[name] = min(times)
        print(f"# {name}: passes={times}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf": os.path.basename(os.path.normpath(sf_dir)),
                      "queries": qtimes, "queries_cold": qcold,
                      "load": [round(v, 1) for v in os.getloadavg()[:2]]},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
