"""Peak memory of one cold query run.

Usage: python tools/peak_rss.py <query> <sf_dir>

Runs ``__spark_entry__.queries()[<query>]`` once in a fresh local session
(``SPARK_GRAFT_CPUS`` cores; heap ``SPARK_DRIVER_MEMORY``, else get_spark's
default: a quarter of host RAM, 1-4 GB) and evaluates its digest
``(count, bit_xor(xxhash64(*cols)))`` as the single action. Prints one JSON
line: rows, digest, wall time of building the query plus that action
(session caches are built inside it, so the run is cold), and the peak RSS
of the PySpark Python workers and of the whole process tree (this process,
the JVM and the workers), sampled every 0.1 s over the same span.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    name, sf_dir = sys.argv[1:]

    from perfbench.procs import RssSampler
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from cloudtiff_spark.session import get_spark

    spark = get_spark("peak_rss")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    heap = spark.conf.get("spark.driver.memory")
    try:
        with RssSampler() as sampler:
            sampler.arm()
            t0 = time.perf_counter()
            df = E.queries()[name](spark, sf_dir)
            n, x = df.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
            ).first()
            wall = time.perf_counter() - t0
            sampler.disarm()
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "heap": heap,
                "rows": n,
                "digest": [n, x],
                "wall_s": round(wall, 2),
                "py_peak_rss_gb": round(sampler.python_peak / 1e9, 3),
                "tree_peak_rss_gb": round(sampler.peak / 1e9, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
