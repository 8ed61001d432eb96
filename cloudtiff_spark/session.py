"""SparkSession factory tuned for this engine.

Arrow is mandatory (every heavy op is a vectorized pandas UDF), AQE is on
(skew-join backstop; explicit salting remains the first line of defense).
PySpark's call-site capture (``spark.python.sql.dataFrameDebugging``) is
off: it adds about five py4j round trips to every Column/functions call
while a plan is built, and the operators plan on the driver between jobs.

The Python workers are forked by ``cloudtiff_spark.pyworker``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``: it keeps
PySpark's per-task ``importlib.invalidate_caches()`` from re-reading
``pyspark.zip`` and the spark-core jar before every task, which cost
110-220 ms per Python task on CPython 3.11. So that the daemon starts from
any working directory, the directory holding the package leads the
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), followed by
the driver's own ``PYTHONPATH`` entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Heap for the local-mode driver, which is also the executor: a
    quarter of the host's RAM (/proc/meminfo MemTotal), at least 1 GB and
    at most 4 GB. The Python workers and the OS page cache need the rest."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, int(kb / 1024 / 1024 / 4)))}g"


def _worker_pythonpath() -> str:
    """The workers' ``PYTHONPATH``: the directory that holds this package,
    then the driver's ``PYTHONPATH`` entries not equal to it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rest = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p and p != root]
    return os.pathsep.join([root, *rest])


def get_spark(
    app: str = "cloudtiff_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "cloudtiff_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .getOrCreate()
    )
