"""One benchmark run of one workload, in a fresh process.

Started by run.py with the generated inputs in place. It starts a
``local[<cpus>]`` session through ``cloudtiff_spark.session.get_spark``,
sets up the workload several times (set-up time is the median), discards
warm-up passes until the pass times are steady, times passes for the
requested number of seconds while sampling the RSS of the whole process
tree, runs the output checks, and writes a JSON result file.

With ``--trace 1`` the session also writes Spark's event log, every timed
pass and every layer call runs under its own job group, and the result
carries the per-layer figures instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import subprocess
import sys
import time
from contextlib import contextmanager

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up repetitions per run (set-up time is their median); a traced run
#: sets up once and reports that set-up's step times
SETUP_REPS = 3
#: layer-call repetitions in a traced run (each figure is their median)
TRACE_REPS = 1
#: warm-up ends when passes are steady, or after this share of --seconds
WARMUP_CAP = 0.8
#: ... but always at least this many warm-up passes
WARMUP_MIN = 2
#: a run stops passing once this many operations have failed
MAX_FAILED = 3
#: fixed calibration work: rows through a hash aggregate and a pandas UDF
CALIB_ROWS = 1_000_000
CALIB_UDF_ROWS = 200_000


def host_memory_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """Heap for the local-mode driver (which is also the executor): a
    quarter of host RAM, at least 1 GB and at most 4 GB."""
    return max(1, min(4, int(host_memory_gb() / 4)))


def configure(work: str, trace: bool, heap_gb: int) -> str:
    """Environment for the JVM and the Python workers, set before the
    session starts. Returns the event-log directory (traced runs)."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.eventLog.enabled={'true' if trace else 'false'}",
    ]
    if trace:
        conf += [
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    return events


class Tracer:
    """Spans around layer calls. Each span runs its Spark jobs under its own
    job group, so the event log attributes work to it; the spans stay in
    memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.groups: dict = {}

    @contextmanager
    def span(self, name: str):
        gid = f"{name}#{len(self.spans) + len(self._stack)}"
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "id": gid, "parent": parent, "start": time.time()}
        self._stack.append(gid)
        self.sc.setJobGroup(gid, name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(span)

    @staticmethod
    def seconds(span: dict) -> float:
        return span["end"] - span["start"]

    def group(self, span: dict):
        from perfbench.eventlog import Group

        return self.groups.get(span["id"], Group())

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def calibrate(spark) -> float:
    """Seconds for a fixed hash aggregate plus an identity pandas UDF that
    imports no repository code: a yardstick for host speed drift."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    par = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, CALIB_ROWS, numPartitions=par).groupBy((F.col("id") % 1009).alias("k")).count().agg(
        F.sum("count")
    ).collect()
    spark.range(0, CALIB_UDF_ROWS, numPartitions=par).select(ident("id").alias("v")).agg(F.sum("v")).collect()
    return time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process spawn time (epoch s)")
    args = ap.parse_args()
    trace = bool(args.trace)

    cpus = len(os.sched_getaffinity(0))
    heap_gb = driver_memory_gb()
    events = configure(args.work, trace, heap_gb)

    from cloudtiff_spark.session import get_spark
    from perfbench import stats
    from perfbench.procs import RssSampler, cpu_times, descendants
    from perfbench.workloads import WORKLOADS

    result: dict = {
        "workload": args.workload,
        "cpus": cpus,
        "driver_memory_gb": heap_gb,
        "trace": trace,
        "load_start": os.getloadavg(),
    }
    t_sess = time.time()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ready = time.time()
    result["session_start_s"] = ready - t_sess
    result["process_ready_s"] = ready - args.t0
    sc = spark.sparkContext
    tracer = Tracer(sc) if trace else None
    phases: dict[str, float] = {}
    result["phases_s"] = phases

    def mark(name: str) -> None:
        phases[name] = round(time.time() - args.t0, 2)

    mark("session")

    attempted = failed = 0
    failures: list[str] = []
    with RssSampler() as sampler:
        result["calib_start_s"] = calibrate(spark)
        mark("calib")

        wl = WORKLOADS[args.workload](spark, args.inputs, cpus)
        prep = []
        for _ in range(1 if trace else SETUP_REPS):
            t0 = time.time()
            steps = wl.setup(tracer)
            prep.append(time.time() - t0)
        result["prep_s"] = prep
        result["setup_steps_s"] = steps
        result["setup_s"] = result["process_ready_s"] + stats.median(prep)
        mark("setup")
        wl.describe()
        result["properties"] = wl.properties
        mark("describe")

        def one_pass(timed: bool):
            nonlocal attempted, failed
            attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is not None and timed:
                    with tracer.span("pass"):
                        digest = wl.run_pass()
                else:
                    digest = wl.run_pass()
            except Exception as exc:  # a failed pass is counted, the run goes on
                failed += 1
                failures.append(f"pass {attempted}: {type(exc).__name__}: {exc}")
                log(failures[-1])
                return None
            dt = time.perf_counter() - t0
            if first_digest and digest != first_digest[0]:
                failed += 1
                failures.append(f"pass {attempted}: digest {digest} != {first_digest[0]}")
                log(failures[-1])
            elif not first_digest:
                first_digest.append(digest)
            return dt

        first_digest: list = []
        warm: list[float] = []
        t_warm = time.perf_counter()
        while failed < MAX_FAILED:
            dt = one_pass(False)
            if dt is not None:
                warm.append(dt)
            if len(warm) >= WARMUP_MIN and (
                stats.steady(warm) or time.perf_counter() - t_warm > WARMUP_CAP * args.seconds
            ):
                break
        result["warmup_s"] = warm
        mark("warmup")

        passes: list[float] = []
        sampler.arm()
        cpu0 = cpu_times()
        t_meas = time.perf_counter()
        while failed < MAX_FAILED and (not passes or time.perf_counter() - t_meas < args.seconds):
            dt = one_pass(True)
            if dt is not None:
                passes.append(dt)
        sampler.disarm()
        cpu1 = cpu_times()
        # share of the host's CPU time taken by its hypervisor while the
        # passes ran: a busy neighbour shows here, not in our own counters
        result["steal_share"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        result["passes_s"] = passes
        result["pass"] = stats.summary(passes) if passes else None
        result["peak_rss_gb"] = sampler.peak / 1e9
        result["py_peak_rss_gb"] = sampler.python_peak / 1e9
        result["rss_samples"] = sampler.samples
        mark("measure")

        if trace:
            layer: dict[str, list[float]] = {}
            for _ in range(TRACE_REPS):
                for k, v in wl.trace(tracer).items():
                    layer.setdefault(k, []).append(v)
            for k, v in steps.items():
                layer.setdefault(k, []).append(v)
            result["layer_samples"] = layer
            mark("layers")

        checks = []
        for name, ok, detail in wl.check(first_digest[0] if first_digest else ()):
            attempted += 1
            checks.append({"name": name, "ok": bool(ok), "detail": detail})
            if not ok:
                failed += 1
                failures.append(f"check {name}: {detail}")
                log(failures[-1])
        result["checks"] = checks
        mark("checks")
        result["calib_end_s"] = calibrate(spark)
        wl.teardown()
    result["load_end"] = os.getloadavg()
    result["attempted"] = attempted
    result["failed"] = failed
    result["failures"] = failures
    result["digest"] = [list(d) for d in first_digest[0]] if first_digest else None

    result["children"] = sorted(descendants(os.getpid()))
    spark.stop()
    gw = getattr(sc, "_gateway", None)
    if gw is not None:
        gw.shutdown()
        if getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait(timeout=10)
    mark("stopped")
    if trace:
        from perfbench import eventlog

        tracer.groups = eventlog.parse_dir(events)
        result["spans"] = tracer.spans
        result["layer_log"] = layer_log(args.workload, tracer)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    return 0


def layer_log(workload: str, tracer: Tracer) -> dict[str, float]:
    """Per-layer figures read from the event log, per span name."""
    from perfbench import stats

    def per_span(name, fn):
        vals = [fn(s, tracer.group(s)) for s in tracer.named(name)]
        return stats.median(vals) if vals else 0.0

    passes = tracer.named("pass")
    out: dict[str, float] = {}
    if passes:
        gs = [tracer.group(s) for s in passes]
        n = len(gs)
        out["spark.shuffle_write_bytes"] = sum(g.shuffle_write_bytes for g in gs) / n
        out["spark.spill_bytes"] = sum(g.spill_bytes for g in gs) / n
        out["spark.gc_s"] = sum(g.gc_ms for g in gs) / n / 1000.0
        out["spark.result_bytes"] = sum(g.result_bytes for g in gs) / n
        out["udf.arrow_bytes"] = sum(g.arrow_sent_bytes + g.arrow_returned_bytes for g in gs) / n
        out["udf.python_s"] = sum(g.python_ms for g in gs) / n / 1000.0
    if workload == "spatial_join":
        out["spatial.pip_candidates"] = per_span(
            "spatial.pip_join", lambda s, g: g.python_rows.get("ArrowEvalPython", 0)
        )
        out["knn.jobs"] = per_span("knn.knn", lambda s, g: g.jobs)
        out["knn.driver_s"] = per_span("knn.knn", lambda s, g: Tracer.seconds(s) - g.job_seconds())
    return out


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the benchmark as the `perfbench` package
    sys.exit(main())
