"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates (or reuses) the seeded inputs,
runs the workload in a fresh worker process and prints, as the last line
of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` an untraced run and a
traced run follow each other and the metrics are the per-layer ones,
including the tracing overhead. Everything the run writes stays under
``.perfbench/`` in the checkout; a full record of each run is kept in
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: a run (both workers of a traced run together) is abandoned, and its
#: processes killed, this long after it starts
RUN_TIMEOUT_S = 165

END_TO_END = {"setup_s": "s", "pass_s": "s", "py_peak_rss_gb": "GB"}

#: per-layer metric -> unit; a layer the workload does not reach reports 0
PER_LAYER = {
    "session.start_s": "s",
    "host.calib_s": "s",
    "host.load1": "load",
    "host.steal_share": "ratio",
    "proc.peak_rss_gb": "GB",
    "meta.tile_assign_s": "s",
    "meta.tiles": "count",
    "spatial.hot_cells_s": "s",
    "spatial.prepare_s": "s",
    "spatial.hot_tile_share": "ratio",
    "spatial.pip_join_s": "s",
    "spatial.pip_candidates": "count",
    "spatial.pip_joined_rows": "count",
    "spatial.pip_hit_ratio": "ratio",
    "knn.knn_s": "s",
    "knn.jobs": "count",
    "knn.driver_s": "s",
    "spatial.region_extract_s": "s",
    "spatial.tile_refs": "count",
    "render.region_s": "s",
    "render.wmts_s": "s",
    "render.crop_s": "s",
    "render.groups": "count",
    "render.tile_fanin": "ratio",
    "render.py_peak_rss_gb": "GB",
    "codecs.decode_tiles_s": "s",
    "tiling.build_tiles_s": "s",
    "tiling.tiles": "count",
    "tiling.tile_bytes": "bytes",
    "cog.write_cogs_s": "s",
    "cogsink.encode_s": "s",
    "cogsink.assemble_s": "s",
    "cog.parse_s": "s",
    "cog.bytes_out": "bytes",
    "cog.bytes_per_input_byte": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.result_bytes": "bytes",
    "udf.arrow_bytes": "bytes",
    "udf.python_s": "s",
    "trace.pass_s": "s",
    "trace.layer_sum_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_worker(workload: str, inputs: str, seconds: float, trace: bool, run_dir: str, deadline: float) -> dict:
    """Run worker.py in its own session and wait until it and every process
    it started have ended; kill them at ``deadline`` (time.monotonic()).
    Returns the worker's result record."""
    from perfbench.procs import descendants, reap

    out = os.path.join(run_dir, f"result-trace{int(trace)}.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--inputs", inputs,
        "--seconds", str(seconds),
        "--trace", str(int(trace)),
        "--work", run_dir,
        "--out", out,
        "--t0", repr(time.time()),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, start_new_session=True)
    tree: set[int] = set()
    try:
        while proc.poll() is None and time.monotonic() < deadline:
            tree |= set(descendants(proc.pid))
            time.sleep(0.5)
        if proc.poll() is None:
            log(f"run exceeded {RUN_TIMEOUT_S}s; killing the worker")
    finally:
        # also on SIGTERM/SIGINT: the worker runs in its own session, so
        # it would outlive this process
        if proc.poll() is None:
            tree |= set(descendants(proc.pid))
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
            tree |= set(result.get("children", []))
        else:
            result = {}
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        left = reap(sorted(tree))
    if left:
        raise RuntimeError(f"processes still alive after the run: {left}")
    if proc.returncode != 0 or not result:
        raise RuntimeError(f"worker failed with exit code {proc.returncode}")
    return result


def end_to_end(res: dict) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "pass_s": res["pass"]["median"],
        "py_peak_rss_gb": res["py_peak_rss_gb"],
    }


def per_layer(workload: str, traced: dict, plain: dict) -> dict[str, float]:
    from perfbench import stats

    vals = {name: 0.0 for name in PER_LAYER}
    vals["session.start_s"] = traced["session_start_s"]
    vals["host.calib_s"] = traced["calib_end_s"]
    vals["host.load1"] = (traced["load_start"][0] + traced["load_end"][0]) / 2
    vals["host.steal_share"] = traced["steal_share"]
    vals["proc.peak_rss_gb"] = traced["peak_rss_gb"]
    for k, v in traced.get("properties", {}).items():
        if k in vals:
            vals[k] = v
    layer = {k: stats.median(v) for k, v in traced.get("layer_samples", {}).items()}
    vals.update({k: v for k, v in layer.items() if k in vals})
    vals.update({k: v for k, v in traced.get("layer_log", {}).items() if k in vals})
    if workload == "spatial_join" and vals["spatial.pip_candidates"]:
        vals["spatial.pip_hit_ratio"] = vals["spatial.pip_joined_rows"] / vals["spatial.pip_candidates"]
    if workload == "tile_render":
        vals["render.py_peak_rss_gb"] = traced["py_peak_rss_gb"]
    setup_layers = ("spatial.hot_cells_s", "spatial.prepare_s", "tiling.build_tiles_s")
    vals["trace.layer_sum_s"] = sum(
        v for k, v in layer.items() if k.endswith("_s") and k not in setup_layers
    )
    vals["trace.pass_s"] = traced["pass"]["median"]
    vals["trace.overhead_s"] = traced["pass"]["median"] - plain["pass"]["median"]
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cloudtiff_spark")):
        log(f"no cloudtiff_spark package under {ROOT}: run from the root of a checkout")
        return 2
    from perfbench import gen

    if args.workload not in gen.SIZES:
        log(f"unknown workload {args.workload!r}; choose from {sorted(gen.SIZES)}")
        return 2

    t0 = time.time()
    inputs, record = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    log(f"inputs {record['rows']} digest {record['digest'][:16]} ({time.time() - t0:.1f}s)")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    deadline = time.monotonic() + RUN_TIMEOUT_S
    plain = run_worker(args.workload, inputs, args.seconds, False, run_dir, deadline)
    runs = [plain]
    if plain["pass"] is None:
        log(f"no pass completed: {plain['failures']}")
        return 1
    if args.trace:
        # the traced run times fewer passes: its layer calls take the rest
        runs.append(run_worker(args.workload, inputs, args.seconds / 2, True, run_dir, deadline))
        metrics = per_layer(args.workload, runs[1], plain)
        units = PER_LAYER
    else:
        metrics = end_to_end(plain)
        units = END_TO_END
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump({"inputs": record, "runs": runs, "summary": summary}, fh, indent=1, default=str)
    for r in runs:
        log(
            f"trace={int(r['trace'])} setup={r['setup_s']:.2f}s prep={[round(x, 2) for x in r['prep_s']]} "
            f"warmup={len(r['warmup_s'])} pass={r['pass']} calib={r['calib_start_s']:.2f}/{r['calib_end_s']:.2f}s "
            f"load={r['load_start'][0]:.2f}/{r['load_end'][0]:.2f} steal={r['steal_share']:.3f} rss={r['peak_rss_gb']:.2f}GB "
            f"phases={r['phases_s']} properties={r['properties']} checks={[(c['name'], c['ok']) for c in r['checks']]}"
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the benchmark as the `perfbench` package
    # SIGTERM unwinds like SIGINT, so the worker's process tree is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
