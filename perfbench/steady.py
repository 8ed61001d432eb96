"""Steadiness check: run one workload on several seeds, one run after the
other, and report each end-to-end metric's median and quartile spread
((Q3 - Q1) / median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload tile_render --seeds 1-10 [--seconds 10]

Each run is a separate ``run.py`` process; the per-run results are
appended to ``.perfbench/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()

    from perfbench import stats

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    out = os.path.join(ROOT, ".perfbench", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out, "a") as fh:
            fh.write(json.dumps({"seed": seed, **res}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        row = " ".join(f"{k}={m['value']:.3f}" for k, m in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {row}", flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        spread = stats.quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: n={len(vs)} median={stats.median(vs):.4f} spread={spread:.4f} bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the benchmark as the `perfbench` package
    sys.exit(main())
