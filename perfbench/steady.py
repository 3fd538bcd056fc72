#!/usr/bin/env python3
"""Measure how steady the benchmark is, and record it.

    python3 perfbench/steady.py --seeds 1-10 --label first
    python3 perfbench/steady.py --seeds 1-10 --label second --trace

Runs every workload of ``BENCHMARK.json`` once per seed (one run at a
time), and for each end-to-end metric reports the median and the
spread: the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median. Each
run's share of host CPU time stolen by the hypervisor is kept beside
its wall time.
``--trace`` adds one traced run per workload, on the first seed, and
reports the tracing overhead as its end-to-end values against the
untraced run of that seed.
The record is appended to ``perfbench/STEADINESS.json``, with each
median's shift against the previous record there, if it has one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    regime = next(json.loads(ln[len("regime "):]) for ln in lines
                  if ln.startswith("regime "))
    return json.loads(lines[-1]), wall, regime


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--label", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seeds = _seeds(args.seeds)
    record = {
        "label": args.label, "seeds": seeds,
        "run_seconds": spec["run_seconds"], "cpus": os.cpu_count(),
        "python": platform.python_version(), "workloads": {},
    }
    history = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            history = json.load(fh)
    previous = history[-1]["workloads"] if history else {}
    for w in workloads:
        runs, walls, steal = [], [], []
        for s in seeds:
            res, wall, regime = _run(w, s, spec["run_seconds"], 0)
            if not res["correct"]:
                raise SystemExit(f"{w} seed {s}: incorrect result {res}")
            runs.append({k: v["value"] for k, v in res["metrics"].items()})
            walls.append(wall)
            steal.append(regime["host_steal_share"])
            print(f"{w} seed {s}: {wall:.1f} s, steal {steal[-1]}, "
                  f"{json.dumps(runs[-1])}", flush=True)
        row = {"run_wall_s": walls, "host_steal_share": steal, "metrics": {}}
        for name in bounds:
            vals = [r[name] for r in runs]
            row["metrics"][name] = {
                "values": vals, "median": statistics.median(vals),
                "spread": spread(vals), "bound": bounds[name],
            }
        if args.trace:
            res, wall, _ = _run(w, seeds[0], spec["run_seconds"], 1)
            trace_file = os.path.join(ROOT, ".perfbench_out",
                                      f"trace-{w}-{seeds[0]}.json")
            with open(trace_file) as fh:
                traced = json.load(fh)["e2e_traced"]
            row["traced"] = {
                "seed": seeds[0], "run_wall_s": wall,
                # Against the untraced run of the same seed.
                "overhead": {
                    n: traced[n] / runs[0][n] - 1 for n in bounds if n in traced
                },
                "per_layer": {k: v["value"] for k, v in res["metrics"].items()},
            }
        record["workloads"][w] = row
        for name, m in row["metrics"].items():
            before = previous.get(w, {}).get("metrics", {}).get(name)
            if before:
                m["shift_vs_previous"] = m["median"] / before["median"] - 1
            print(f"{w} {name}: median {m['median']:.6g} spread "
                  f"{m['spread']:.3f} shift "
                  f"{m.get('shift_vs_previous', float('nan')):+.3f} "
                  f"(bound {m['bound']})")
    history.append(record)
    with open(args.out, "w") as fh:
        json.dump(history, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
