#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index-churn --seed 1 --seconds 3 --trace 0

Run from the repository root. Every input comes from ``--seed``; the
engine runs on ``local[<cpus>]`` in a session from
``session.get_spark`` with the engine's own defaults. Each metric is
printed as ``name value unit`` and the last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans go to ``.perfbench_out/trace-<workload>-<seed>.json``.
Scratch files live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _git_describe() -> str | None:
    try:
        out = subprocess.run(
            ["git", "describe", "--always", "--dirty"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _host_cpu() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def _isolate_scratch(work: str) -> None:
    """Point every temporary file of this process and the JVM it starts
    into ``work``, so the run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    sys.path.insert(0, ROOT)
    from perfbench.trace import SparkProbe, Tracer, peak_rss_mb
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    _isolate_scratch(work)
    tracer = Tracer(enabled=bool(args.trace))
    cpu0 = _host_cpu()
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            from conversation_with_vector_db_spark.session import get_spark

            spark = get_spark(master=f"local[{cpus}]")
        start_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            run = Run(
                spark=spark, tracer=tracer,
                probe=SparkProbe(spark, enabled=bool(args.trace)),
                work=work, seed=args.seed, seconds=args.seconds,
                setup_s=start_s, layer={"session.start_s": start_s},
            )
            result = WORKLOADS[args.workload](run)
            cpu1 = _host_cpu()
            jvm = getattr(spark.sparkContext._gateway, "proc", None)
            rss = peak_rss_mb(jvm.pid if jvm is not None else None)
            regime = {
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "cpus": cpus,
                "spark": spark.version, "python": platform.python_version(),
                "git": _git_describe(), "sizes": run.sizes,
                # Share of the host's CPU time the hypervisor gave to
                # other guests during the run: wall times grow with it.
                "host_steal_share": (
                    (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
                    if cpu0 and cpu1 else None
                ),
            }
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there

    e2e = {"setup_s": run.setup_s, **result.e2e}
    result.layer["session.peak_rss_mb"] = rss
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print("regime " + json.dumps(regime, sort_keys=True))
    for name, value in sorted(result.notes.items()):
        print(f"note {name} {json.dumps(value)}")
    for name, value in e2e.items():
        print(f"e2e {name} {value:.6g} {units.get(name, '?')}")
    if args.trace:
        layer = {m["name"]: result.layer.get(m["name"], 0.0)
                 for m in spec["per_layer"]}
        unknown = sorted(set(result.layer) - set(layer))
        if unknown:
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        # What the probe's reads cost each operation of the window.
        layer["trace.overhead_ms_per_op"] = (
            run.probe.overhead_s * 1e3 / max(run.probe.n_ops, 1)
        )
        for name, value in sorted(layer.items()):
            print(f"layer {name} {value:.6g} {units[name]}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"regime": regime, "e2e_traced": e2e, "notes": result.notes},
        )
        metrics = layer
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
