"""Tracing for the benchmark's traced runs.

Two recorders, both owned by the run and disabled in untraced runs
(which therefore carry no tracing cost):

* :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory, recorded by the benchmark around each call it makes into an
  engine layer, and folds them into per-layer self time at the end.
* :class:`SparkProbe` reads what the engine underneath did for one
  operation: jobs, tasks and failed tasks from
  ``sparkContext.statusTracker()`` under a per-operation job group;
  shuffle and spill bytes per stage and Python worker times per SQL
  execution from the application's status store (served by the local
  UI's REST endpoint); whole-stage-codegen compiles from the JVM
  ``CodegenMetrics`` histogram. It only reads; it sets no conf.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """In-memory spans; every method is a cheap no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self seconds. Self time
        is a span's duration minus the time its direct children cover
        (children are sequential: one thread issues every call)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, (name, start, end, _, _) in enumerate(self.spans):
            row = out[name]
            row["calls"] += 1
            row["total_s"] += end - start
            row["self_s"] += end - start - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "self_times": self.self_times(),
                    "spans": [
                        {"name": n, "start_s": round(s - t0, 6),
                         "end_s": round(e - t0, 6), "parent": p, "op": o}
                        for n, s, e, p, o in self.spans
                    ],
                },
                fh,
            )


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}


def _metric_ms(text: str) -> float:
    """Total of a formatted SQL timing metric (``'433 ms'`` or the
    ``'total (min, med, max ...)\\n12.3 s (...)'`` summary form)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _DURATION.search(line)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


@dataclass
class OpStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_init_ms: float = 0.0
    python_run_ms: float = 0.0
    codegen_compiles: int = 0
    codegen_compile_ms: float = 0.0
    #: Rows and files of the parquet scans feeding a pandas map (the
    #: IVF rescore): what the probe actually read.
    python_scan_rows: int = 0
    python_scan_files: int = 0


def _count(text: str) -> int:
    return int(text.replace(",", "")) if text else 0


def _scan_below(node_id: int, nodes: dict, children: dict) -> tuple[int, int]:
    """Output rows and files read of the parquet scans under a node."""
    rows = files = 0
    todo = list(children[node_id])
    while todo:
        nid = todo.pop()
        node = nodes.get(nid)
        if node is None:
            continue
        if node["nodeName"].startswith("Scan parquet"):
            metrics = {m["name"]: m["value"] for m in node["metrics"]}
            rows += _count(metrics.get("number of output rows", ""))
            files += _count(metrics.get("number of files read", ""))
        else:
            todo.extend(children[nid])
    return rows, files


@dataclass
class SparkProbe:
    """Per-operation engine counters, read after each operation."""

    spark: object
    enabled: bool
    overhead_s: float = 0.0
    _n: int = 0
    #: SQL executions already read (the REST listing's offset).
    _sql_seen: int = 0
    _codegen: tuple[int, float] = (0, 0.0)
    history: list[tuple[str, OpStats]] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        self._status = sc.statusTracker()
        self._rest = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            if sc.uiWebUrl else None
        )
        self._hist = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )

    def _get(self, path: str):
        if self._rest is None:
            return None
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def _codegen_now(self) -> tuple[int, float]:
        # The histogram reservoir keeps every sample until 1028 of them,
        # so the sum of its values is the exact compile time up to there.
        snap = self._hist.getSnapshot()
        n = self._hist.getCount()
        total = (
            float(sum(snap.getValues())) if n <= snap.size()
            else snap.getMean() * n
        )
        return n, total

    @property
    def n_ops(self) -> int:
        return self._n

    @contextmanager
    def op(self, kind: str):
        """Run one operation under its own job group and record its
        engine counters as ``(kind, OpStats)``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}"
        self._codegen = self._codegen_now()  # compiles between ops are not this op's
        sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.history.append((kind, self._collect(group)))
            sc.setJobGroup("perfbench-idle", "between operations")
            self.overhead_s += time.perf_counter() - t0

    def _collect(self, group: str) -> OpStats:
        st = OpStats()
        job_ids = set(self._status.getJobIdsForGroup(group))
        st.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self._status.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in sorted(stage_ids):
            for attempt in self._get(f"/stages/{s}?details=false") or []:
                if attempt.get("status") == "SKIPPED":
                    continue
                st.tasks += attempt["numTasks"]
                st.failed_tasks += attempt["numFailedTasks"]
                st.shuffle_write_bytes += attempt["shuffleWriteBytes"]
                st.spill_bytes += (
                    attempt["memoryBytesSpilled"] + attempt["diskBytesSpilled"]
                )
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self._sql_seen}"
            "&length=100000"
        ) or []
        self._sql_seen += len(execs)
        for e in execs:
            ran = {*e.get("successJobIds", []), *e.get("failedJobIds", []),
                   *e.get("runningJobIds", [])}
            if not ran & job_ids:
                continue  # an execution outside this operation
            nodes = {n["nodeId"]: n for n in e.get("nodes", [])}
            children: dict[int, list[int]] = defaultdict(list)
            for edge in e.get("edges", []):
                children[edge["toId"]].append(edge["fromId"])
            for node in nodes.values():
                metrics = {m["name"]: m["value"] for m in node["metrics"]}
                st.python_init_ms += _metric_ms(
                    metrics.get("time to initialize Python workers", "")
                )
                st.python_run_ms += _metric_ms(
                    metrics.get("time to run Python workers", "")
                )
                if node["nodeName"] == "MapInPandas":
                    rows, files = _scan_below(node["nodeId"], nodes, children)
                    st.python_scan_rows += rows
                    st.python_scan_files += files
        n, total = self._codegen_now()
        st.codegen_compiles = n - self._codegen[0]
        st.codegen_compile_ms = total - self._codegen[1]
        self._codegen = (n, total)
        return st

    def ops(self, kinds: set[str] | None = None) -> list[OpStats]:
        return [s for k, s in self.history if kinds is None or k in kinds]


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM, in MiB."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

