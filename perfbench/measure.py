"""Measurement plumbing shared by the three workloads.

Everything here observes the engine from outside: it tags each operation
with its own Spark job group, reads Spark's status store and Catalyst phase
tracker for that group, and records spans in memory. Nothing is written
until ``Tracer.dump`` runs at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# per-operation counters summed from the status store (``exec.*``) plus the
# Catalyst phases of an operation's final frame
STAGE_FIELDS = {
    "exec.run_ms": "executorRunTime",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "storage.bytes_written": "outputBytes",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value, n)``: with ``n`` sorted samples the value
    is the one at index ``n - beyond - 1`` and the percentile is its rank
    ``100 * (n - beyond) / n``. With ``beyond`` or fewer samples there is no
    such percentile and the maximum is returned as percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 100.0, 0.0, 0
    if n <= beyond:
        return 100.0, xs[-1], n
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1], n


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_memory_mb(spark) -> float:
    """Peak RSS of this Python driver plus its JVM child."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning wall of ``df``'s last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        out[f"catalyst.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class SparkCounters:
    """Job-group tagging and status-store reads for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        self._jsc.listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_metrics(self, job_ids) -> dict[str, float]:
        """Summed stage metrics over ``job_ids``; skipped stages (reused
        shuffle output) count for nothing."""
        store = self._jsc.statusStore()
        m = dict.fromkeys(("exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_ms",
                           "exec.spill_bytes", *STAGE_FIELDS), 0.0)
        m["exec.jobs"] = float(len(job_ids))
        seen = set()
        for j in job_ids:
            it = store.job(j).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += sd.numCompleteTasks()
                m["exec.cpu_ms"] += sd.executorCpuTime() / 1e6
                m["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                for name, field in STAGE_FIELDS.items():
                    m[name] += getattr(sd, field)()
        return m


class Tracer:
    """Spans and per-operation counters, kept in memory.

    A span is ``(name, start, end, parent, op)``; times are seconds since
    the tracer was created. ``op_metrics[op]`` holds the counters measured
    for one operation (a request, a query, a micro-batch).
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.op_metrics: dict[str, dict[str, float]] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start - self.t0, "end": end - self.t0,
                               "parent": parent, "op": op})

    def add(self, op: str, metrics: dict[str, float]) -> None:
        d = self.op_metrics.setdefault(op, {})
        for k, v in metrics.items():
            d[k] = d.get(k, 0.0) + v

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "ops": self.op_metrics}, fh)
