"""Three-workload benchmark of the warehouse engine: dashboard, analytics, ingest.

Usage (from the repository root)::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
set-up, then one untraced and one traced round of fixed work, and prints the
per-layer metrics (spans go to ``perfbench/.work/<workload>/trace.json``).
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3
HEAP = "2g"  # driver JVM heap
SCALES = ("bench", "toy")

# name -> unit, in output order
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "mem_peak_mb": "MiB",
}
# per-operation counters: reported as the total over the traced round
# (``<name>``) and the median over its operations (``<name>.p50``)
PER_OP = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "endpoints.build_ms": "ms", "api.rows_ms": "ms", "api.present_ms": "ms",
    "collect.ms": "ms", "collect.rows": "rows",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "streaming.input_rows": "rows", "streaming.add_batch_ms": "ms",
    "streaming.engine_ms": "ms", "yelp_consumer.jobs": "count",
    "storage.bytes_written": "bytes",
}
# one value per run
PER_RUN = {
    "session.start_ms": "ms", "sources.etl_build_ms": "ms",
    "sources.etl_write_ms": "ms", "sources.rows_per_s": "rows/s",
    "streaming.batches": "count", "storage.write_amp": "ratio",
    "storage.files": "count", "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = dict(PER_RUN)
    for name, unit in PER_OP.items():
        units[name] = unit
        units[name + ".p50"] = unit
    return units


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``, and let the
    Python workers import the package (a pandas UDF otherwise fails with
    ModuleNotFoundError in the worker)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class Session:
    """Starts, restarts and finally tears down the engine's SparkSession."""

    def __init__(self, work: str, cpus: int, traced: bool):
        self.work, self.cpus, self.traced = work, cpus, traced
        self.spark = None
        self._proc = None

    def stop(self) -> None:
        """Stop the current session; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start(self):
        from yelpdatawarehouse_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        # the traced run reads every job and stage of an operation from the
        # status store; by default it evicts all but the last 1000 of each
        retain = {"spark.ui.retainedJobs": "1000000",
                  "spark.ui.retainedStages": "1000000"} if self.traced else {}
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus, **retain,
            **{"spark.driver.memory": HEAP,
               "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
               # one block-store directory instead of 64: fewer files to delete
               "spark.diskStore.subDirectories": "1",
               # a fixed, pre-touched heap: peak RSS then does not depend on
               # when the collector chose to grow the heap
               "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                                f"-Xms{HEAP} -XX:+AlwaysPreTouch"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        """End the JVM and wait until it and its Python workers have exited.

        The JVM is killed rather than stopped: ``spark.stop()`` or its
        shutdown hooks take seconds, and the scratch files they would clean
        up are removed by the next run anyway. The Python workers exit when
        their pipe to the JVM closes."""
        if self._proc is None:
            return
        if self.spark is not None and self.spark.sparkContext._accumulatorServer:
            self.spark.sparkContext._accumulatorServer.shutdown()
        self.spark = None
        workers = _descendants(self._proc.pid)
        self._proc.kill()
        self._proc.wait()
        self._proc = None
        deadline = time.monotonic() + 30
        while workers:
            workers = [p for p in workers if _alive(p)]
            if workers and time.monotonic() > deadline:
                for p in workers:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.02)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _remove_old(root: str) -> None:
    for name in os.listdir(root):
        if name.startswith("trash-"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _workload(name: str):
    if name == "dashboard":
        from dashboard import Dashboard
        return Dashboard
    if name == "analytics":
        from analytics import Analytics
        return Analytics
    from ingest import Ingest
    return Ingest


def run(args) -> dict:
    from measure import SparkCounters, Tracer, median, peak_memory_mb, tail

    work = os.path.join(HERE, ".work", args.workload)
    # the previous run's files are removed while the warm-up runs: deleting
    # written files is slow on some disks (seconds per hundred files)
    trash = os.path.join(HERE, ".work", f"trash-{os.getpid()}")
    if os.path.exists(work):
        os.rename(work, trash)
    os.makedirs(work)
    cleaner = threading.Thread(target=_remove_old, args=(os.path.dirname(work),))
    _prepare_env(work)
    cpus = os.cpu_count() or 4
    session = Session(work, cpus, bool(args.trace))
    wl = _workload(args.workload)(work, args.seed, args.scale)
    phases = {}
    try:
        t = time.perf_counter()
        wl.generate()
        phases["generate"] = time.perf_counter() - t
        setup_s, start_ms, layer = [], [], {}
        for cycle in range(SETUP_CYCLES):
            # the previous session's shutdown is not part of the next set-up
            t = time.perf_counter()
            session.stop()
            gc.collect()
            phases["stop"] = phases.get("stop", 0.0) + time.perf_counter() - t
            t0 = time.perf_counter()
            spark = session.start()
            t1 = time.perf_counter()
            for k, v in wl.setup(spark, cycle).items():
                layer.setdefault(k, []).append(v)
            setup_s.append(time.perf_counter() - t0)
            start_ms.append(1000 * (t1 - t0))
        t = time.perf_counter()
        cleaner.start()
        wl.warm()
        cleaner.join()
        phases["warm"] = time.perf_counter() - t
        counters = SparkCounters(spark)
        if args.trace:
            untraced = wl.traced_round(None, counters)
            tracer = Tracer()
            traced = wl.traced_round(tracer, counters)
            tracer.dump(os.path.join(work, "trace.json"))
            metrics = {"session.start_ms": median(start_ms),
                       **{k: median(v) for k, v in layer.items()},
                       **wl.layer_metrics(tracer)}
            base = median(untraced.latencies_ms)
            metrics["trace.overhead_frac"] = median(traced.latencies_ms) / base - 1 if base else 0.0
            units = per_layer_units()
            ops = list(tracer.op_metrics.values())
            for name in PER_OP:
                vals = [m.get(name, 0.0) for m in ops]
                metrics[name] = sum(vals)
                metrics[name + ".p50"] = median(vals)
            out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            t = time.perf_counter()
            m = wl.measure(args.seconds)
            phases["measure"] = time.perf_counter() - t
            pct, tail_ms, n = tail(m.latencies_ms)
            values = {
                "setup_s": median(setup_s),
                "op_p50_ms": median(m.latencies_ms),
                "op_tail_ms": tail_ms,
                "throughput_per_s": m.units / m.wall_s,
                "mem_peak_mb": peak_memory_mb(spark),
            }
            out = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
            with open(os.path.join(work, "ops.json"), "w", encoding="utf-8") as fh:
                json.dump(wl.timed_rows(), fh)
            print(f"# {args.workload}: {m.attempted} operations in {m.wall_s:.2f} s timed; "
                  f"op_tail_ms is p{pct:.1f} of {n} samples")
        for k, v in out.items():
            print(f"# {k} = {v['value']:.4f} {v['unit']}")
            if k in wl.ALIASES:
                print(f"# {wl.ALIASES[k][0]} = {v['value']:.4f} {wl.ALIASES[k][1]}")
        t = time.perf_counter()
        wl.check()
        phases["check"] = time.perf_counter() - t
        print("# set-up cycles: " + ", ".join(f"{x:.2f}" for x in setup_s) + " s; other phases: "
              + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
        for line in wl.report_lines():
            print("#", line)
    finally:
        session.close()
    print(f"# failed_frac = {wl.failed / max(wl.attempted, 1):.4f} ratio "
          f"({wl.failed} of {wl.attempted} operations)")
    return {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed,
            "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "analytics", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=SCALES, default="bench",
                    help="input size; 'toy' is for the self-tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "yelpdatawarehouse_spark")):
        print("perfbench: the engine package yelpdatawarehouse_spark/ is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
