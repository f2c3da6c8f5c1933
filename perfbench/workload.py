"""The shape every workload shares, and the pass-based closed loop used by
``dashboard`` and ``analytics``.

A workload generates its inputs from the seed, sets the engine up (once per
set-up cycle), warms it, then either measures for ``--seconds`` or runs two
rounds of fixed work for the traced run. It counts every operation it
attempts and every one that failed or answered wrongly; the answer checks
run outside the timed region.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Measurement:
    latencies_ms: list[float] = field(default_factory=list)
    units: int = 0  # requests, queries or events completed
    wall_s: float = 0.0
    attempted: int = 0
    by_key: dict[str, float] = field(default_factory=dict)  # ms per operation key


class Workload:
    # workload-specific names printed next to the generic end-to-end metrics
    ALIASES: dict[str, tuple[str, str]] = {}

    def __init__(self, work: str, seed: int, scale: str):
        self.work, self.seed, self.scale = work, seed, scale
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def generate(self) -> None:
        """Write the seeded inputs (not part of ``setup_s``)."""

    def setup(self, spark, cycle: int) -> dict[str, float]:
        """One set-up cycle on a fresh session; returns layer timings."""
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> Measurement:
        raise NotImplementedError

    def traced_round(self, tracer, counters) -> Measurement:
        raise NotImplementedError

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}

    def check(self) -> None:
        """Answer checks that need the whole run; adds to ``failed``."""

    def timed_rows(self) -> list[dict]:
        """Per-operation rows of the timed region, for the sidecar."""
        return []

    def report_lines(self) -> list[str]:
        return self.notes


class PassWorkload(Workload):
    """Closed loop, one client: a pass issues a fixed set of operations in a
    seeded order; the timed region runs whole passes until ``seconds``
    have elapsed. Every result is kept (by operation key) so repeats can be
    compared after the timed region."""

    MIN_PASSES = 1

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.results: dict[str, list] = {}
        self.timed: list[Measurement] = []  # the timed passes

    def op_keys(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, key: str, tracer, counters):
        """Run one operation to a fully materialized result."""
        raise NotImplementedError

    def warm_keys(self) -> list[str]:
        return self.op_keys()

    def _pass(self, idx: int, tracer=None, counters=None, keys=None) -> Measurement:
        keys = list(keys or self.op_keys())
        random.Random(self.seed * 1_000_003 + idx).shuffle(keys)
        m = Measurement()
        t_pass = time.perf_counter()
        for key in keys:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                result = self.run_op(key, tracer, counters)
            except Exception:
                traceback.print_exc()
                self.fail(key)
                continue
            m.latencies_ms.append(1000 * (time.perf_counter() - t0))
            m.by_key[key] = m.latencies_ms[-1]
            m.units += 1
            self.results.setdefault(key, []).append(result)
        m.wall_s = time.perf_counter() - t_pass
        self.attempted += m.attempted
        return m

    def warm(self) -> None:
        self._pass(0, keys=self.warm_keys())

    def measure(self, seconds: float) -> Measurement:
        total = Measurement()
        idx = 1
        while total.wall_s < seconds or idx <= self.MIN_PASSES:
            m = self._pass(idx)
            self.timed.append(m)
            total.latencies_ms += m.latencies_ms
            total.units += m.units
            total.wall_s += m.wall_s
            total.attempted += m.attempted
            idx += 1
        return total

    def traced_round(self, tracer, counters) -> Measurement:
        return self._pass(1 if tracer is None else 2, tracer, counters)

    def timed_rows(self) -> list[dict]:
        return [{"pass": i + 1, "op": k, "ms": ms}
                for i, p in enumerate(self.timed) for k, ms in p.by_key.items()]

    def check_repeats(self) -> None:
        """Every repeat of an operation must answer what its first run did."""
        for key, outs in self.results.items():
            for other in outs[1:]:
                if other != outs[0]:
                    self.fail(f"{key}: answer changed between repeats")
