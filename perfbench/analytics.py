"""``analytics``: registered queries over the harness-shaped tables, one
closed-loop client.

Each pass runs the frozen list below in a seed-permuted order, every query
built with ``QueryDef.fn`` and fully collected. The list and its class split
were taken once, on the seed commit, from the build-phase job counts the
traced run reports (``queries.build_jobs``; tables from ``tpchgen`` at
``sf=0.01``, ``local[4]``):

* eager: ``QueryDef.fn`` itself launches Spark jobs (pins, probes, driver
  loops) -- the fixed-cost targets;
* lazy: the query runs as one plan at ``collect()`` -- the no-change control.

Every collected result of a run, warm-up pass included, is compared with
the query's DuckDB oracle (``tests/parity.compare_with_canon``) after the
timed region; oracle answers are cached on disk by dataset fingerprint
(``tools/oracle_cache``).
"""

from __future__ import annotations

import os
import time

import tpchgen
from measure import catalyst_ms, median
from workload import PassWorkload

# name -> build-phase jobs measured on the seed commit
EAGER = {
    "dedup_clusters": 18,
    "text_mmr_diverse_topk": 32,
    "g_kcore_parts": 15,
    "dedup_prefix_filter_jaccard": 15,
}
# 16 lazy queries of 0.14-0.34 s each (warm): their latencies sit close
# together, so the median and the tail land among many similar samples
# instead of in a gap between a few queries
LAZY = (
    "j1_multiway_revenue",
    "q1_pricing_summary",
    "a8_distinct_parts_per_customer",
    "w3_running_avg_per_customer",
    "t8_sessionization",
    "text_bm25_topk",
    "j31_volume_shipping_q7",
    "a_funnel_signup_view_purchase",
    "j11_asof_join_last_view",
    "j12_range_join_bucketed",
    "j14_unshipped_value_topk",
    "j18_sole_blame_supplier",
    "j23_late_orders_q4",
    "j13_local_supplier_volume",
    "j17_small_quantity_revenue",
    "o7_pareto_front_orders",
)
DATA_SEED = 20240  # the tables are fixed; the workload seed permutes the order
SCALES = {"bench": 0.01, "toy": 0.001}
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


class _Collected:
    """A collected result in the shape ``compare_with_canon`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class Analytics(PassWorkload):
    MIN_PASSES = 2  # the tail needs both passes' samples

    def generate(self) -> None:
        sf = SCALES[self.scale]
        self.sf_dir = os.path.join(CACHE, f"tables-sf{sf}-seed{DATA_SEED}")
        if not os.path.exists(os.path.join(self.sf_dir, "done")):
            tpchgen.write(DATA_SEED, sf, self.sf_dir)
            open(os.path.join(self.sf_dir, "done"), "w").close()

    def setup(self, spark, cycle: int) -> dict[str, float]:
        from yelpdatawarehouse_spark.queries import all_queries
        from yelpdatawarehouse_spark.sources.tables import load_tables

        self.spark = spark
        self.registry = all_queries()
        t0 = time.perf_counter()
        rows = sum(df.count() for df in load_tables(spark, self.sf_dir).values())
        return {"sources.rows_per_s": rows / (time.perf_counter() - t0)}

    def op_keys(self) -> list[str]:
        return [*EAGER, *LAZY]

    def run_op(self, name, tracer, counters):
        qd = self.registry[name]
        if tracer is None:
            df = qd.fn(self.spark, self.sf_dir)
            return _Collected(df.columns, df.collect())
        counters.set_group(f"q-{name}")
        with tracer.span("queries.build", name):
            t0 = time.perf_counter()
            df = qd.fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
        build_jobs = len(counters.job_ids(f"q-{name}"))
        with tracer.span("collect", name):
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        m = {"queries.build_ms": 1000 * (t1 - t0), "queries.build_jobs": build_jobs,
             "collect.ms": 1000 * (t3 - t2), "collect.rows": len(rows), **catalyst_ms(df)}
        m.update(counters.job_metrics(counters.job_ids(f"q-{name}")))
        tracer.add(name, m)
        counters.clear_group()
        return _Collected(df.columns, rows)

    def traced_round(self, tracer, counters):
        m = super().traced_round(tracer, counters)
        if tracer is not None:
            self.notes.append("build jobs: " + ", ".join(
                f"{q}={int(v.get('queries.build_jobs', 0))}" for q, v in tracer.op_metrics.items()))
        return m

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {"storage.files": sum(f.endswith(".parquet") for f in os.listdir(self.sf_dir))}

    def report_lines(self) -> list[str]:
        passes = self.timed
        if not passes:  # traced run
            return self.notes
        eager = [sum(p.by_key.get(q, 0.0) for q in EAGER) / 1000 for p in passes]
        lazy = [sum(p.by_key.get(q, 0.0) for q in LAZY) / 1000 for p in passes]
        return [f"analytics.pass_s = {median([p.wall_s for p in passes]):.3f} s "
                f"(median of {len(passes)} timed passes of {len(EAGER) + len(LAZY)} queries)",
                f"analytics.eager_s = {median(eager):.3f} s ({len(EAGER)} queries)",
                f"analytics.lazy_s = {median(lazy):.3f} s ({len(LAZY)} queries)"]

    def check(self) -> None:
        from tests.parity import compare_with_canon, oracle_canon
        from tools import oracle_cache

        oracle_cache._DIR = os.path.join(CACHE, "oracle")
        fp = oracle_cache.dataset_fingerprint(self.sf_dir)
        for name, outs in self.results.items():
            oracle = self.registry[name].oracle
            cached = oracle_cache.get(name, oracle, fp)
            if cached is None:
                cached = oracle_canon(oracle, self.sf_dir)
                oracle_cache.put(name, oracle, fp, *cached)
            ocols, ocanon = cached
            for i, out in enumerate(outs):
                problems = compare_with_canon(out, ocols, ocanon)
                if problems:
                    self.fail(f"{name} (result {i}): {problems[0]}")
