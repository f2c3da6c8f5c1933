"""``ingest``: the stream consumer keeping the warehouse current.

Set-up ETLs the generated Yelp files into a parquet warehouse (the same one
``dashboard`` reads) and seeds the additive ``summary_state`` from it; one
warm-up micro-batch is drained after set-up. The timed region then drains the seeded
event backlog through ``YelpStreamApplier.start(yelp_event_file_stream(...))``
(``availableNow``, ``maxFilesPerTrigger=1``, one file per micro-batch): a
closed loop, each micro-batch starts after the previous one committed. The
backlog arrives in rounds of ``ROUND_BATCHES`` files, each round one
``availableNow`` run on the same checkpoint, until ``--seconds`` of drain
wall have passed. After the drain the maintained summary is read a few times.

Checks (after the timed region): the maintained ``summary()`` equals
``sources.etl.business_summary`` rebuilt over the final facts, and
``fact_review`` holds each review id once -- exactly the initial ids plus
the streamed ones, so no replayed id counted twice.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import yelpgen
from measure import median
from workload import Measurement, Workload

SCALES = {"bench": 0.05, "toy": 0.01}
BATCH_EVENTS = 200
BACKLOG_BATCHES = 40  # more than a run at --seconds 8 drains
ROUND_BATCHES = 6
MIN_ROUNDS = 2
TRACE_BATCHES = 6  # per traced-run round
SUMMARY_READS = 5
APPLIER_TABLES = ("fact_review", "fact_checkin", "dim_business", "dim_user")
_SUMMARY_KEYS = ("total_reviews", "total_checkins", "total_tips")


def seed_summary_state(wh: dict, path: str) -> None:
    """Additive state over the batch facts (the convergence recipe of
    tests/test_yelp_streaming.py)."""
    from pyspark.sql import functions as F

    def part(df, **cols):
        zero = {"total_reviews": F.lit(0).cast("long"), "stars_sum": F.lit(0.0),
                "total_checkins": F.lit(0).cast("long"), "total_tips": F.lit(0).cast("long")}
        zero.update(cols)
        return df.groupBy("business_id").agg(*[c.alias(k) for k, c in zero.items()])

    state = (
        part(wh["fact_review"], total_reviews=F.count("*").cast("long"),
             stars_sum=F.sum("stars").cast("double"))
        .unionByName(part(wh["fact_checkin"],
                          total_checkins=F.sum("checkin_count").cast("long")))
        .unionByName(part(wh["fact_tip"], total_tips=F.count("*").cast("long")))
        .groupBy("business_id")
        .agg(*[F.sum(c).alias(c) for c in
               ("total_reviews", "stars_sum", "total_checkins", "total_tips")])
    )
    state.write.mode("overwrite").parquet(path)


class Ingest(Workload):
    ALIASES = {"op_p50_ms": ("ingest.batch_p50_ms", "ms"),
               "op_tail_ms": ("ingest.batch_tail_ms", "ms"),
               "throughput_per_s": ("ingest.events_per_s", "events/s")}

    def generate(self) -> None:
        self.data = yelpgen.generate(self.seed, SCALES[self.scale],
                                     BACKLOG_BATCHES + 1, BATCH_EVENTS)
        self.backlog = yelpgen.write(self.data, os.path.join(self.work, "raw"),
                                     os.path.join(self.work, "backlog"), BATCH_EVENTS)
        self.drained: list[str] = []

    def setup(self, spark, cycle: int) -> dict[str, float]:
        from yelpdatawarehouse_spark.sources.etl import build_warehouse, write_warehouse
        from yelpdatawarehouse_spark.streaming.yelp_consumer import YelpStreamApplier

        self.spark = spark
        # fresh directories per cycle: deleting parquet files is slow on some
        # disks, and the next run removes the whole work directory anyway
        self.wh_dir = os.path.join(self.work, f"wh{cycle}")
        self.src = os.path.join(self.work, f"src{cycle}")
        self.ckpt = os.path.join(self.work, f"ckpt{cycle}")
        os.makedirs(self.src)
        t0 = time.perf_counter()
        tables = build_warehouse(spark, os.path.join(self.work, "raw"), {})
        t1 = time.perf_counter()
        # the applier appends unpartitioned parquet to the tables it
        # maintains; under write_warehouse's year-partitioned layout those
        # appends are invisible to every later read, so keep them flat
        write_warehouse({k: v for k, v in tables.items() if k not in APPLIER_TABLES}, self.wh_dir)
        for k in APPLIER_TABLES:
            tables[k].write.parquet(os.path.join(self.wh_dir, k))
        seed_summary_state({k: spark.read.parquet(os.path.join(self.wh_dir, k))
                            for k in ("fact_review", "fact_checkin", "fact_tip")},
                           os.path.join(self.wh_dir, "summary_state"))
        t2 = time.perf_counter()
        self.applier = YelpStreamApplier(spark, self.wh_dir)
        self.drained = []
        self.applier.summary().count()  # warm-up probe: read the maintained tables
        return {"sources.etl_build_ms": 1000 * (t1 - t0),
                "sources.etl_write_ms": 1000 * (t2 - t1)}

    def warm(self) -> None:
        self._drain(self.backlog[:1])

    def _drain(self, files: list[str]) -> tuple[float, list]:
        """Stage ``files`` (one micro-batch each, in order) and run one
        ``availableNow`` drain. Returns (wall seconds, progress reports)."""
        from yelpdatawarehouse_spark.streaming.yelp_consumer import yelp_event_file_stream

        base = time.time() - 3600
        for i, f in enumerate(files):
            dst = os.path.join(self.src, os.path.basename(f))
            shutil.copyfile(f, dst)
            # the file source orders by modification time: make it the stream order
            n = len(self.drained) + i
            os.utime(dst, (base + n, base + n))
        t0 = time.perf_counter()
        q = self.applier.start(yelp_event_file_stream(self.spark, self.src), self.ckpt)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        self.drained += files
        self.attempted += len(files)
        done = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(done) != len(files):
            self.fail(f"drained {len(done)} micro-batches, staged {len(files)}")
        return wall, done

    def _round(self, n: int) -> Measurement:
        files = self.backlog[len(self.drained): len(self.drained) + n]
        wall, progress = self._drain(files)
        self.last_progress = progress
        return Measurement(
            latencies_ms=[float(p.durationMs["triggerExecution"]) for p in progress],
            units=sum(p.numInputRows for p in progress), wall_s=wall, attempted=len(files))

    def measure(self, seconds: float) -> Measurement:
        total = Measurement()
        rounds = 0
        while ((total.wall_s < seconds or rounds < MIN_ROUNDS)
               and len(self.drained) < len(self.backlog)):
            rounds += 1
            m = self._round(ROUND_BATCHES)
            total.latencies_ms += m.latencies_ms
            total.units += m.units
            total.wall_s += m.wall_s
            total.attempted += m.attempted
        reads = []
        for _ in range(SUMMARY_READS):
            t0 = time.perf_counter()
            self.applier.summary().collect()
            reads.append(1000 * (time.perf_counter() - t0))
        self.notes += [
            f"{total.units} events in {len(total.latencies_ms)} micro-batches",
            f"ingest.summary_read_ms = {median(reads):.1f} ms (median of {SUMMARY_READS})",
        ]
        return total

    def traced_round(self, tracer, counters) -> Measurement:
        if tracer is None:
            return self._round(TRACE_BATCHES)
        inner = self.applier.apply_batch

        def apply_batch(batch, batch_id):
            group = f"ingest-{batch_id}"
            counters.set_group(group)
            with tracer.span("yelp_consumer.apply_batch", group):
                inner(batch, batch_id)

        self.applier.apply_batch = apply_batch
        try:
            m = self._round(TRACE_BATCHES)
        finally:
            del self.applier.apply_batch
        files = self.drained[-TRACE_BATCHES:]
        self.event_bytes = sum(os.path.getsize(f) for f in files)
        for p in self.last_progress:
            group = f"ingest-{p.batchId}"
            ids = counters.job_ids(group)
            d = p.durationMs
            tracer.add(group, {
                **counters.job_metrics(ids), "yelp_consumer.jobs": len(ids),
                "streaming.input_rows": p.numInputRows,
                "streaming.add_batch_ms": d.get("addBatch", 0),
                "streaming.engine_ms": d["triggerExecution"] - d.get("addBatch", 0)})
        return m

    def layer_metrics(self, tracer) -> dict[str, float]:
        written = sum(m.get("storage.bytes_written", 0.0) for m in tracer.op_metrics.values())
        return {"streaming.batches": len(tracer.op_metrics),
                "storage.write_amp": written / self.event_bytes,
                "storage.files": sum(f.endswith(".parquet")
                                     for _, _, fs in os.walk(self.wh_dir) for f in fs)}

    def check(self) -> None:
        from yelpdatawarehouse_spark.sources.etl import business_summary

        read = lambda t: self.spark.read.parquet(os.path.join(self.wh_dir, t))  # noqa: E731
        reviews = read("fact_review")
        got_ids = [r.review_id for r in reviews.select("review_id").collect()]
        if len(got_ids) != len(set(got_ids)):
            self.fail("fact_review holds a review id more than once")
        if set(got_ids) != self.expected_review_ids():
            self.fail("fact_review ids differ from initial + streamed reviews")
        biz = read("dim_business")
        want = {r.business_id: r for r in business_summary(
            biz.select("business_id", "stars"), reviews, read("fact_checkin"),
            read("fact_tip")).collect()}
        got = {r.business_id: r for r in self.applier.summary().collect()}
        bad = [b for b in want.keys() | got.keys()
               if b not in want or b not in got
               or any(getattr(want[b], k) != getattr(got[b], k) for k in _SUMMARY_KEYS)
               or not math.isclose(want[b].avg_rating, got[b].avg_rating, abs_tol=1e-9)]
        if bad:
            self.fail(f"maintained summary differs from the batch rebuild for {len(bad)} businesses")

    def expected_review_ids(self) -> set[str]:
        known = {b["business_id"] for b in self.data.business}
        ids = {r["review_id"] for r in self.data.review if r["business_id"] in known}
        n = len(self.drained) * BATCH_EVENTS
        ids |= {e["review_id"] for e in self.data.events[:n] if e["topic"] == "yelp-reviews"}
        return ids
