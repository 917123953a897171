"""The ``dedup_lifecycle`` workload: registered maintained-state ingest arms
called through ``plans.QUERIES`` over a generated ``documents.parquet``,
each forced with a noop write. Every arm call seeds its state, writes its
arrival files and drains one micro-batch per arrival file, and each batch
runs several small Spark jobs: a state read, the decision, and two or three
partition overwrites.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
import observe
from check import decision_mismatches

# The timed arm: the fingerprint-store ingest, the lifecycle every other
# maintained-state arm extends (seed, id-ordered arrivals, foreachBatch
# deciding against the store as of the batch, two partition overwrites per
# batch).
ARM = "stream_dedup_store_ingest"
# A run makes one timed call per CALL_S seconds of --seconds: a fixed amount
# of work, so a faster program finishes sooner rather than fitting in more
# (and warmer) calls. A warm call takes ~4.5 s on 4 cores, so a run of 25 s
# makes seven: its lower quartile is not moved by up to four calls that a
# busy host slowed.
CALL_S = 3.5
# Called only in the traced run, after the timed part: they do not fit the
# time budget of every run. The gate maintains the store, the
# minhash band catalog and the image chunk catalog at once.
TRACE_ARMS = ("stream_minhash_catalog_ingest", "stream_pretrain_gate_v3")
N_DOCS = 800


class DedupLifecycle:
    def __init__(self, ctx, seconds: float):
        from spark_streaming_kafka_example_spark import plans

        plans.load_all()
        self.ctx = ctx
        self.plans = plans

    def generate(self, i: int) -> None:
        """Write the corpus into a fresh directory; the last repetition's
        is the one used."""
        self.docs_dir = os.path.join(self.ctx.work, f"gen{i}-docs")
        os.makedirs(self.docs_dir)
        pq.write_table(gen.documents(self.ctx.seed, N_DOCS), os.path.join(self.docs_dir, "documents.parquet"))

    def warm_up(self) -> None:
        """One untimed call: the process's first Spark jobs, Python worker
        start and code generation happen here."""
        self.warm_ok = self.call(ARM, {})["ok"]

    def call(self, arm: str, m: dict) -> dict:
        """One arm call plus its noop read-back, checked against the
        oracle; per-layer figures go to ``m`` when traced."""
        ctx = self.ctx
        mark = ctx.census.mark() if ctx.traced else 0
        with ctx.spans.span(f"arm.{arm}", ctx.root_span) as sid:
            t0 = time.time()
            df = self.plans.QUERIES[arm](ctx.spark, self.docs_dir)
            t1 = time.time()
            with ctx.spans.span("readback", sid):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        decisions = df.toPandas()
        ok = decision_mismatches(self.docs_dir, self.plans.ORACLE[arm], decisions) == 0
        ctx.progress.wait_terminated(since=t0)
        reports = ctx.progress.batches(since=t0)
        if ctx.traced:
            c = ctx.census.since(mark)
            ctx.spans.add_batches(sorted(reports, key=lambda r: r["start"]), sid)
            pre = f"plans.stream.{arm}."
            busy = sum(r["durationMs"].get("triggerExecution", 0) for r in reports) / 1000
            m[pre + "call_s"] = t1 - t0
            m[pre + "batches"] = len(reports)
            m[pre + "add_batch_ms"] = observe.median([r["durationMs"].get("addBatch", 0) for r in reports])
            m[pre + "jobs"] = c["jobs"]
            m[pre + "jobs_per_batch"] = c["jobs"] / max(1, len(reports))
            m[pre + "outside_batches_s"] = (t1 - t0) - busy
            m[pre + "readback_s"] = t2 - t1
        return {
            "took": t2 - t0,
            "docs": len(decisions),
            "latencies": [r["end"] - t0 for r in reports for _ in range(r["numInputRows"])],
            "ok": ok,
        }

    def measure(self, seconds: float, m: dict) -> tuple[int, int, bool]:
        ctx = self.ctx
        mark = ctx.census.mark() if ctx.traced else 0
        calls = [self.call(ARM, m) for _ in range(max(1, int(seconds // CALL_S)))]
        ctx.log("timed calls (s): " + " ".join(f"{c['took']:.2f}" for c in calls))
        m["rows_per_s"] = 1 / observe.across_units([c["took"] / c["docs"] for c in calls])
        observe.latency_summary([c["latencies"] for c in calls], m)
        m["gen.files"] = 1
        m["gen.rows"] = N_DOCS
        failed = sum(not c["ok"] for c in calls)
        if ctx.traced:
            m.update({f"engine.{k}": v for k, v in ctx.census.since(mark).items()})
            extra = [self.call(arm, m) for arm in TRACE_ARMS]
            calls += extra
            failed += sum(not c["ok"] for c in extra)
        return len(calls), failed, failed == 0 and self.warm_ok
