"""The two sensor workloads: ``sensor_live`` (open loop, latency) and
``sensor_backlog`` (closed loop, drain throughput). Both run the reference's
SlidingWindow and ParquetOutput programs as two concurrent queries over one
directory of JSON-lines files:

- ``alert``: ``sensor_enrich`` -> ``windowed_analysis`` (5m/1m sliding
  window, 10m watermark, update mode);
- ``archive``: ``sensor_archive``;

each written through foreachBatch with ``sinks.idempotent_parquet_handler``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa

import gen
import observe
from check import sensor_failures

QUERIES = ("alert", "archive")

# sensor_live: 20 files/s of 25 events (500 events/s), each file covering
# 3 event seconds. A pre-roll wave starts the live queries (their first,
# cold batch); then the generator runs LIVE_WARM_S of the same open-loop
# load before the timed window, so timing starts in the steady state and
# after the watermark exists.
LIVE_INTERVAL_S = 0.05
LIVE_ROWS = 25
LIVE_SPAN_S = int(LIVE_INTERVAL_S * gen.EVENT_SPEED)
PREROLL_FILES = 10
LIVE_WARM_S = 10.0
# A file whose results take longer than this after it was due counts as
# failed: about three times the p95 of a run that keeps up, and below the
# delay a backlog growing at twice the drain rate builds over the 30 s of
# warm-up and timed load.
LATENCY_LIMIT_S = 15.0

# sensor_backlog: 75 files of 250 events, 25 files per micro-batch. A run
# drains the backlog once per DRAIN_S seconds of --seconds: a fixed amount
# of work, so a faster program finishes sooner rather than fitting in more
# (and warmer) drains. A warm drain takes about this long on 4 cores.
BACKLOG_FILES = 75
BACKLOG_ROWS = 250
BACKLOG_BATCH_FILES = 25
BACKLOG_SPAN_S = 15
DRAIN_S = 5.0

NEVER = 1 << 30  # first_beyond for inputs whose first batch has no watermark yet


def _name(k: int) -> str:
    return f"part-{k:06d}.json"


def _index(name: str) -> int:
    return int(name[len("part-"):-len(".json")])


class SensorPipeline:
    """Starts the two queries over one input directory and collects what
    each did: its progress reports, its file -> batch map and, when traced,
    its wrapped handler calls."""

    def __init__(self, ctx, master):
        from spark_streaming_kafka_example_spark.streaming import pipelines, sinks

        self._ctx = ctx
        self._frames = {
            "alert": (
                lambda raw: pipelines.windowed_analysis(
                    pipelines.sensor_enrich(raw, master), alert_threshold=None
                ),
                "update",
            ),
            "archive": (pipelines.sensor_archive, "append"),
        }
        self._handler = sinks.idempotent_parquet_handler

    def start(self, src: str, out: str, available_now: bool, max_files: int | None = None) -> dict:
        run = {}
        for name in QUERIES:
            build, mode = self._frames[name]
            reader = self._ctx.spark.readStream
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            handler = self._handler(os.path.join(out, name))
            if self._ctx.traced:
                handler = observe.TimedHandler(handler)
            ckpt = os.path.join(out, f"ckpt_{name}")
            writer = (
                build(reader.text(src)).writeStream.outputMode(mode)
                .foreachBatch(handler).option("checkpointLocation", ckpt).queryName(name)
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            run[name] = {"query": writer.start(), "ckpt": ckpt, "handler": handler}
        return run

    @staticmethod
    def committed(run: dict) -> list[set[str]]:
        return [set(observe.file_batches(q["ckpt"])) for q in run.values()]

    def finish(self, run: dict, timeout: float | None = None) -> dict:
        """Wait up to ``timeout`` for availableNow queries to end, or (live,
        ``timeout=None``) let running batches finish; stop both queries, then
        gather per query: {files: {name: batch}, batches: {id: report},
        calls}. Stopping a live query interrupts its current batch, so it
        stops only once all available data is processed."""
        deadline = time.time() + (timeout or 0)
        for q in run.values():
            if timeout is None:
                q["query"].processAllAvailable()
            else:
                q["query"].awaitTermination(max(0.1, deadline - time.time()))
        for q in run.values():
            q["query"].stop()
            if q["query"].exception() is not None:
                raise RuntimeError(f"query failed: {q['query'].exception()}")
        out = {}
        for name, q in run.items():
            files = observe.file_batches(q["ckpt"])
            qid = str(q["query"].id)
            observe.wait_for_reports(self._ctx.progress, qid, set(files.values()))
            out[name] = {
                "files": files,
                "batches": {r["batchId"]: r for r in self._ctx.progress.batches(qid)},
                "calls": q["handler"].calls if self._ctx.traced else [],
            }
        return out


def _file_latencies(records: dict, due: dict[str, float]):
    """Per query, each file's latency (due -> end of the batch that
    committed it); per file, the latency until BOTH queries had committed
    it; and the files some query never committed."""
    per_query: dict[str, list[float]] = {}
    both: dict[str, float] = {}
    missing: set[str] = set()
    for name, rec in records.items():
        per_query[name] = []
        for f, t_due in due.items():
            b = rec["files"].get(f)
            if b is None or b not in rec["batches"]:
                missing.add(f)
                continue
            v = rec["batches"][b]["end"] - t_due
            per_query[name].append(v)
            both[f] = max(both.get(f, v), v)
    return per_query, {f: v for f, v in both.items() if f not in missing}, missing


def _lag_files(records: dict, landed: dict[str, float], since: float = 0.0) -> list[int]:
    """At each batch start from ``since`` on: files that had landed but
    that no committed batch of that query held yet."""
    out = []
    for rec in records.values():
        ends = {f: rec["batches"][b]["end"] for f, b in rec["files"].items() if b in rec["batches"]}
        for r in rec["batches"].values():
            t = r["start"]
            if t < since:
                continue
            out.append(sum(1 for f, tl in landed.items() if tl <= t and ends.get(f, float("inf")) > t))
    return out


def _progress_metrics(records_list: list[dict], m: dict, since: float = 0.0) -> None:
    """Per-layer figures from the progress reports of both queries (live:
    one run, batches started in the timed window; backlog: every drain)."""
    batches = {
        n: [b for rec in records_list for b in rec[n]["batches"].values() if b["start"] >= since]
        for n in QUERIES
    }
    every = batches["alert"] + batches["archive"]
    m["sources.latest_offset_ms"] = observe.median([b["durationMs"].get("latestOffset", 0) for b in every])
    m["sources.get_batch_ms"] = observe.median([b["durationMs"].get("getBatch", 0) for b in every])
    m["sources.rows_per_batch"] = observe.median([b["numInputRows"] for b in every if b["numInputRows"]])
    state = [b["stateOperators"][0] for b in batches["alert"] if b.get("stateOperators")]
    m["analytics.state_commit_ms"] = observe.median([s["commitTimeMs"] for s in state])
    m["analytics.state_rows"] = max([s["numRowsTotal"] for s in state], default=0)
    m["analytics.state_memory_bytes"] = max([s["memoryUsedBytes"] for s in state], default=0)
    m["analytics.rows_dropped_by_watermark"] = sum(s.get("numRowsDroppedByWatermark", 0) for s in state)
    for name, bs in batches.items():
        pre = f"streaming.{name}."
        for key, phase in (
            ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
            ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
            ("trigger_ms", "triggerExecution"),
        ):
            m[pre + key] = observe.median([b["durationMs"].get(phase, 0) for b in bs])
        m[pre + "batches"] = len(bs)
        calls = [c for rec in records_list for c in rec[name]["calls"]]
        m[pre + "sinks.handler_ms"] = observe.median([(c["end"] - c["start"]) * 1000 for c in calls])


class _SensorWorkload:
    """Input generation, checks and layer increments shared by both sensor
    workloads."""

    rows = span = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.stream = gen.SensorStream(ctx.seed, self.rows, self.span)
        self.master_table = gen.sensor_master(ctx.seed)
        self.master = None

    def _master_df(self):
        """The master table as a DataFrame of the current session (the
        single-core baseline restarts the session)."""
        from spark_streaming_kafka_example_spark.schemas import SENSOR_MASTER_SCHEMA

        path = os.path.join(self.ctx.work, "master.csv")
        return self.ctx.spark.read.csv(path, schema=SENSOR_MASTER_SCHEMA, header=True)

    def generate(self, i: int) -> None:
        """Write the master table and the workload's input into a fresh
        directory; the last repetition's files are the ones used."""
        self.gen_dir = os.path.join(self.ctx.work, f"gen{i}-{type(self).__name__}")
        os.makedirs(self.gen_dir)
        gen.write_master_csv(self.master_table, os.path.join(self.ctx.work, "master.csv"))
        self.master = self._master_df()
        self._write_input()

    def _check(self, truth: pa.Table, out: str, records: dict) -> set[int]:
        archive = {_index(f): b for f, b in records["archive"]["files"].items()}
        return sensor_failures(truth, self.master_table, out, archive)

    def layer_increments(self, src: str, m: dict) -> None:
        """Batch runs of each layer over the workload's input, forced with a
        noop write; each the median of three. Enrich and window are
        reported as increments over the layer below them."""
        from spark_streaming_kafka_example_spark.streaming import pipelines as p

        steps = {
            "ingest": p.sensor_ingest,
            "enrich": lambda raw: p.sensor_enrich(raw, self.master),
            "window": lambda raw: p.windowed_analysis(
                p.sensor_enrich(raw, self.master), alert_threshold=None
            ),
        }
        took = {}
        for name, build in steps.items():
            samples = []
            for _ in range(3):
                with self.ctx.spans.span(f"layer.{name}", self.ctx.root_span):
                    t = time.perf_counter()
                    build(self.ctx.spark.read.text(src)).write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - t)
            took[name] = observe.median(samples)
        m["transforms.ingest_s"] = took["ingest"]
        m["analytics.enrich_s"] = took["enrich"] - took["ingest"]
        m["analytics.window_s"] = took["window"] - took["enrich"]

    def _trace_queries(self, records: dict) -> None:
        for name, rec in records.items():
            bs = sorted(rec["batches"].values(), key=lambda r: r["start"])
            if bs:
                q = self.ctx.spans.add(f"query.{name}", bs[0]["start"], bs[-1]["end"], self.ctx.root_span)
                self.ctx.spans.add_batches(bs, q, rec["calls"])

    @staticmethod
    def _latency_metrics(per_query: dict, both: list[list[float]], m: dict) -> None:
        """Latencies per timed unit: ``both`` holds one list per unit,
        ``per_query`` one such list of lists per query."""
        observe.latency_summary(both, m)
        for q, lat in per_query.items():
            observe.latency_summary(lat, m, prefix=f"streaming.{q}.")


class SensorLive(_SensorWorkload):
    """Open loop: a separate generator process drops files on a fixed
    schedule into the directory that the two live queries watch."""

    rows, span = LIVE_ROWS, LIVE_SPAN_S

    def __init__(self, ctx, seconds: float):
        super().__init__(ctx)
        self.n_warm = int(round(LIVE_WARM_S / LIVE_INTERVAL_S))
        self.n_timed = int(round(seconds / LIVE_INTERVAL_S))
        self.src = os.path.join(ctx.work, "live")
        self.out = os.path.join(ctx.work, "live_out")

    def _write_input(self) -> None:
        self.wave = self.stream.write_files(
            os.path.join(self.gen_dir, "wave"), range(PREROLL_FILES), first_beyond=NEVER
        )
        # Beyond-watermark events only in timed files: by then the queries
        # have run many batches (see gen.py).
        first, timed = PREROLL_FILES, PREROLL_FILES + self.n_warm
        self.truth_load = self.stream.write_files(
            os.path.join(self.gen_dir, "stage"), range(first, timed + self.n_timed), first_beyond=timed
        )

    def warm_up(self) -> None:
        """Start the live queries, feed them the pre-roll wave and wait until
        both committed it, then start the load generator and let it run
        LIVE_WARM_S before the timed window opens."""
        os.makedirs(self.src)
        self.pipe = SensorPipeline(self.ctx, self.master)
        self.run = self.pipe.start(self.src, self.out, available_now=False)
        wave = os.path.join(self.gen_dir, "wave")
        names = sorted(os.listdir(wave))
        for name in names:
            os.rename(os.path.join(wave, name), os.path.join(self.src, name))
        deadline = time.time() + 90
        while not all(set(names) <= c for c in self.pipe.committed(self.run)):
            if time.time() > deadline:
                raise RuntimeError("the pre-roll wave was not committed within 90 s")
            time.sleep(0.05)
        self.log_path = os.path.join(self.ctx.work, "load_log.json")
        self.t0 = time.time() + 0.2
        self.generator = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
             "--stage", os.path.join(self.gen_dir, "stage"), "--dest", self.src, "--t0", repr(self.t0),
             "--interval", repr(LIVE_INTERVAL_S), "--log", self.log_path]
        )
        time.sleep(max(0.0, self.t0 + LIVE_WARM_S - time.time()))

    def close(self) -> None:
        """Stop the load generator if it is still running."""
        generator = getattr(self, "generator", None)
        if generator is not None and generator.poll() is None:
            generator.terminate()
            generator.wait()

    def _load_log(self, seconds: float) -> list[dict]:
        """Wait for the generator to finish its schedule; its log."""
        try:
            self.generator.wait(timeout=seconds + 30)
        finally:
            self.close()
        if self.generator.returncode != 0:
            raise RuntimeError(f"load generator exited with code {self.generator.returncode}")
        with open(self.log_path) as fh:
            return json.load(fh)

    def measure(self, seconds: float, m: dict) -> tuple[int, int, bool]:
        ctx = self.ctx
        mark = ctx.census.mark() if ctx.traced else 0
        log = self._load_log(seconds)
        everything = {e["name"] for e in log}
        deadline = log[-1]["due"] + LATENCY_LIMIT_S + 5
        caught_up = False
        while time.time() < deadline and not caught_up:
            caught_up = all(everything <= c for c in self.pipe.committed(self.run))
            time.sleep(0.1)
        # A query that never caught up is stopped at once, not drained.
        records = self.pipe.finish(self.run, timeout=None if caught_up else 0)

        log = log[self.n_warm:]
        timed = {e["name"] for e in log}
        due = {e["name"]: e["due"] for e in log}
        per_query, both, missing = _file_latencies(records, due)
        truth_all = pa.concat_tables([self.wave, self.truth_load])
        wrong = self._check(truth_all, self.out, records)
        slow = {f for f, v in both.items() if v > LATENCY_LIMIT_S}
        failed = {f for f in timed if _index(f) in wrong} | missing | slow

        files, counts = np.unique(self.truth_load.column("file").to_numpy(), return_counts=True)
        rows = dict(zip(files.tolist(), counts.tolist()))
        good_rows = sum(rows[_index(f)] for f in timed - failed) * len(QUERIES)
        m["rows_per_s"] = good_rows / (log[-1]["landed"] - log[0]["landed"] + LIVE_INTERVAL_S)
        self._latency_metrics({q: [v] for q, v in per_query.items()}, [list(both.values())], m)
        m["gen.lag_p95_ms"] = observe.quantile([(e["landed"] - e["due"]) * 1000 for e in log], 0.95)
        m["gen.files"] = len(log)
        m["gen.rows"] = sum(rows[_index(f)] for f in timed)
        m["gen.beyond_watermark_events"] = int(np.sum(truth_all.column("beyond").to_numpy()))
        if ctx.traced:
            m.update({f"engine.{k}": v for k, v in ctx.census.since(mark).items()})
            self._trace_queries(records)
            t0 = log[0]["due"]
            _progress_metrics([records], m, since=t0)
            m["sources.lag_files"] = observe.quantile(
                _lag_files(records, {e["name"]: e["landed"] for e in log}, since=t0), 0.95
            )
            self.layer_increments(self.src, m)
        return len(timed), len(failed), not wrong and not missing


class SensorBacklog(_SensorWorkload):
    """Closed loop: drain a pre-generated backlog with availableNow and
    large micro-batches, on fresh checkpoints, once per DRAIN_S seconds of
    the run length."""

    rows, span = BACKLOG_ROWS, BACKLOG_SPAN_S

    def __init__(self, ctx, seconds: float = 0.0):
        super().__init__(ctx)
        self.drains = 0

    def _write_input(self) -> None:
        # The first two batches drop no late rows (see gen.py), so only
        # later files carry beyond-watermark events.
        self.truth = self.stream.write_files(
            os.path.join(self.gen_dir, "backlog"), range(BACKLOG_FILES),
            first_beyond=2 * BACKLOG_BATCH_FILES, mtime0=1.7e9,
        )

    def warm_up(self) -> None:
        self.drain()

    def drain(self) -> tuple[float, float, dict, str]:
        """Both queries over the whole backlog on fresh checkpoints: start
        time, seconds taken, records and output directory."""
        out = os.path.join(self.ctx.work, f"drain{self.drains}")
        self.drains += 1
        pipe = SensorPipeline(self.ctx, self.master)
        t0 = time.time()
        start = time.perf_counter()
        run = pipe.start(os.path.join(self.gen_dir, "backlog"), out, True, BACKLOG_BATCH_FILES)
        records = pipe.finish(run, timeout=150)
        return t0, time.perf_counter() - start, records, out

    def _rate(self, drains: list) -> float:
        """Input rows committed by both queries per second of a drain, the
        drain time taken across drains."""
        return self.truth.num_rows * len(QUERIES) / observe.across_units([took for _, took, _, _ in drains])

    def rows_per_s(self, seconds: float) -> float:
        """Drain rate on the current session, without checks: the
        single-core baseline and its local[nproc] twin."""
        self.master = self._master_df()
        return self._rate([self.drain() for _ in range(max(1, int(seconds // DRAIN_S)))])

    def measure(self, seconds: float, m: dict) -> tuple[int, int, bool]:
        ctx = self.ctx
        mark = ctx.census.mark() if ctx.traced else 0
        drains = [self.drain() for _ in range(max(1, int(seconds // DRAIN_S)))]
        if ctx.traced:
            m.update({f"engine.{k}": v for k, v in ctx.census.since(mark).items()})

        names = [_name(k) for k in range(BACKLOG_FILES)]
        per_query = {q: [] for q in QUERIES}
        both, failed, correct = [], 0, True
        for t0, _, records, out in drains:
            pq, bt, missing = _file_latencies(records, dict.fromkeys(names, t0))
            for q in QUERIES:
                per_query[q].append(pq[q])
            both.append(list(bt.values()))
            wrong = self._check(self.truth, out, records)
            failed += len({_index(f) for f in missing} | wrong)
            correct = correct and not wrong and not missing
            if ctx.traced:
                self._trace_queries(records)
        ctx.log("timed drains (s): " + " ".join(f"{took:.2f}" for _, took, _, _ in drains))
        m["rows_per_s"] = self._rate(drains)
        self._latency_metrics(per_query, both, m)
        m["gen.files"] = BACKLOG_FILES
        m["gen.rows"] = self.truth.num_rows
        m["gen.beyond_watermark_events"] = int(np.sum(self.truth.column("beyond").to_numpy()))
        if ctx.traced:
            _progress_metrics([r for _, _, r, _ in drains], m)
            m["sources.lag_files"] = observe.quantile(
                _lag_files(drains[0][2], dict.fromkeys(names, drains[0][0])), 0.95
            )
            self.layer_increments(os.path.join(self.gen_dir, "backlog"), m)
        return len(names) * len(drains), failed, correct
