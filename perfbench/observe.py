"""What the benchmark observes from outside the library: Spark's own
streaming progress reports, a job/stage/task census from the status
tracker, the file-to-batch log in each query checkpoint, spans, and peak
memory."""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

# The micro-batch phases Spark reports in durationMs, in execution order.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def quantile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation; 0.0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def across_units(values) -> float:
    """What a run reports for a time measured once per timed unit (drain
    or arm call): its lower quartile over the units. The host's other
    guests only ever add time, in stretches that can cover half a run, so
    a run's faster units are the ones that measure the program."""
    return quantile(values, 0.25)


def latency_summary(units: list[list[float]], m: dict, prefix: str = "") -> None:
    """Latencies given in seconds, one list per timed unit: under
    ``<prefix>latency_*``, each unit's p25/p50/p75/p95 in ms taken
    across units, and the total sample count."""
    units = [u for u in units if u]
    for q in (25, 50, 75, 95):
        m[f"{prefix}latency_p{q}_ms"] = across_units([quantile(u, q / 100) for u in units]) * 1000
    m[f"{prefix}latency_samples"] = sum(len(u) for u in units)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def epoch(ts: str) -> float:
    """Progress timestamp ('2024-03-01T00:00:00.123Z') -> epoch seconds."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps every progress report of every query in the session, including
    the queries that library calls start and stop internally."""

    def __init__(self):
        self.reports: list[dict] = []
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        self.started[str(event.id)] = time.time()

    def onQueryProgress(self, event):
        self.reports.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.id))

    def wait_terminated(self, since: float, timeout: float = 30.0) -> None:
        """Events arrive asynchronously, each query's progress reports
        before its termination: wait until every query that started after
        ``since`` has reported its termination."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(q in self.terminated for q, t in list(self.started.items()) if t >= since):
                return
            time.sleep(0.05)
        raise RuntimeError("streaming queries did not report termination within 30 s")

    def batches(self, query_id: str | None = None, since: float = 0.0) -> list[dict]:
        """Reports of one query (by id) or of all queries whose batch
        started at or after ``since``, with ``start``/``end`` epoch
        seconds added; end = timestamp + triggerExecution."""
        out = []
        for r in list(self.reports):
            if query_id is not None and r["id"] != query_id:
                continue
            start = epoch(r["timestamp"])
            if start < since:
                continue
            out.append(dict(r, start=start, end=start + r["durationMs"].get("triggerExecution", 0) / 1000))
        return out


def wait_for_reports(log: ProgressLog, query_id: str, batch_ids: set[int], timeout: float = 30.0) -> None:
    """Progress events arrive asynchronously; wait until the listed batches
    of one query have reported."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        seen = {r["batchId"] for r in log.reports if r["id"] == query_id}
        if batch_ids <= seen:
            return
        time.sleep(0.05)
    raise RuntimeError(f"query {query_id}: no progress report for batches {sorted(batch_ids - seen)}")


def file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> id of the COMMITTED micro-batch that consumed it.

    The file source logs each file under its own log offset in
    ``<checkpoint>/sources/0/<logOffset>[.compact]`` when a batch is
    planned; ``offsets/<batchId>`` records the log offset each batch read
    up to, and ``commits/<batchId>`` marks the batches that finished. A
    no-data batch (run to advance the watermark) repeats the previous log
    offset, so a log offset maps to the first batch that reached it."""
    commit_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commit_dir):
        return {}
    first_batch: dict[int, int] = {}
    for b in sorted(int(n) for n in os.listdir(commit_dir) if n.isdigit()):
        with open(os.path.join(checkpoint, "offsets", str(b))) as fh:
            source_offset = json.loads(fh.read().splitlines()[2])
        first_batch.setdefault(int(source_offset["logOffset"]), b)
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    if int(entry["batchId"]) in first_batch:
                        out[os.path.basename(entry["path"])] = first_batch[int(entry["batchId"])]
    return out


class Census:
    """Jobs, stages and tasks from the status tracker, across ALL job
    groups: job ids are global and sequential, so a census walks every id
    from a mark. Jobs started from streaming and pool threads lose the
    caller's job group, so a group-filtered count would miss them."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._next = 0

    def mark(self) -> int:
        """The id the next job will get."""
        job_id, misses = self._next, 0
        while misses < 20:
            if self._tracker.getJobInfo(job_id) is None:
                misses += 1
            else:
                misses, self._next = 0, job_id + 1
            job_id += 1
        return self._next

    def since(self, mark: int) -> dict[str, int]:
        jobs = stages = tasks = 0
        for job_id in range(mark, self.mark()):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks + st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Spans:
    """In-memory spans of one run; written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "run": self.run_id, "name": name, "start": start,
             "end": end, "parent": parent, **attrs}
        )
        return len(self.items) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.items[sid]["end"] = time.time()

    def add_batches(self, reports: list[dict], parent: int, handler_calls: list[dict] = ()) -> None:
        """One span per micro-batch, its durationMs phases as children laid
        out in execution order, and the remainder recorded as the batch's
        self time. Wrapped handler calls hang under their batch's addBatch."""
        calls = {c["batch_id"]: c for c in handler_calls}
        for r in reports:
            d = r["durationMs"]
            bid = self.add("batch", r["start"], r["end"], parent, batch_id=r["batchId"])
            t = r["start"]
            covered = 0
            for ph in PHASES:
                ms = d.get(ph, 0)
                if not ms:
                    continue
                pid = self.add(ph, t, t + ms / 1000, bid)
                if ph == "addBatch" and r["batchId"] in calls:
                    c = calls[r["batchId"]]
                    self.add("handler", c["start"], c["end"], pid)
                t += ms / 1000
                covered += ms
            self.items[bid]["self_ms"] = d.get("triggerExecution", 0) - covered

    def write(self, path: str, host: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "host": host, "spans": self.items}, fh)


class TimedHandler:
    """Wraps a foreachBatch handler and records each call's wall time."""

    def __init__(self, handler):
        self._handler = handler
        self.calls: list[dict] = []

    def __call__(self, batch_df, batch_id):
        start = time.time()
        self._handler(batch_df, batch_id)
        self.calls.append({"batch_id": batch_id, "start": start, "end": time.time()})


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python process plus the JVM it drives, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024
