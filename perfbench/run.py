"""Benchmark driver: runs one workload for one seed and prints every metric.

    python3 perfbench/run.py --workload sensor_backlog --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it give each metric with its
unit and sample count, and the host. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is a separate, traced run that reports the per-layer
metrics (with its own end-to-end figures as ``trace.*``, to set against the
untraced runs for the tracing overhead) and writes its spans to
``.perfbench/traces/``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

import lifecycle
import observe

LIB = "spark_streaming_kafka_example_spark"
SETUP_REPEATS = 3
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "peak_rss_mb": "MB",
}
_ARMS = (lifecycle.ARM, *lifecycle.TRACE_ARMS)
PER_LAYER = {
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_files": "count",
    "sources.rows_per_batch": "count",
    "transforms.ingest_s": "s",
    "analytics.enrich_s": "s",
    "analytics.window_s": "s",
    "analytics.state_commit_ms": "ms",
    "analytics.state_rows": "count",
    "analytics.state_memory_bytes": "bytes",
    "analytics.rows_dropped_by_watermark": "count",
    **{
        f"streaming.{q}.{k}": u
        for q in ("alert", "archive")
        for k, u in (
            ("query_planning_ms", "ms"), ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
            ("commit_offsets_ms", "ms"), ("trigger_ms", "ms"), ("batches", "count"),
            ("sinks.handler_ms", "ms"), ("latency_p50_ms", "ms"), ("latency_p95_ms", "ms"),
        )
    },
    **{
        f"plans.stream.{a}.{k}": u
        for a in _ARMS
        for k, u in (
            ("call_s", "s"), ("batches", "count"), ("add_batch_ms", "ms"), ("jobs", "count"),
            ("jobs_per_batch", "count"), ("outside_batches_s", "s"), ("readback_s", "s"),
        )
    },
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.session_start_s": "s",
    "engine.local1_rows_per_s": "1/s",
    "engine.local_n_rows_per_s": "1/s",
    "gen.lag_p95_ms": "ms",
    "gen.files": "count",
    "gen.rows": "count",
    "gen.beyond_watermark_events": "count",
    "trace.rows_per_s": "1/s",
    "trace.latency_p50_ms": "ms",
    "trace.latency_p95_ms": "ms",
}


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        ram_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {"cores": len(os.sched_getaffinity(0)), "ram_mb": ram_kb // 1024}


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this host's
    CPUs had work (the steal column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _driver_java_options() -> str:
    """The driver JVM compiles with C1 only: with the C2 tier, drain and
    call times kept falling for ten or more warm units, on a path that
    differed from run to run, while C1 code is as fast as C2's after that
    long and steady from the second unit on. Without C2 the code cache
    defaults to 48 MB, which Spark's generated classes fill within eight
    arm calls (the JVM then stops compiling), so it gets the tiered
    default of 240 MB. The whole heap is committed and touched at start,
    so peak RSS does not follow G1's choice of how many regions to use,
    which moved it between 1.0 and 1.3 GB from run to run on a busy host."""
    return (
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
        f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
    )


def _driver_memory(ram_mb: int) -> str:
    """A fifth of host RAM, at most 1 GB: the library's 16g default does not
    fit a 15 GB host that other processes share, and the workloads' data is
    small."""
    return f"{min(1024, max(512, ram_mb // 5))}m"


class Context:
    """What one run shares between its workload and the observers."""

    def __init__(self, seed: int, work: str, traced: bool):
        self.seed = seed
        self.work = work
        self.traced = traced
        self.spans = observe.Spans(uuid.uuid4().hex)
        self.root_span = None
        self.spark = self.progress = self.census = None
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self._t0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def start_session(self) -> float:
        """(Re)start the Spark session through engine.get_session; returns
        the seconds it took."""
        from spark_streaming_kafka_example_spark import engine

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = engine.get_session(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.driver.extraJavaOptions": _driver_java_options(),
            },
        )
        took = time.perf_counter() - t
        self.progress = observe.ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.census = observe.Census(self.spark.sparkContext)
        return took


def _workload(name: str, ctx: Context, seconds: float):
    if name == "dedup_lifecycle":
        return lifecycle.DedupLifecycle(ctx, seconds)
    from sensor import SensorBacklog, SensorLive

    return {"sensor_live": SensorLive, "sensor_backlog": SensorBacklog}[name](ctx, seconds)


def _single_core(workload, ctx: Context, seconds: float, m: dict) -> None:
    """Backlog drain rate at local[nproc], then on a session restarted at
    local[1]: the single-threaded baseline."""
    from sensor import SensorBacklog

    backlog = workload
    if not isinstance(backlog, SensorBacklog):
        backlog = SensorBacklog(ctx)
        backlog.generate(0)
    m["engine.local_n_rows_per_s"] = backlog.rows_per_s(seconds / 2)
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.start_session()
    m["engine.local1_rows_per_s"] = backlog.rows_per_s(seconds / 2)


def _stop_jvm() -> None:
    """Stop the JVM that pyspark launched and the Python workers it forked,
    and wait until all of them have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    children = [
        int(p) for p in os.listdir("/proc") if p.isdigit() and _ppid(p) == proc.pid
    ]
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{c}") for c in children) and time.time() < deadline:
        time.sleep(0.05)


def _ppid(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return -1


def run(args, root: str, work: str) -> tuple[dict, int, int, bool, dict]:
    host = _host()
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory(host["ram_mb"])

    ctx = Context(args.seed, work, bool(args.trace))
    m: dict = {}
    workload = None
    try:
        with ctx.spans.span(f"workload.{args.workload}") as root_span:
            ctx.root_span = root_span
            session_s = ctx.start_session()
            workload = _workload(args.workload, ctx, args.seconds)
            gen_s = []
            for i in range(SETUP_REPEATS):
                t = time.perf_counter()
                workload.generate(i)
                gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            workload.warm_up()
            warm_s = time.perf_counter() - t
            m["setup_s"] = session_s + observe.median(gen_s) + warm_s
            m["engine.session_start_s"] = session_s
            ctx.log(f"set-up: session {session_s:.2f} s, input {observe.median(gen_s):.2f} s "
                    f"(median of {SETUP_REPEATS}), warm-up {warm_s:.2f} s")
            steal, t = _steal_s(), time.perf_counter()
            attempted, failed, correct = workload.measure(args.seconds, m)
            steal_share = (_steal_s() - steal) / ((time.perf_counter() - t) * host["cores"])
            ctx.log(f"measured; {steal_share:.0%} of the CPU time went to other guests")
            m["peak_rss_mb"] = observe.peak_rss_mb(ctx.spark.sparkContext._gateway.proc.pid)
            if args.trace and args.workload != "dedup_lifecycle":
                _single_core(workload, ctx, args.seconds, m)
        host.update(
            driver_memory=os.environ["SPARK_DRIVER_MEMORY"], spark=ctx.spark.version,
            java=ctx.spark.sparkContext._jvm.System.getProperty("java.version"),
            seed=args.seed, workload=args.workload, seconds=args.seconds, trace=args.trace,
            steal_share=round(steal_share, 4),
        )
    finally:
        if hasattr(workload, "close"):
            workload.close()
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
    if args.trace:
        for key in ("rows_per_s", "latency_p50_ms", "latency_p95_ms"):
            m[f"trace.{key}"] = m[key]
        ctx.spans.write(os.path.join(root, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"), host)
    return m, attempted, failed, correct, host


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("sensor_live", "sensor_backlog", "dedup_lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, LIB, "engine.py")):
        print(f"perfbench: run from the repository root; {LIB}/ is missing here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Temp files of Python, the library, Spark and every JVM stay in the
    # checkout; the JVMs write no perf-data files.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    tempfile.tempdir = None
    try:
        m, attempted, failed, correct, host = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    print("# host " + json.dumps(host))
    print(f"# attempted={attempted} failed={failed} failed_ratio={failed / max(1, attempted):.4f}")
    print("# latency_ms " + " ".join(f"p{q}={m[f'latency_p{q}_ms']:.1f}" for q in (25, 50, 75, 95))
          + f" samples={m['latency_samples']}; setup_s median of {SETUP_REPEATS} input generations")
    for name, unit in names.items():
        print(f"{name} = {m.get(name, 0.0):.6g} {unit}")
    metrics = {name: {"value": float(m.get(name, 0.0)), "unit": unit} for name, unit in names.items()}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
