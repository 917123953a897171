"""SparkSession factory.

The reference creates one ad-hoc ``SparkSession.builder.master("local[4]")``
per program (e.g. reference StreamingWithKafka.scala:11-15,
BasicStreaming.scala:10-12). Here a single factory owns the configuration so
every pipeline and test shares the same tuned session.

Scale notes (local[32] today, 1000-executor cluster tomorrow):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster raise it to ~2-3x total cores and let AQE coalesce.
- UTC session timezone pinned: parquet/DuckDB oracle comparison is
  timezone-naive, and the reference's timestamp parsing (SURVEY P8-P10)
  is locale-sensitive otherwise.
- ``timeParserPolicy=CORRECTED``: the reference ran Spark 2.2 SimpleDateFormat
  patterns ("yyyy/MM/dd HH:mm:ss"); we consciously opt into the
  DateTimeFormatter semantics (SURVEY "What's hard" #2).
- ``nanosAsLong``: the events testdata has shipped INT64 TIMESTAMP(NANOS)
  (which Spark's vectorized parquet reader otherwise rejects) in some data
  drops and naive TIMESTAMP(MICROS) in others; with this conf the nanos
  layout reads as raw longs, and sources.load_table normalizes BOTH layouts
  to TimestampType (truncating nanos like DuckDB does).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "stop_session", "run_parallel"]


def run_parallel(*thunks):
    """Run independent Spark actions CONCURRENTLY from driver threads
    (optimization guide §2.6: actions are only sequential because the
    driver calls them sequentially; FIFO scheduling backfills each job's
    straggler tail with the next job's tasks). The session-level utility
    behind plans.stream._run_jobs and the independent-training overlap in
    plans.llm. Only for thunks with NO lineage ordering requirement.
    Returns the thunk results in order; exceptions propagate."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


def materialize(df):
    """Execute ``df``'s pending computation NOW (one count() through its
    lazy localCheckpoint lineage cut) and return it. run_parallel thunks
    wrap independent trainings with this so the §2.6 overlap is GENUINE:
    a thunk that only constructs a lazy frame returns instantly and
    overlaps nothing — the trainings would still serialize at the first
    consuming action (r19 ADVICE, measured r20). The count is a k-row
    action; the checkpoint it fills is what every later consumer
    reuses."""
    df.count()
    return df


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g: a fixed 16g heap on a smaller
    host lets the driver JVM grow past what the machine has."""
    cap_mb = 16 * 1024
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):  # no sysconf (non-POSIX)
        return f"{cap_mb}m"
    return f"{max(min(ram_mb // 2, cap_mb), 1024)}m"


def get_session(
    app_name: str = "spark_streaming_kafka_example_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    Safe to call repeatedly: ``getOrCreate`` returns the live session, and
    runtime-settable confs are re-applied on it.
    """
    cores = _default_parallelism()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle discipline: pre-AQE bound ~= local core count, AQE coalesces
        # down when partitions are small and splits skewed ones.
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Oracle-comparison determinism.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # events.parquet carries INT64 TIMESTAMP(NANOS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for pandas UDFs / toPandas (the only Python<->JVM data plane).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # NB: driver memory is a static JVM conf — it only takes effect when
        # THIS call launches the JVM. If getOrCreate() returns an
        # already-running session (driver-owned session in verify, second
        # get_session call), it is silently ignored; launch paths that need a
        # guaranteed heap must set it via spark-submit/SPARK_DRIVER_MEMORY
        # before the first session is created.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
