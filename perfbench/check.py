"""Correctness checks against DuckDB recomputations of the generated input.

Sensor workloads: the alert table (each window/field's last update across
batches) must equal the 5-minute/1-minute sliding-window sums over every
event that is not beyond the watermark, and each archive batch must hold
exactly the rows of the files its checkpoint says it consumed. Sums are
rounded to 4 decimals on both sides, as the repo's oracles round them.

Lifecycle arms: the decisions must equal ``plans.ORACLE[arm]`` run over the
generated ``documents.parquet``, compared as ``tests/oracle_harness.py``
compares (canonicalised, order-insensitive rows).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

_SUMS = ("temperature", "humidity", "ph", "whc")


def _read_output(con, name: str, path: str) -> bool:
    files = glob.glob(os.path.join(path, "batch_id=*", "*.parquet"))
    if not files:
        return False
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/batch_id=*/*.parquet', "
        "hive_partitioning = true)"
    )
    return True


def sensor_failures(
    truth: pa.Table, master: pa.Table, out_dir: str, archive_batches: dict[int, int]
) -> set[int]:
    """Indices of the input files whose results are wrong or missing.

    A file fails when an alert window its events feed is wrong or missing,
    or when the archive batch that consumed it does not hold exactly the
    rows of its files. An alert row no input explains fails every file."""
    con = duckdb.connect()
    con.register("truth", truth)
    con.register("master", master)
    con.register(
        "fb",
        pa.table({"file": list(archive_batches), "batch": list(archive_batches.values())}),
    )
    all_files = set(truth.column("file").to_pylist())
    failed: set[int] = set()

    con.execute(
        f"""CREATE TABLE exp_alert AS
        WITH ev AS (
            SELECT t.*, m.field_id FROM truth t
            LEFT JOIN master m ON t.id = m.sensor_id WHERE NOT t.beyond),
        w AS (SELECT ev.*, (ev.ts // 60) * 60 - j * 60 AS ws FROM ev, range(5) r(j))
        SELECT ws, field_id, list(DISTINCT file) AS files,
               {", ".join(f"round(sum({m}), 4) AS s_{m}" for m in _SUMS)}
        FROM w GROUP BY ws, field_id"""
    )
    if not _read_output(con, "got_alert", os.path.join(out_dir, "alert")):
        return all_files
    rows = con.execute(
        f"""WITH last AS (
            SELECT *, row_number() OVER (
                PARTITION BY window_start, field_id ORDER BY batch_id DESC) AS rn
            FROM got_alert),
        got AS (
            SELECT CAST(epoch(window_start) AS BIGINT) AS ws,
                   CAST(epoch(window_end) AS BIGINT) AS we, field_id,
                   {", ".join(f"round(sum_{m}, 4) AS s_{m}" for m in _SUMS)}
            FROM last WHERE rn = 1)
        SELECT e.files, e.ws IS NULL AS extra
        FROM exp_alert e FULL OUTER JOIN got g
          ON e.ws = g.ws AND e.field_id IS NOT DISTINCT FROM g.field_id
        WHERE e.ws IS NULL OR g.ws IS NULL OR g.we != g.ws + 300
           OR {" OR ".join(f"e.s_{m} != g.s_{m}" for m in _SUMS)}"""
    ).fetchall()
    for files, extra in rows:
        failed |= all_files if extra else set(files)

    if not _read_output(con, "got_archive", os.path.join(out_dir, "archive")):
        return all_files
    cols = "id, ts, lat, lon, temperature, humidity, ph, whc, month"
    bad = con.execute(
        f"""WITH e AS (
            SELECT fb.batch, t.id, t.ts, t.lat, t.lon, t.temperature, t.humidity,
                   t.ph, t.whc, strftime(make_timestamp(t.ts * 1000000), '%Y%m') AS month
            FROM truth t JOIN fb ON t.file = fb.file),
        g AS (
            SELECT batch_id AS batch, id, CAST(epoch("timestamp") AS BIGINT) AS ts, lat, lon,
                   temperature, humidity, ph, whc, month
            FROM got_archive
            WHERE CAST(epoch("timestamp") AS BIGINT) = epoch(strptime(date, '%Y/%m/%d %H:%M:%S')))
        SELECT DISTINCT batch FROM (
            (SELECT batch, {cols} FROM e EXCEPT ALL SELECT batch, {cols} FROM g)
            UNION ALL
            (SELECT batch, {cols} FROM g EXCEPT ALL SELECT batch, {cols} FROM e))"""
    ).fetchall()
    bad_batches = {b for (b,) in bad}
    failed |= {f for f, b in archive_batches.items() if b in bad_batches}
    failed |= all_files - set(archive_batches)
    return failed


def decision_mismatches(docs_dir: str, oracle_sql: str, actual) -> int:
    """Rows that differ between the arm's decisions (a pandas frame) and
    its DuckDB oracle over ``docs_dir/documents.parquet``; a column or row
    count mismatch counts every row."""
    from tests.oracle_harness import canonicalize

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(docs_dir, 'documents.parquet')}')"
    )
    expected = con.execute(oracle_sql).df()
    if sorted(actual.columns) != sorted(expected.columns) or len(actual) != len(expected):
        return max(len(actual), len(expected), 1)
    return sum(a != e for a, e in zip(canonicalize(actual), canonicalize(expected)))
