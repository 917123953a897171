"""Seeded input generation for the benchmark.

Everything here is a pure function of the seed: the sensor master table,
the JSON-lines sensor payload files (reference ``SENSOR_RAW_SCHEMA``
layout) and the ``documents.parquet`` corpus for the lifecycle arms. The
library under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

# Event time starts here and runs EVENT_SPEED times faster than wall time,
# so 5-minute windows close and the 10-minute watermark evicts state within
# a run of a few tens of seconds.
EVENT_BASE = int(np.datetime64("2024-03-01T00:00:00", "s").astype(np.int64))
EVENT_SPEED = 60

N_SENSORS = 4000
N_FIELDS = 40
UNKNOWN_SENSORS = 40  # ids absent from the master: the left-outer enrich keeps them
ZIPF_S = 1.1

# Late events. Inside-late ones trail their file's event time by at most 8
# minutes, so no window they touch can have closed (the watermark trails the
# newest event already processed by 10 minutes). Beyond-late ones trail it by
# at least an hour, so every window they touch closed at least 45 event
# minutes (45 wall seconds at the live rate) earlier. Spark drops late rows
# by the watermark of the batch BEFORE the current one, so the first two
# batches of a query drop nothing: inputs carry beyond-late events only in
# files that come after those batches. With that, what is dropped does not
# depend on where the later batch boundaries fall.
LATE_INSIDE_SHARE = 0.04
LATE_INSIDE_S = (30, 480)
LATE_BEYOND_SHARE = 0.005
LATE_BEYOND_S = (3600, 5400)

_VOCAB = (
    "the a of and to in is it stream batch window table query join key value "
    "row column scan sort hash merge filter group agg spark data line order "
    "customer part fast slow big small vector sensor field water soil north "
    "south river valley crop yield rain heat cold wind light dark early late"
).split()
_SYLLABLES = "ka lo mi su te ra no vi pe du sha go li ma zu be ho ni ta fe ro ki ju la wo mo ne si".split()


def sensor_master(seed: int) -> pa.Table:
    """(sensor_id, field_id) for N_SENSORS sensors over N_FIELDS fields."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, N_SENSORS + 1, dtype=np.int64)
    fields = rng.integers(0, N_FIELDS, N_SENSORS)
    return pa.table(
        {
            "sensor_id": ids,
            "field_id": [f"F{f:03d}" for f in fields],
        }
    )


def write_master_csv(master: pa.Table, path: str) -> None:
    with open(path, "w") as fh:
        fh.write("sensor_id,field_id\n")
        for sid, fid in zip(master["sensor_id"].to_pylist(), master["field_id"].to_pylist()):
            fh.write(f"{sid},{fid}\n")


def _decimal(values: np.ndarray, places: int) -> np.ndarray:
    """Round to ``places`` decimals as the JSON text will carry them: the
    double nearest the printed decimal, which is what a JSON parser reads
    back (``np.round`` alone can be one ulp away from it)."""
    return np.array([float(f"{v:.{places}f}") for v in values.tolist()])


class SensorStream:
    """Deterministic sensor payload files: file ``k`` covers event seconds
    ``[EVENT_BASE + k * span, EVENT_BASE + (k + 1) * span)`` plus its late
    events. ``file_events(k)`` depends only on (seed, k)."""

    def __init__(self, seed: int, rows_per_file: int, span_s: int):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self.span_s = span_s
        rng = np.random.default_rng([seed, 2])
        n = N_SENSORS + UNKNOWN_SENSORS
        weights = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self._p = weights / weights.sum()
        self._rank_to_id = rng.permutation(np.arange(1, n + 1, dtype=np.int64))
        self._lat = _decimal(rng.uniform(-60, 60, n + 1), 4)
        self._lon = _decimal(rng.uniform(-180, 180, n + 1), 4)

    def file_events(self, k: int, beyond_allowed: bool) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, 3, k])
        r = self.rows_per_file
        start = EVENT_BASE + k * self.span_s
        t = start + rng.integers(0, self.span_s, r)
        u = rng.random(r)
        inside = u < LATE_INSIDE_SHARE
        beyond = (u >= LATE_INSIDE_SHARE) & (
            u < LATE_INSIDE_SHARE + LATE_BEYOND_SHARE
        ) & beyond_allowed
        t = np.where(inside, start - rng.integers(*LATE_INSIDE_S, r), t)
        t = np.where(beyond, start - rng.integers(*LATE_BEYOND_S, r), t)
        ids = self._rank_to_id[rng.choice(len(self._p), r, p=self._p)]
        return {
            "file": np.full(r, k, dtype=np.int64),
            "id": ids,
            "ts": t.astype(np.int64),
            "lat": self._lat[ids],
            "lon": self._lon[ids],
            "temperature": _decimal(rng.normal(21.0, 6.0, r), 2),
            "humidity": _decimal(rng.uniform(20.0, 95.0, r), 2),
            "ph": _decimal(rng.uniform(5.0, 8.5, r), 2),
            "whc": _decimal(rng.uniform(0.05, 0.6, r), 2),
            "beyond": beyond,
        }

    def write_files(
        self, directory: str, ks: range, first_beyond: int, mtime0: float | None = None
    ) -> pa.Table:
        """Render files ``ks`` into ``directory`` as ``part-<k>.json``;
        return the truth table of every event written. ``mtime0`` pins
        file k's modification time to ``mtime0 + k`` so that a
        ``maxFilesPerTrigger`` source takes the files in index order."""
        os.makedirs(directory, exist_ok=True)
        chunks = []
        for k in ks:
            ev = self.file_events(k, beyond_allowed=k >= first_beyond)
            dates = np.datetime_as_string(ev["ts"].astype("datetime64[s]"), unit="s")
            lines = [
                '{"id":%d,"date":"%s","coord":{"lat":%.4f,"lon":%.4f},'
                '"main":{"temperature":%.2f,"humidity":%.2f,"ph":%.2f,"whc":%.2f}}\n'
                % (i, d.replace("-", "/").replace("T", " "), la, lo, te, hu, ph, wh)
                for i, d, la, lo, te, hu, ph, wh in zip(
                    ev["id"].tolist(), dates.tolist(), ev["lat"].tolist(),
                    ev["lon"].tolist(), ev["temperature"].tolist(),
                    ev["humidity"].tolist(), ev["ph"].tolist(), ev["whc"].tolist(),
                )
            ]
            path = os.path.join(directory, f"part-{k:06d}.json")
            with open(path, "w") as fh:
                fh.writelines(lines)
            if mtime0 is not None:
                os.utime(path, (mtime0 + k, mtime0 + k))
            chunks.append(pa.table(ev))
        return pa.concat_tables(chunks)


def documents(seed: int, n_docs: int) -> pa.Table:
    """``documents.parquet`` rows for the lifecycle arms: texts drawn from
    an 838-word vocabulary, so unrelated documents rarely share minhash
    bands, with exact copies (every 12th doc, from position 5) and
    tail-edited near copies (every 12th, from position 9) of earlier
    documents, on top of the plants each arm adds itself. The seed picks
    the words and the copied documents; how many copies there are does not
    depend on it, so neither does the amount of work. Ids stay far below
    every plant offset in ``plans/stream.py``."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(_VOCAB + [a + b for a in _SYLLABLES for b in _SYLLABLES])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 12 and i % 12 == 5:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 12 and i % 12 == 9:
            words = texts[int(rng.integers(0, i))].split(" ")
            cut = max(8, int(len(words) * 0.9))
            tail = vocab[rng.integers(0, len(vocab), len(words) - cut)].tolist()
            texts.append(" ".join(words[:cut] + tail))
        else:
            n = int(rng.integers(20, 70))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)].tolist()))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [["en", "es", "zh", "de"][i % 4] for i in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )