"""Seeded input generators for the signing-engine benchmark.

Records mirror the ``events`` table the engine reads (``event_id, ts,
user_id, event_type, value, props``). Record *content* is a pure function of
the seed; only ``ts`` depends on when a run starts, because it is the
record's creation stamp.

The streaming source (``streaming.source.events_stream``) dictates the
object layout:

- it reads its schema from ``<dir>/events.parquet``;
- it only matches files named ``events.parquet``;
- it only sees hive-style subdirectories, so object ``n`` is
  ``<dir>/k=<n>/events.parquet``;
- a ``k=`` directory first appearing after the query started fails the
  query (``assertion failed: Invalid batch``), so the top-level file and
  ``k=0`` are written before any query starts (:func:`seed_objects`).

Every object is written into a staging directory and renamed into place, so
the source never lists a half-written file.

Run as a script, this module is the open-loop put-log generator: a separate
process that puts one object every ``period`` seconds on a fixed schedule,
whatever the engine does, and writes a JSON report of how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_KEYS = 100
SEED_OBJECT_ROWS = 50  # rows of the pre-start object k=0
DUP_FRAC = 0.2  # share of each put that redelivers an earlier record
DUP_WINDOW = 20_000  # redelivered copies are drawn from this many latest ids
ID_STRIDE = 1 << 32  # event ids of different seeds never collide

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def first_id(seed: int) -> int:
    return (seed % 1000 + 1) * ID_STRIDE


def record_fields(seed: int, ids: np.ndarray) -> dict[str, np.ndarray]:
    """Content of the records with the given event ids: a pure function of
    (seed, event_id), so a copy of a record is identical to its original and
    a checker can rebuild any record from its id alone."""
    ids = np.asarray(ids, dtype=np.int64)
    # splitmix64 of (seed, id): per-record randomness without any state
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(
            seed * 0xBF58476D1CE4E5B9 % (1 << 64)
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    cents = (z % np.uint64(56_022)).astype(np.int64)
    return {
        "user_id": ((z >> np.uint64(17)) % np.uint64(1500)).astype(np.int64),
        "event_type": EVENT_TYPES[((z >> np.uint64(29)) % np.uint64(5)).astype(np.int64)],
        # two-decimal values below 1e7: Python's repr and Spark's double ->
        # string cast print them identically, which the content hash needs
        "value": cents / 100.0,
        "k": ((z >> np.uint64(37)) % np.uint64(N_KEYS)).astype(np.int64),
    }


def records_table(seed: int, ids: np.ndarray, ts_us: np.ndarray) -> pa.Table:
    f = record_fields(seed, ids)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(np.asarray(ts_us, dtype=np.int64), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(f["user_id"]),
            "event_type": pa.array(f["event_type"]),
            "value": pa.array(f["value"]),
            "props": pa.array([f'{{"k": {k}}}' for k in f["k"].tolist()]),
        },
        schema=SCHEMA,
    )


def put_object(src: str, stage: str, name: str, table: pa.Table) -> None:
    """Write ``table`` as ``<src>/<name>/events.parquet`` atomically: written
    under ``stage`` (same filesystem), then renamed into place."""
    tmp = os.path.join(stage, name)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "events.parquet"))
    os.rename(tmp, os.path.join(src, name))


class PutLog:
    """The deterministic put log of one seed: object ``n`` holds ``n_new``
    fresh records and ``n_dup`` redelivered copies of earlier ones. Creation
    offsets (seconds from the log's start) are spread evenly over the period
    before the object is put; a copy keeps its original's offset, because a
    redelivery is the same record sent again."""

    def __init__(self, seed: int, rate: float, period: float, dup_frac: float = DUP_FRAC):
        self.seed = seed
        self.period = period
        n = max(1, round(rate * period))
        self.n_dup = round(n * dup_frac)
        self.n_new = n - self.n_dup
        self.base = first_id(seed) + SEED_OBJECT_ROWS

    def new_ids(self, n: int) -> np.ndarray:
        lo = self.base + n * self.n_new
        return np.arange(lo, lo + self.n_new, dtype=np.int64)

    def offset_of(self, ids: np.ndarray) -> np.ndarray:
        """Creation offset in seconds of the records with these fresh ids."""
        rel = np.asarray(ids, dtype=np.int64) - self.base
        n, i = rel // self.n_new, rel % self.n_new
        return (n + i / self.n_new) * self.period

    def object_ids(self, n: int) -> np.ndarray:
        """Event ids of object ``n`` (fresh ones first, then copies)."""
        fresh = self.new_ids(n)
        if self.n_dup == 0:
            return fresh
        rng = np.random.default_rng([self.seed, n])
        hi = self.base + (n + 1) * self.n_new  # copies may repeat this object
        lo = max(self.base, hi - DUP_WINDOW)
        return np.concatenate([fresh, rng.integers(lo, hi, self.n_dup)])

    def object_table(self, n: int, start_us: int) -> pa.Table:
        ids = self.object_ids(n)
        return records_table(
            self.seed, ids, start_us + np.round(self.offset_of(ids) * 1e6).astype(np.int64)
        )

    def distinct_ids(self, n_objects: int) -> np.ndarray:
        """Every distinct event id in objects ``0 .. n_objects-1``."""
        return np.arange(self.base, self.base + n_objects * self.n_new, dtype=np.int64)


def seed_ids(seed: int) -> np.ndarray:
    """Ids of the records in the pre-start object ``k=0``."""
    return np.arange(first_id(seed), first_id(seed) + SEED_OBJECT_ROWS, dtype=np.int64)


def seed_objects(src: str, stage: str, seed: int) -> None:
    """Write the top-level ``events.parquet`` and ``k=0`` before a query
    starts (see the module docstring for why both must exist). The
    top-level file only carries the schema: the file source does not read
    rows from files beside partition directories."""
    os.makedirs(src, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    ids = seed_ids(seed)
    t = records_table(seed, ids, np.full(len(ids), int(time.time() * 1e6)))
    pq.write_table(t.slice(0, 0), os.path.join(stage, "events.parquet"))
    os.rename(os.path.join(stage, "events.parquet"), os.path.join(src, "events.parquet"))
    put_object(src, stage, "k=0", t)


def backlog_log(seed: int, n_unique: int, n_objects: int) -> PutLog:
    """The put log of a backlog: ``n_unique`` fresh records over
    ``n_objects`` puts, plus ``DUP_FRAC`` redelivered copies."""
    return PutLog(seed, rate=n_unique / n_objects / (1 - DUP_FRAC), period=1.0)


def stage_backlog(src: str, stage: str, seed: int, n_unique: int, n_objects: int):
    """Pre-stage a backlog as the seed objects plus ``n_objects`` puts.
    Returns (distinct event ids, event ids as delivered, copies repeated)."""
    seed_objects(src, stage, seed)
    log = backlog_log(seed, n_unique, n_objects)
    start = int((time.time() - n_objects * log.period) * 1e6)  # created in the past
    delivered = [seed_ids(seed)]
    for n in range(n_objects):
        t = log.object_table(n, start)
        put_object(src, stage, f"k={n + 1}", t)
        delivered.append(t["event_id"].to_numpy())
    return (
        np.concatenate([seed_ids(seed), log.distinct_ids(n_objects)]),
        np.concatenate(delivered),
    )


def run_open_loop(
    src: str, stage: str, seed: int, rate: float, period: float, seconds: float, t0: float
) -> dict:
    """Put objects ``0 .. seconds/period - 1`` of the log, object ``n`` due
    at ``t0 + (n + 1) * period``; never waits on the engine. Returns how
    late each put completed against its due time."""
    log = PutLog(seed, rate, period)
    n_objects = max(1, round(seconds / period))
    start_us = round(t0 * 1e6)
    late = []
    for n in range(n_objects):
        due = t0 + (n + 1) * period
        time.sleep(max(0.0, due - time.time()))
        put_object(src, stage, f"k={n + 1}", log.object_table(n, start_us))
        late.append(time.time() - due)
    return {"objects": n_objects, "late_max_s": max(late), "late_p50_s": float(np.median(late))}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="records per second")
    ap.add_argument("--period", type=float, required=True, help="seconds between puts")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch seconds of the log start")
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    rep = run_open_loop(a.src, a.stage, a.seed, a.rate, a.period, a.seconds, a.t0)
    with open(a.report, "w") as f:
        json.dump(rep, f)


if __name__ == "__main__":
    main()
