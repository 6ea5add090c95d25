"""The ``sign`` workload: live signing latency, then backlog drain rate, on
one Spark session.

Live phase: an open-loop put log (``gen.py`` in its own process) feeds
``streaming.jobs.signed_stream`` into a ``KeyedParquetSink`` under a
processing-time trigger. Each record's creation stamp travels in ``ts``
into the store; after the run every stored row is joined to the commit time
of the micro-batch that wrote its file, so the measured path gains no Spark
job.

Backlog phase: a pre-staged backlog drained three times per cycle, as a
recovering deployment would: E1 ``run_ingest_stream`` into the lake, E2
``run_signing_stream`` into a fresh store, then E2 again with a lost
checkpoint into the full store (every key already present).

Both phases share one process because most of a run is the cold start of
Spark, which a process pays once.

A traced run adds a traced live window and a traced backlog cycle after the
untraced ones, and reports how much slower they ran as
``trace.overhead_frac``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import check
import gen
import harness
from harness import Tracer

LIVE_RATE = 8000  # offered records per second, copies included
LIVE_PERIOD = 0.5  # seconds between puts
LIVE_TRIGGER = "500 milliseconds"
LIVE_LEAD_IN = 3.0  # seconds of load before the measured window: the stream is past warm-up
LIVE_LEAD_OUT = 1.0  # seconds of load after it: the window's last records ride a loaded batch
BACKLOG_UNIQUE = 40_000
BACKLOG_OBJECTS = 20
PHASES = ("ingest", "sign", "replay")  # the three drains of a backlog cycle
SETUPS = 3  # set-ups per run; setup_s is their median


class CommitLog:
    """The benchmark's ``foreachBatch`` wrapper around
    ``KeyedParquetSink.upsert_batch``: records each batch's start and
    commit time."""

    def __init__(self, sink):
        self.sink = sink
        self.batches: list[tuple[int, float, float]] = []

    def __call__(self, df, batch_id):
        t = time.time()
        self.sink.upsert_batch(df, batch_id)
        self.batches.append((batch_id, t, time.time()))


def trace_sink_calls(tracer: Tracer) -> None:
    """Wrap ``KeyedParquetSink.upsert_batch`` (also the sink
    ``run_signing_stream`` builds internally) so that, while ``tracer`` is
    enabled, each call is a span recording its Spark jobs (through a job
    group) and the rows it appended."""
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    orig = KeyedParquetSink.upsert_batch

    def upsert_batch(self, batch_df, batch_id):
        if not tracer.enabled:
            return orig(self, batch_df, batch_id)
        sc = batch_df.sparkSession.sparkContext
        before = set(check.store_files(self.path))
        with tracer.span("sinks.upsert_batch", batch_id=batch_id) as sp:
            group = f"perfbench-sink-{sp['id']}"
            sc.setJobGroup(group, "perfbench sink call")
            try:
                orig(self, batch_df, batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        new = [f for f in check.store_files(self.path) if f not in before]
        sp["attrs"]["jobs"] = harness.job_count(batch_df.sparkSession, group)
        sp["attrs"]["appended"] = sum(pq.ParquetFile(f).metadata.num_rows for f in new)

    KeyedParquetSink.upsert_batch = upsert_batch


def start_tracing(tracer: Tracer, spark) -> None:
    """Per session of a traced run: sink spans and micro-batch progress."""
    if not getattr(tracer, "sink_traced", False):
        trace_sink_calls(tracer)
        tracer.sink_traced = True
    spark.streams.addListener(harness.progress_listener(tracer))


def sink_stats(
    tracer: Tracer, since: float, until: float, store: str, offered: int
) -> dict[str, float]:
    """Sink-layer metrics of the calls in ``[since, until)``; ``offered``
    is the number of distinct records the stream passed to the sink."""
    calls = tracer.named("sinks.upsert_batch", since, until)
    if not calls:
        return {}
    secs = harness.durations(calls)
    return {
        "sinks.upsert_s.p50": harness.median(secs),
        "sinks.upsert_s.sum": float(sum(secs)),
        "sinks.jobs_per_batch": float(np.mean([s["attrs"]["jobs"] for s in calls])),
        "sinks.appended_frac": sum(s["attrs"]["appended"] for s in calls) / max(1, offered),
        "sinks.store_files": float(len(check.store_files(store))),
    }


def commit_times(store: str, batches) -> tuple[np.ndarray, np.ndarray]:
    """(creation µs, commit s) for every stored row. A file belongs to the
    first batch that ended at or after its modification time: batches run
    one after another, and a batch writes its files before it returns."""
    ends = np.array(sorted(b[2] for b in batches))
    ts, commit = [], []
    for f in check.store_files(store):
        i = int(np.searchsorted(ends, os.stat(f).st_mtime, side="left"))
        if i == len(ends):
            raise RuntimeError(f"{f} was written after the last recorded commit")
        col = pq.read_table(f, columns=["ts"])["ts"].to_numpy()
        us = col.astype("datetime64[us]").astype(np.int64)
        ts.append(us)
        commit.append(np.full(len(us), ends[i]))
    if not ts:
        return np.zeros(0, np.int64), np.zeros(0)
    return np.concatenate(ts), np.concatenate(commit)


def latency_stats(ts_us: np.ndarray, commit: np.ndarray, t0: float, t1: float) -> dict:
    """Creation-to-commit latency of the rows created in ``[t0, t1)``."""
    sel = (ts_us >= int(t0 * 1e6)) & (ts_us < int(t1 * 1e6))
    lat = commit[sel] - ts_us[sel] / 1e6
    tail, pct = harness.tail(lat)
    return {
        "latency_p50_s": harness.median(lat),
        "latency_tail_s": tail,
        "tail_pct": pct,
        "samples": int(sel.sum()),
    }


# -- live phase ---------------------------------------------------------------------


def start_live_query(spark, work: str, name: str, seed: int):
    """Start a live query on a fresh source holding the seed object, and
    wait for its first batch to commit. Returns (query, commit log, dirs)."""
    from aws_localstack_stream_processing_spark.streaming.jobs import signed_stream
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    d = {k: os.path.join(work, name, k) for k in ("src", "stage", "store", "ckpt")}
    gen.seed_objects(d["src"], d["stage"], seed)
    log = CommitLog(KeyedParquetSink(d["store"], "tx_hash"))
    q = (
        signed_stream(spark, d["src"])
        .writeStream.foreachBatch(log)
        .option("checkpointLocation", d["ckpt"])
        .trigger(processingTime=LIVE_TRIGGER)
        .start()
    )
    harness.wait_for(lambda: log.batches or not q.isActive, 120, "the warm-up batch")
    if not log.batches:
        raise RuntimeError(f"live query stopped: {q.exception()}")
    return q, log, d


def live_setup(work: str, seed: int, i: int, tracer: Tracer):
    """One set-up: session start, and a live query started with its first
    batch committed (the warm-up)."""
    t = time.time()
    with tracer.span("session.start"):
        spark = harness.start_session()
    if tracer.enabled:
        start_tracing(tracer, spark)
    q, log, d = start_live_query(spark, work, f"live{i}", seed)
    return time.time() - t, spark, q, log, d


def run_generator(d: dict, seed: int, seconds: float) -> tuple[float, dict]:
    """Run the generator process, putting objects into ``d["src"]`` for
    ``seconds``. Returns (start of the put log, generator report)."""
    t0 = time.time() + 1.0  # the generator process needs time to start
    report = os.path.join(os.path.dirname(d["src"]), "gen.json")
    proc = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
            "--src", d["src"], "--stage", d["stage"], "--seed", str(seed),
            "--rate", str(LIVE_RATE), "--period", str(LIVE_PERIOD),
            "--seconds", str(seconds), "--t0", repr(t0), "--report", report,
        ]
    )
    try:
        rc = proc.wait(timeout=seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")
    with open(report) as f:
        return t0, json.load(f)


def live_window(q, log: CommitLog, d: dict, seed: int, seconds: int) -> dict:
    """Offer ``LIVE_LEAD_IN + seconds + LIVE_LEAD_OUT`` seconds of load to
    a running live query, drain and stop it, then read back the latency of
    the records created in the middle ``seconds`` and check its store."""
    t0, rep = run_generator(d, seed, LIVE_LEAD_IN + seconds + LIVE_LEAD_OUT)
    q.processAllAvailable()
    q.stop()
    end = time.time()
    ts_us, commit = commit_times(d["store"], log.batches)
    w0 = t0 + LIVE_LEAD_IN
    put_log = gen.PutLog(seed, LIVE_RATE, LIVE_PERIOD)
    ids = np.concatenate([gen.seed_ids(seed), put_log.distinct_ids(rep["objects"])])
    return {
        "load": (t0, end),
        "offered": rep["objects"] * put_log.n_new,
        **latency_stats(ts_us, commit, w0, w0 + seconds),
        "gen": rep,
        "check": check.check_store(check.read_store(d["store"]), check.expected_store(seed, ids)),
    }


# -- backlog phase ----------------------------------------------------------------


def backlog_cycle(spark, src: str, d: str, tracer: Tracer) -> dict[str, float]:
    """One drain of the backlog through each phase; seconds per phase."""
    from aws_localstack_stream_processing_spark.streaming.jobs import (
        run_ingest_stream,
        run_signing_stream,
    )

    store = os.path.join(d, "store")
    calls = (
        lambda: run_ingest_stream(spark, src, os.path.join(d, "lake"), os.path.join(d, "c1")),
        lambda: run_signing_stream(spark, src, store, os.path.join(d, "c2")),
        # the checkpoint is lost: a fresh one replays the whole backlog
        lambda: run_signing_stream(spark, src, store, os.path.join(d, "c3")),
    )
    out = {}
    for phase, call in zip(PHASES, calls):
        t = time.time()
        with tracer.span(f"jobs.{phase}"):
            call()
        out[phase] = time.time() - t
    return out


def prime_backlog(spark, work: str, seed: int, tracer: Tracer) -> None:
    """One untimed cycle over a smaller backlog of other records. The first
    drains of large batches still compile hot code and take about twice as
    long as later ones; with other records, no measured drain finds its data
    already seen."""
    d = os.path.join(work, "prime")
    src = os.path.join(d, "src")
    gen.stage_backlog(src, os.path.join(d, "stage"), seed + 1, BACKLOG_UNIQUE // 2, BACKLOG_OBJECTS // 2)
    with tracer.paused():
        backlog_cycle(spark, src, d, tracer)


def check_cycle(d: str, seed: int, ids: np.ndarray, delivered: np.ndarray) -> dict:
    lake = check.check_lake(os.path.join(d, "lake"), seed, delivered)
    store = check.check_store(
        check.read_store(os.path.join(d, "store")), check.expected_store(seed, ids)
    )
    return {"attempted": lake["attempted"] + store["attempted"],
            "failed": lake["failed"] + store["failed"], "lake": lake, "store": store}


# -- the workload -------------------------------------------------------------------


def sign(work: str, seed: int, seconds: int, tracer: Tracer) -> dict:
    setups, spark, q = [], None, None
    for i in range(SETUPS):
        if spark is not None:
            q.stop()
            spark.stop()
        s, spark, q, log, d = live_setup(work, seed, i, tracer)
        setups.append(s)

    src = os.path.join(work, "backlog", "src")
    ids, delivered = gen.stage_backlog(
        src, os.path.join(work, "backlog", "stage"), seed, BACKLOG_UNIQUE, BACKLOG_OBJECTS
    )
    # warms E2 (the live path too) and E1 while the live query idles
    prime_backlog(spark, work, seed, tracer)

    # Live: one untraced window; a traced run adds a traced one, on a fresh
    # query so that both start from an empty store.
    with tracer.paused():
        live = [live_window(q, log, d, seed, seconds)]
    if tracer.enabled:
        q, log, d = start_live_query(spark, work, "live_traced", seed)
        live.append(live_window(q, log, d, seed, seconds))

    # Backlog: as many whole cycles as fit in the window, at least one.
    cycles, t_start = [], time.time()
    with tracer.paused():
        while not cycles or time.time() - t_start + sum(cycles[-1].values()) < seconds:
            cycles.append(
                backlog_cycle(spark, src, os.path.join(work, f"cycle{len(cycles)}"), tracer)
            )
    if tracer.enabled:
        traced_cycle = backlog_cycle(spark, src, os.path.join(work, "traced"), tracer)

    checks = {f"live{i}": w.pop("check") for i, w in enumerate(live)}
    for i in range(len(cycles)):
        checks[f"cycle{i}"] = check_cycle(os.path.join(work, f"cycle{i}"), seed, ids, delivered)
    if tracer.enabled:
        checks["traced_backlog"] = check_cycle(os.path.join(work, "traced"), seed, ids, delivered)

    n = len(delivered)
    out = {
        "setup_s": harness.median(setups),
        "latency_p50_s": live[0]["latency_p50_s"],
        "latency_tail_s": live[0]["latency_tail_s"],
        # records through the three drains of a cycle per second of the cycle
        "throughput_per_s": harness.median([3 * n / sum(c.values()) for c in cycles]),
        "attempted": sum(c["attempted"] for c in checks.values()),
        "failed": sum(c["failed"] for c in checks.values()),
        "detail": {
            "setups": setups, "live": live, "cycles": cycles, "backlog_records": n,
            "checks": checks,
        },
        "spark": spark,
    }
    if tracer.enabled:
        since, until = live[1]["load"]  # the traced load, lead-in and lead-out included
        untraced_cycle = cycles[-1]
        out["layers"] = {
            **harness.batch_stats(tracer, since, until),
            **sink_stats(tracer, since, until, d["store"], live[1]["offered"]),
            "jobs.ingest_s": traced_cycle["ingest"],
            "jobs.sign_s": traced_cycle["sign"],
            "jobs.replay_s": traced_cycle["replay"],
            "jobs.lake_files": float(sum(
                f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(work, "traced", "lake"))
                for f in fs
            )),
            "gen.late_max_s": max(w["gen"]["late_max_s"] for w in live),
            # the larger slowdown of the two traced phases against their
            # untraced runs just before them
            "trace.overhead_frac": max(
                live[1]["latency_p50_s"] / live[0]["latency_p50_s"],
                sum(traced_cycle.values()) / sum(untraced_cycle.values()),
            ) - 1.0,
        }
    return out
