"""Process environment, Spark session lifecycle, statistics and tracing
shared by the benchmark's workloads.

The benchmark times the program only from outside, around calls into its
public entry points. Tracing (``--trace 1``) keeps spans in memory and
attaches each micro-batch's ``StreamingQueryProgress`` to the span that was
open when the batch ran; nothing is recorded with tracing off.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"  # the session default (48g) does not fit a shared 15 GB host


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Point every temporary location of Spark and the program inside
    ``work`` and size the session to this host. Must run before pyspark is
    imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # every JVM, the launcher's too: temp files in ``work``, and no
            # perf-data file in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


# -- statistics ---------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> int:
    """The highest whole percentile, at most 99, that leaves at least ten of
    ``n`` samples beyond its nearest-rank value."""
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    return min(99, (100 * (n - 10)) // n)


def nearest_rank(values, pct: float) -> float:
    s = sorted(values)
    return float(s[max(1, math.ceil(pct / 100 * len(s))) - 1])


def tail(values) -> tuple[float, int]:
    """(value, percentile) of the tail rule: the highest percentile with at
    least ten samples beyond it."""
    pct = tail_percentile(len(values))
    return nearest_rank(values, pct), pct


# -- session lifecycle ----------------------------------------------------------


def start_session(master: str | None = None):
    from aws_localstack_stream_processing_spark.session import get_spark

    return get_spark(app_name="perfbench", master=master)


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the launched JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def wait_for(cond, timeout: float, what: str, poll: float = 0.05) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout:.0f}s waiting for {what}")
        time.sleep(poll)


# -- tracing ----------------------------------------------------------------------


class Tracer:
    """In-memory spans: ``(id, parent, name, start, end, attrs)``.

    Disabled, :meth:`span` yields ``None`` and records nothing, so the
    untraced path pays one context-manager entry per call and no more.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("s", [])
        rec = {
            "id": len(self.spans),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished span measured elsewhere (a micro-batch)."""
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "parent": None, "name": name,
                 "start": start, "end": end, "attrs": attrs}
            )

    @contextmanager
    def paused(self):
        """Record nothing inside the block (the untraced half of a traced run)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def named(self, name: str, since: float = 0.0, until: float = math.inf) -> list[dict]:
        """Finished spans called ``name`` that started in ``[since, until)``."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and since <= s["start"] < until
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its direct children
        cover (children of one span run one after another)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def progress_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that records, while the tracer is
    enabled, every micro-batch as a ``stream.batch`` span carrying its
    ``StreamingQueryProgress`` (durations, source and state-operator
    metrics)."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            if tracer.enabled:
                p = json.loads(event.progress.json)
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
                tracer.add("stream.batch", start, end, progress=p)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


def batch_stats(tracer: Tracer, since: float, until: float = math.inf) -> dict[str, float]:
    """Streaming-engine and state-store per-layer metrics from the
    micro-batches that started in ``[since, until)`` (idle triggers
    excluded)."""
    ps = [s["attrs"]["progress"] for s in tracer.named("stream.batch", since, until)]
    ps = [p for p in ps if p.get("numInputRows", 0) > 0]
    if not ps:
        return {}

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0

    def q(vals, pct):
        return nearest_rank(vals, pct)

    trig = [dur(p, "triggerExecution") for p in ps]
    offs = [dur(p, "latestOffset", "getBatch", "walCommit", "commitOffsets") for p in ps]
    plan = [dur(p, "queryPlanning") for p in ps]
    ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
    out = {
        "stream.trigger_s.p50": q(trig, 50),
        "stream.trigger_s.p90": q(trig, 90),
        "stream.offsets_s.p50": q(offs, 50),
        "stream.plan_s.p50": q(plan, 50),
        "stream.batches": float(len(ps)),
        "stream.rows_per_batch.p50": q([p["numInputRows"] for p in ps], 50),
    }
    if ops:
        out.update(
            {
                "state.rows_total": float(ops[-1]["numRowsTotal"]),
                "state.memory_bytes": float(ops[-1]["memoryUsedBytes"]),
                "state.commit_s.p50": q([o["commitTimeMs"] / 1000.0 for o in ops], 50),
            }
        )
    return out


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def durations(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]
