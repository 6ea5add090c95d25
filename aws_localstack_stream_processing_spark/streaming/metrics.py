"""Engine metrics — the CloudWatch replacement (SURVEY §4: "Explicitly NOT
ported: CloudWatch-SNS wiring … replaced by engine config +
StreamingQueryListener metrics").

Two records, one module:

- A :class:`MetricsListener` subscribes to every streaming query on the
  session and records per-batch progress (rows, duration, per-source
  rates) as plain tuples; :func:`metrics_df` turns the buffer into a
  DataFrame so the 1-minute Sum/Avg rollups of the reference
  (app.ts:452-502, queries ``ref_minute_sum``/``ref_minute_avg``) apply to
  the engine's own telemetry unchanged. Threshold alarms are then
  ``ref_alarm_threshold`` over this table instead of CloudWatch alarms.
- :data:`LAST_RUN` holds the most recent bounded run
  (``resilience.run_bounded``, via :func:`note_run`): its executed plan and
  its per-batch state-operator curve, both read from the query handle at
  termination (a streaming physical plan and its progress objects vanish
  with the query). Each run replaces both together, so plan and curve
  always describe the same run. The registry-wide streaming plan lint and
  the plan fingerprints read ``LAST_RUN["plan"]``; the state-size pins
  read the curve through :func:`state_metrics_df`:

      run_query(...); df = state_metrics_df(spark)
      df.groupBy("operator").agg(F.max("state_rows"), ...)

The curve comes from ``q.recentProgress``, which Spark caps at
``spark.sql.streaming.numRecentProgressUpdates`` (default 100) — a bounded
run with more micro-batches than the cap would silently lose the oldest
batches from the curve. The engine's session builder raises the conf to
1000 (``session.RUNTIME_CONFS``); callers on a foreign session with
>100-batch runs must do the same.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_SCHEMA = (
    "query_id string, batch_id long, num_input_rows long, "
    "process_ms long, trigger_ts string"
)

_STATE_SCHEMA = (
    "batch_id bigint, operator string, state_rows bigint, "
    "rows_updated bigint, memory_used_bytes bigint, "
    "rows_dropped_by_watermark bigint, num_shuffle_partitions bigint, "
    "rocksdb bigint"
)

# the most recent bounded run: executed plan text and state-curve rows
# (tuples in _STATE_SCHEMA order)
LAST_RUN: dict = {"plan": "", "state": []}


class MetricsListener(StreamingQueryListener):
    """Collects per-micro-batch progress events in memory (driver-side
    buffer; a production deployment points this at its metric store)."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []

    # StreamingQueryListener contract
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        duration = p.durationMs.get("triggerExecution", 0) if p.durationMs else 0
        self.rows.append(
            (
                str(p.id),
                int(p.batchId),
                int(p.numInputRows),
                int(duration),
                str(p.timestamp),
            )
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def metrics_df(spark: SparkSession, listener: MetricsListener) -> DataFrame:
    """The listener buffer as a DataFrame (metric time-series table,
    SURVEY §1.1 #7)."""
    rows = listener.rows or []
    return spark.createDataFrame(rows, _SCHEMA)


def _plan(q) -> str:
    try:
        return q._jsq.explainInternal(True)
    except Exception:  # diagnostics only — never fail the query path
        return ""


def _state_curve(q) -> list[tuple]:
    rows: list[tuple] = []
    try:
        for p in q.recentProgress:
            prog = p if isinstance(p, dict) else json.loads(p.json)
            for op in prog.get("stateOperators") or []:
                rows.append(
                    (
                        int(prog["batchId"]),
                        str(op.get("operatorName", "")),
                        int(op.get("numRowsTotal", 0)),
                        int(op.get("numRowsUpdated", 0)),
                        int(op.get("memoryUsedBytes", 0)),
                        int(op.get("numRowsDroppedByWatermark", 0)),
                        int(op.get("numShufflePartitions", 0)),
                        # provider evidence: the RocksDB store exposes
                        # rocksdb* custom metrics the HDFS store never
                        # emits — lets tests PROVE which store ran
                        # instead of trusting the conf took effect
                        int(
                            any(
                                str(k).startswith("rocksdb")
                                for k in (op.get("customMetrics") or {})
                            )
                        ),
                    )
                )
    except Exception:  # diagnostics only — never fail the query path
        return []
    return rows


def note_run(q) -> None:
    """Best-effort record of a (finished) bounded StreamingQuery: its
    executed plan and per-batch state curve replace the previous run's
    record together (an unreadable part records as empty)."""
    LAST_RUN.update(plan=_plan(q), state=_state_curve(q))


def state_metrics_df(spark: SparkSession) -> DataFrame:
    """The most recent bounded run's state curve as a queryable table
    (one row per micro-batch × stateful operator)."""
    return spark.createDataFrame(LAST_RUN["state"], _STATE_SCHEMA)
