"""Streaming state-size monitoring (VERDICT r6 #3).

``streaming/metrics.py`` records every bounded run's per-batch
``stateOperators`` metrics; these tests pin the boundedness claims the
TTL-dedup and stream-stream-join queries make, as an explicit per-batch
CURVE rather than a single end-state number:

- TTL dedup: state holds only the rows inside the watermark delay —
  never the whole seen-id set (the un-TTL'd failure mode it exists to
  rule out), and eviction is visible (state shrinks between batches).
- Interval join: buffered rows collapse once the combined watermark
  passes their eviction bound (hundreds → single digits in the staged
  replay), and late inputs are counted by rows_dropped_by_watermark.
"""

from __future__ import annotations

import duckdb

from aws_localstack_stream_processing_spark.plans import all_queries
from aws_localstack_stream_processing_spark.streaming.metrics import (
    state_metrics_df,
)

from .conftest import SF_DIR


def _events_count() -> int:
    con = duckdb.connect()
    return con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]


def _curve(spark, name: str) -> list:
    all_queries()[name].fn(spark, SF_DIR).collect()
    return state_metrics_df(spark).orderBy("batch_id").collect()


def test_ttl_dedup_state_stays_bounded(spark):
    n = _events_count()
    curve = _curve(spark, "stream_dedup_ttl_boundary")
    assert len(curve) == 6 and all(
        r.operator == "dedupeWithinWatermark" for r in curve
    )
    peak = max(r.state_rows for r in curve)
    # state may hold at most what the watermark delay keeps live — about
    # one batch of the six; far below the all-ids accumulation (~n)
    assert peak <= 2 * (n // 6 + 1), f"peak state {peak} vs input {n}"
    assert peak < n // 3
    # eviction is visible: some batch holds fewer rows than its predecessor
    assert any(b.state_rows < a.state_rows for a, b in zip(curve, curve[1:]))
    # the staged redelivery arrives past the TTL: the late filter must
    # actually have dropped rows (the metric counts drops, batch-by-batch)
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0
    # memory figure is populated (the 100 TB capacity-planning signal)
    assert all(r.memory_used_bytes > 0 for r in curve)


def test_interval_join_buffer_evicts(spark):
    n = _events_count()
    curve = _curve(spark, "stream_join_state_boundary")
    assert len(curve) == 4 and all(
        r.operator == "symmetricHashJoin" for r in curve
    )
    # batch 0 buffers its input (no watermark yet); once the combined
    # watermark moves, the buffer must collapse, not accumulate
    tail_peak = max(r.state_rows for r in curve[2:])
    assert tail_peak <= n // 20, f"join buffer did not evict: {tail_peak}"
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0


def test_state_metrics_are_sql_queryable(spark):
    _curve(spark, "stream_dedup_ttl_boundary")
    state_metrics_df(spark).createOrReplaceTempView("slsp_state_health")
    row = spark.sql(
        """
SELECT operator, MAX(state_rows) AS peak_rows,
       SUM(rows_dropped_by_watermark) AS dropped,
       MAX(memory_used_bytes) AS peak_mem
FROM slsp_state_health GROUP BY operator
"""
    ).collect()
    assert len(row) == 1 and row[0].peak_rows > 0 and row[0].peak_mem > 0


def test_state_curve_deterministic_under_replay(spark):
    """The staged replay's claim is determinism — extend it to the state
    metrics themselves: two runs of the TTL-dedup boundary must produce
    the IDENTICAL per-batch (state_rows, dropped) curve, not just the
    same emitted rows. (memory_used_bytes is store-internal and may
    wobble; row counts may not.)"""
    a = [
        (r.batch_id, r.operator, r.state_rows, r.rows_dropped_by_watermark)
        for r in _curve(spark, "stream_dedup_ttl_boundary")
    ]
    b = [
        (r.batch_id, r.operator, r.state_rows, r.rows_dropped_by_watermark)
        for r in _curve(spark, "stream_dedup_ttl_boundary")
    ]
    assert a == b and len(a) == 6


def test_chained_stateful_both_operator_curves(spark):
    """VERDICT r7 #4: the chained dedup->window query runs TWO stateful
    operators in one streaming query, and the bounded-run record must carry a
    bounded per-batch curve for EACH (dedup state TTL-evicts; aggregate
    state holds only un-emitted windows, shrinking as windows close)."""
    n = _events_count()
    curve = _curve(spark, "stream_chained_stateful")
    ops = {r.operator for r in curve}
    assert "dedupeWithinWatermark" in ops
    agg_op = next(o for o in ops if o != "dedupeWithinWatermark")
    dedup = [r for r in curve if r.operator == "dedupeWithinWatermark"]
    agg = [r for r in curve if r.operator == agg_op]
    assert len(dedup) >= 6 and len(agg) >= 6  # one row per micro-batch each
    # dedup state bounded by the delay window, never the whole id set
    peak_dedup = max(r.state_rows for r in dedup)
    assert peak_dedup < n // 3, f"dedup state unbounded: {peak_dedup} vs {n}"
    # aggregate state = open (day, type) windows — far below row count, and
    # append-mode emission must visibly evict at least once
    peak_agg = max(r.state_rows for r in agg)
    assert peak_agg < n // 3, f"agg state unbounded: {peak_agg}"
    assert any(b.state_rows < a.state_rows for a, b in zip(agg, agg[1:]))
    # the late redelivery is dropped by SOME stage's watermark filter
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0


def test_triple_chain_all_three_operator_curves(spark):
    """VERDICT r8 #5: the triple chain (dedup → interval join → window
    agg) runs THREE stateful operators in one query; each must report a
    bounded per-batch state curve — the 100 TB capacity claim is that
    every stage's state is watermark-bounded, not just the ends."""
    n = _events_count()
    curve = _curve(spark, "stream_triple_stateful_chain")
    ops = {r.operator for r in curve}
    assert "dedupeWithinWatermark" in ops and "symmetricHashJoin" in ops
    assert len(ops) == 3  # dedup + join + the windowed aggregate
    for op in ops:
        rows = [r for r in curve if r.operator == op]
        assert len(rows) >= 6, f"{op}: missing per-batch rows"
        peak = max(r.state_rows for r in rows)
        # time-sliced staging: each stage keeps roughly a slice (~n/6)
        # live, never the whole input
        assert peak < n // 2, f"{op} state unbounded: {peak} vs {n}"
        # eviction visible: state shrinks at least once per operator
        assert any(
            b.state_rows < a.state_rows for a, b in zip(rows, rows[1:])
        ), f"{op}: no visible eviction"
    # the delayed id%7 ack slice is late-filter-decided mid-replay
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0


def test_stateless_run_records_empty_curve(spark):
    """Every bounded run replaces the previous run's curve: the near-dup
    gate keeps its state in its own stores, not in a stateful operator,
    so after it the curve is empty — not the TTL query's six rows."""
    assert len(_curve(spark, "stream_dedup_ttl_boundary")) == 6
    assert _curve(spark, "stream_dedup_lsh") == []
