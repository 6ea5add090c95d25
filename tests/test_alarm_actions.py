"""Alarm action sink: emission == transitions, and replay idempotency —
the engine-side contract of the reference's alarm→SNS wiring
(app.ts:547-601).

The sf0.001 test stream is too sparse to breach the 3-consecutive-period
rule in both directions, so these tests stream a CRAFTED event log with a
known alarm timeline (raise at h3, resolve at h5, raise again at h8); the
registered ``stream_alarm_actions`` query runs the same sink against the
driver tables at driver SF, where the oracle checks values."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from aws_localstack_stream_processing_spark.streaming.alarms import (
    AlarmActionSink,
    alarm_actions_view,
    emitted_actions,
)

_TEST_THRESHOLD = 1
# events per hour for key 'a': breach (n>1) pattern 1,1,1,1,0,1,1,1 →
# states OK,OK,ALARM,ALARM,OK,OK,OK,ALARM → transitions h3:ALARM,
# h5:OK, h8:ALARM (both directions exercised)
_HOURLY = [2, 2, 2, 2, 1, 2, 2, 2]


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory, spark):
    d = str(tmp_path_factory.mktemp("alarm_src"))
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for hour, n in enumerate(_HOURLY):
        for i in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=hour, minutes=i), 1, "a", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/ev")
    import os, shutil

    part = [f for f in os.listdir(f"{d}/ev") if f.endswith(".parquet")][0]
    shutil.move(f"{d}/ev/{part}", f"{d}/events.parquet")
    return d


def _run_stream(spark, src, store):
    from aws_localstack_stream_processing_spark.streaming.source import (
        events_stream,
    )

    ev = events_stream(spark, src)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    sink = AlarmActionSink(store, _TEST_THRESHOLD)
    q = (
        hourly.writeStream.foreachBatch(sink.process_batch)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="alarm_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture(scope="module")
def store(tmp_path_factory, spark, src_dir):
    path = str(tmp_path_factory.mktemp("alarm_store"))
    _run_stream(spark, src_dir, path)
    return path


def test_known_timeline_transitions(spark, store):
    """The crafted log must produce exactly the expected alarm history."""
    got = [
        (r.hour, r.action)
        for r in alarm_actions_view(spark, store).orderBy("hour").collect()
    ]
    assert got == [
        ("2024-03-01 02:00:00", "ALARM"),
        ("2024-03-01 04:00:00", "OK"),
        ("2024-03-01 07:00:00", "ALARM"),
    ]


def test_first_run_emits_exactly_the_transitions(spark, store):
    """From an empty store the diff IS the full state table, so every
    transition the view derives must be present in the action log at its
    (key, period) slot."""
    view = {
        (r.event_type, r.hour, r.action)
        for r in alarm_actions_view(spark, store).collect()
    }
    log = {
        (r.event_type, r.hour, r.state)
        for r in emitted_actions(spark, store).collect()
    }
    assert view and view <= log


def test_replay_is_idempotent(spark, src_dir, store):
    """Re-running the whole stream against the SAME store (fresh
    checkpoint — the at-least-once case) must not change the read view
    and must not page any new action: the replayed batch diffs to empty,
    so the action log's per-slot latest batch is unchanged."""
    before_view = sorted(map(tuple, alarm_actions_view(spark, store).collect()))
    before_log = {
        (r.slot, r.last_batch)
        for r in emitted_actions(spark, store).collect()
    }
    _run_stream(spark, src_dir, store)  # replay
    after_view = sorted(map(tuple, alarm_actions_view(spark, store).collect()))
    after_log = {
        (r.slot, r.last_batch)
        for r in emitted_actions(spark, store).collect()
    }
    assert after_view == before_view
    assert after_log == before_log  # no slot re-paged by the replay


def test_diff_plan_never_shuffles_or_broadcasts_the_store(spark, store):
    """r10 sink plan audit, alarm edition: the per-batch emission diff
    must bound the store BEFORE it rides any exchange. Two pins on the
    executed plan of the exact per-batch construction:

    1. the store scan is semi-joined against broadcast batch slots
       (Bloom-filter shape) before the last-writer groupBy — so the
       only hash exchange fed by the store scan carries semi-filtered
       (≤|batch|-keyed) rows, and
    2. every BroadcastExchange subtree that contains the store scan
       also contains that LeftSemi bound — the store's raw key column
       never broadcasts (the unbounded-broadcast defect the audit found
       in the keyed sink)."""
    import re

    from aws_localstack_stream_processing_spark.sources.kv_sink_datasource import (
        read_kv_table,
    )

    # the batch's complete-mode state table, rebuilt exactly as
    # process_batch shapes it (3 slots is enough to pin the plan)
    st = spark.createDataFrame(
        [("a|2024-03-01 02", "a", "2024-03-01 02:00:00", 2, "ALARM")],
        "slot string, event_type string, hour string, n long, state string",
    )
    prev = read_kv_table(spark, f"{store}/state", "slot", probe=st).select(
        "slot", F.col("state").alias("prev_state")
    )
    diff = AlarmActionSink.diff_plan(st, prev)
    diff.collect()
    plan = diff._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    depth = [re.match(r"^[\s:+\-]*", ln).end() for ln in lines]

    def subtree(i):
        out = []
        j = i + 1
        while j < len(lines) and depth[j] > depth[i]:
            out.append(lines[j])
            j += 1
        return out

    assert any("LeftSemi" in ln for ln in lines), plan  # probe bound exists
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        sub = subtree(i)
        if any("Scan parquet" in s or "FileScan parquet" in s for s in sub):
            assert any("LeftSemi" in s for s in sub), (
                "store scan broadcast without a batch-slot semi bound:\n"
                + "\n".join(sub[:10])
            )
    # and behavior: pruned prev answers the diff exactly — the ALARM slot
    # is already stored with the same state, so the diff is empty
    assert diff.count() == 0


def test_failed_actions_write_is_replayed(spark, src_dir, tmp_path, monkeypatch):
    """The actions write runs before the state upsert: if it fails, the
    state store has not advanced, so the replayed batch diffs against the
    old states and emits the transitions. Written the other way round, the
    replay would find its states already stored and page nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    store = str(tmp_path / "store")
    hourly = (
        spark.read.parquet(f"{src_dir}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    sink = AlarmActionSink(store, _TEST_THRESHOLD)
    real_option = DataFrameWriter.option
    failed = []

    def option(self, key, value):
        if key == "path" and value == sink.actions_path and not failed:
            failed.append(value)
            raise OSError("injected failure of the actions write")
        return real_option(self, key, value)

    monkeypatch.setattr(DataFrameWriter, "option", option)
    with pytest.raises(OSError, match="injected failure"):
        sink.process_batch(hourly, 0)
    sink.process_batch(hourly, 0)  # the replayed batch
    monkeypatch.undo()

    view = {
        (r.event_type, r.hour, r.action)
        for r in alarm_actions_view(spark, store).collect()
    }
    log = {
        (r.event_type, r.hour, r.state)
        for r in emitted_actions(spark, store).collect()
    }
    assert failed and len(view) == 3 and view <= log
