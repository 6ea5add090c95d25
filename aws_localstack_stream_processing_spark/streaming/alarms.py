"""Alarm action emission — the reference's alarm→SNS wiring as a sink.

The reference doesn't just COMPUTE alarm states: breaching alarms page
(CloudWatch alarm actions → SNS, app.ts:547-601). The engine computed
states (``ref_alarm_threshold``, ``stream_alarm_threshold``,
``ref_alarm_episodes``) but had no emission path (VERDICT r5 gap #2).
:class:`AlarmActionSink` closes it:

* each micro-batch's complete-mode metric table is evaluated with the
  CloudWatch rule (breach for ``k=3`` consecutive periods → ALARM,
  app.ts:569-577);
* the full per-(key, period) state table is upserted into a keyed state
  store (``kv_upsert`` commit protocol — replay-idempotent);
* only the DIFF against the previously stored states is appended to the
  action log — the notification emission. A replayed batch produces an
  empty diff, and re-emitted actions land on their existing
  (key, period) slot, so the log converges under at-least-once delivery
  exactly like an SNS topic fronted by an idempotency key.

Reading the store back (:func:`alarm_actions_view`) derives the
OK→ALARM→OK transition rows relationally from the FINAL states — the
alarm history a paging review reads, and the shape the driver verifies
against a pure-SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_EVAL_PERIODS = 3  # CloudWatch: breach for 3 consecutive periods → ALARM


def evaluate_states(hourly: DataFrame, threshold: int) -> DataFrame:
    """(key, period, n) metric rows → (key, period, n, state) with the
    3-consecutive-breach ALARM rule (app.ts:569-577). The window
    partitions on the alarm key — never a global sort; alarm cardinality
    is #keys × #periods, unrelated to event volume."""
    w = Window.partitionBy("event_type").orderBy("h")
    breach = F.col("n") > threshold
    b1 = F.lag("n", 1).over(w) > threshold
    b2 = F.lag("n", 2).over(w) > threshold
    return hourly.withColumn(
        "state",
        F.when(breach & b1 & b2, F.lit("ALARM")).otherwise(F.lit("OK")),
    )


class AlarmActionSink:
    """``foreachBatch`` sink: state-store upsert + diff-only action log."""

    def __init__(self, store_dir: str, threshold: int):
        self.state_path = os.path.join(store_dir, "state")
        self.actions_path = os.path.join(store_dir, "actions")
        self.threshold = threshold

    @staticmethod
    def diff_plan(st: DataFrame, prev: DataFrame | None) -> DataFrame:
        """The emission's pure plan (plan-lintable, like
        ``KeyedParquetSink.probe_plan``): only slots whose state CHANGED
        since last stored — a replayed batch diffs to empty, so the log
        never double-pages.

        ``prev`` arrives already probe-pruned to the batch's slots
        (``read_kv_table(..., probe=st)``), so it is ≤|batch| rows and
        rides the broadcast side of the left join explicitly. Without
        the bound, Spark's only broadcastable side of a LEFT OUTER join
        is the build-right STORE — the same unbounded-broadcast defect
        the r10 plan audit found in the keyed sink (plan pinned in
        ``tests/test_alarm_actions.py``)."""
        if prev is None:
            return st
        return (
            st.join(F.broadcast(prev), "slot", "left")
            .filter(
                (F.col("prev_state").isNull())
                | (F.col("prev_state") != F.col("state"))
            )
            .drop("prev_state")
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.kv_sink_datasource import (
            read_kv_table,
            register_kv_sink,
        )

        spark = batch_df.sparkSession
        register_kv_sink(spark)
        # st persists (alarm-cardinality-bounded: #keys × #periods rows):
        # unpersisted, the complete-mode window evaluation re-ran for
        # every consumer — the store probe's key set, the diff join's
        # both sides, and the state upsert (r14 phase profile; guide §5)
        st = evaluate_states(batch_df, self.threshold).select(
            F.concat_ws("|", "event_type", F.date_format("h", "yyyy-MM-dd HH")).alias(
                "slot"
            ),
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("n").cast("bigint").alias("n"),
            "state",
        ).persist()
        try:
            try:
                # probe-pruned: the store never shuffles or broadcasts;
                # only rows for the batch's slots reach the last-writer
                # groupBy
                prev = read_kv_table(
                    spark, self.state_path, "slot", probe=st
                ).select("slot", F.col("state").alias("prev_state"))
            except FileNotFoundError:
                prev = None
            diff = self.diff_plan(st, prev)
            # actions first, then state: the state store is what the next
            # diff compares against, so it may only advance once the
            # actions are committed — a failure between the two writes
            # then re-emits the actions on replay instead of losing them
            for df, path in ((diff, self.actions_path), (st, self.state_path)):
                df.write.format("kv_upsert").option("path", path).mode(
                    "append"
                ).save()
        finally:
            st.unpersist()


def alarm_actions_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """Transition rows from the FINAL stored states: one row per
    (key, period) where the state differs from the previous period's —
    OK→ALARM raises, ALARM→OK resolves (a key's first period is an
    implicit OK, so leading OKs emit nothing)."""
    from ..sources.kv_sink_datasource import read_kv_table

    st = read_kv_table(spark, os.path.join(store_dir, "state"), "slot")
    w = Window.partitionBy("event_type").orderBy("hour")
    return (
        st.withColumn("prev_state", F.lag("state").over(w))
        .filter(F.col("state") != F.coalesce(F.col("prev_state"), F.lit("OK")))
        .select("event_type", "hour", F.col("state").alias("action"))
    )


def emitted_actions(spark: SparkSession, store_dir: str) -> DataFrame:
    """The raw action log (what 'paged'): last-writer-wins per slot."""
    from ..sources.kv_sink_datasource import read_kv_table

    return read_kv_table(spark, os.path.join(store_dir, "actions"), "slot")
