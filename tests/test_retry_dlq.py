"""Record-level retry / poison-message semantics (T3): 3 receives then DLQ,
transient failures recover, nothing lost, nothing double-processed."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_DIR


def test_retry_then_dlq(spark, tmp_path):
    from aws_localstack_stream_processing_spark.streaming.retry import RetryingProcessor

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "event_type", "value")
        .withColumn("k", F.col("event_id").cast("string"))
    )

    # poison: always fails; transient: fails on the first receive only
    def attempt(df):
        poison = F.col("event_id") % 97 == 0
        transient = (F.col("event_id") % 89 == 0) & (F.col("receive_count") == 1)
        return df.withColumn("ok", ~(poison | transient))

    proc = RetryingProcessor(str(tmp_path), "k", attempt, max_receives=3)
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    proc.process_batch(half1, 0)
    proc.process_batch(half2, 1)
    proc.drain(spark)

    ok = spark.read.parquet(proc.ok_path)
    dlq = spark.read.parquet(proc.dlq_path)

    n = ev.count()
    n_poison = ev.filter(F.col("event_id") % 97 == 0).count()
    # completeness: ok + dlq exactly partition the input
    assert ok.count() + dlq.count() == n
    assert dlq.count() == n_poison
    # poison records burned all receives; every DLQ row is a poison id
    assert dlq.agg(F.min("receive_count")).collect()[0][0] == 3
    assert dlq.filter(F.col("event_id") % 97 != 0).count() == 0
    # transient records recovered on redelivery (receive_count == 2)
    transients = ok.filter(
        (F.col("event_id") % 89 == 0) & (F.col("event_id") % 97 != 0)
    )
    assert transients.count() == ev.filter(
        (F.col("event_id") % 89 == 0) & (F.col("event_id") % 97 != 0)
    ).count()
    assert transients.agg(F.max("receive_count")).collect()[0][0] == 2
    # exactly-once: no key processed into ok twice
    assert ok.select("k").distinct().count() == ok.count()


def test_retry_buffer_survives_crash_in_swap(spark, tmp_path):
    """A crash between the retry-buffer swap's two renames must not empty
    the buffer: the restarted processor reopens it with every record's
    receive_count intact, and after the replayed batch and a drain every
    record ends in ok or dlq exactly once."""
    import pytest

    from aws_localstack_stream_processing_spark.streaming.retry import RetryingProcessor

    from .conftest import crash_at

    ev = spark.range(200).select(
        F.col("id").alias("event_id"), F.col("id").cast("string").alias("k")
    )

    def attempt(df):
        poison = F.col("event_id") % 7 == 0
        transient = (F.col("event_id") % 5 == 0) & (F.col("receive_count") == 1)
        return df.withColumn("ok", ~(poison | transient))

    base = str(tmp_path / "rp")
    proc = RetryingProcessor(base, "k", attempt, max_receives=3)
    proc.process_batch(ev.filter(F.col("event_id") % 2 == 0), 0)
    buffered = sorted(
        (r.k, r.receive_count)
        for r in spark.read.parquet(proc.retry_path).collect()
    )
    assert buffered
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    with crash_at("after_backup_rename", base):
        with pytest.raises(OSError, match="injected crash"):
            proc.process_batch(half2, 1)

    proc = RetryingProcessor(base, "k", attempt, max_receives=3)
    reopened = proc._read_or_none(spark, proc.retry_path)
    assert reopened is not None
    assert sorted((r.k, r.receive_count) for r in reopened.collect()) == buffered
    proc.process_batch(half2, 1)  # the replayed batch
    proc.drain(spark)
    ok = spark.read.parquet(proc.ok_path).select("k", "event_id")
    dlq = spark.read.parquet(proc.dlq_path)
    done = ok.unionByName(dlq.select("k", "event_id"))
    assert done.count() == done.select("k").distinct().count() == 200
    assert sorted(r.event_id for r in dlq.collect()) == list(range(0, 200, 7))
    assert {r.receive_count for r in dlq.collect()} == {3}
