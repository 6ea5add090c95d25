"""The kv_upsert DataSource writer: staged-file commit protocol, batch-id
idempotence, and last-writer-wins read-back."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_localstack_stream_processing_spark.sources.firehose_datasource import (
    register_firehose_source,
)
from aws_localstack_stream_processing_spark.sources.kv_sink_datasource import (
    _StagedFile,
    committed_batches,
    read_kv_table,
    register_kv_sink,
)

from .conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


def test_batch_write_and_readback(spark, tmp_path):
    register_kv_sink(spark)
    out = str(tmp_path / "store")
    src = (
        spark.read.parquet(EVENTS)
        .select(
            F.col("event_id").cast("string").alias("key"),
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .dropDuplicates(["key"])
    )
    src.write.format("kv_upsert").option("path", out).mode("append").save()
    assert len(committed_batches(out)) == 1
    back = read_kv_table(spark, out, "key")
    assert back.count() == src.count()
    mismatch = (
        src.alias("a")
        .join(back.alias("b"), "key")
        .filter("a.event_type <> b.event_type OR a.value <> b.value")
        .count()
    )
    assert mismatch == 0


def test_stream_redelivery_converges(spark, tmp_path):
    """Full redelivery (same data, fresh checkpoint, same store) must
    converge: replayed batch ids republish over their previous commits."""
    register_firehose_source(spark)
    register_kv_sink(spark)
    out = str(tmp_path / "store")

    def run(ckpt: str) -> None:
        df = (
            spark.readStream.format("firehose_sim")
            .option("path", EVENTS)
            .option("numPartitions", 4)
            .load()
            .select(F.col("recordId").alias("key"), "data")
        )
        q = (
            df.writeStream.format("kv_upsert")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    n_batches = len(committed_batches(out))
    first = {r.key: r.data for r in read_kv_table(spark, out, "key").collect()}
    run("ckpt2")  # lost checkpoint → full replay, same batch ids
    assert len(committed_batches(out)) == n_batches
    second = {r.key: r.data for r in read_kv_table(spark, out, "key").collect()}
    assert first == second
    assert len(second) == spark.read.parquet(EVENTS).count()


def test_commit_is_idempotent_per_batch_id(spark, tmp_path):
    from pyspark.sql.types import StructType

    from aws_localstack_stream_processing_spark.sources.kv_sink_datasource import (
        _KVStreamWriter,
    )

    out = str(tmp_path / "store")
    schema = (
        spark.read.parquet(EVENTS).select(F.lit("k").alias("key")).schema
    )
    w = _KVStreamWriter({"path": out}, schema)
    assert isinstance(schema, StructType)

    def stage(val: str) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(f"{out}/_tmp", exist_ok=True)
        p = f"{out}/_tmp/stage-{val}.parquet"
        pq.write_table(pa.table({"key": [val]}), p)
        return _StagedFile(p, 1)

    w.commit([stage("a"), _StagedFile(None, 0)], 7)
    w.commit([stage("a2")], 7)  # retry of the same batch id
    assert len(committed_batches(out)) == 1
    files = [
        f
        for f in os.listdir(f"{out}/batch=7")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1  # the retry replaced, not appended

    msg = stage("z")
    w.abort([msg], 8)
    assert not os.path.exists(msg.path)
    assert len(committed_batches(out)) == 1  # abort published nothing


def test_batch_append_preserves_prior_batches(spark, tmp_path):
    """ADVICE r4: a second mode("append") save must NOT wipe the store —
    it allocates the next unused batch id. The store is append-only:
    mode("overwrite") is refused and leaves both batches in place."""
    register_kv_sink(spark)
    out = str(tmp_path / "store")
    one = spark.createDataFrame([("k1", 1), ("k2", 1)], "key string, v int")
    two = spark.createDataFrame([("k2", 2), ("k3", 2)], "key string, v int")
    one.write.format("kv_upsert").option("path", out).mode("append").save()
    two.write.format("kv_upsert").option("path", out).mode("append").save()
    assert len(committed_batches(out)) == 2
    back = {r.key: r.v for r in read_kv_table(spark, out, "key").collect()}
    # k1 survived the second write; k2 upserted to the later batch's value
    assert back == {"k1": 1, "k2": 2, "k3": 2}
    three = spark.createDataFrame([("k9", 9)], "key string, v int")
    refused = "kv_upsert: save mode 'overwrite' is not supported"
    with pytest.raises(Exception, match=refused):
        three.write.format("kv_upsert").option("path", out).mode(
            "overwrite"
        ).save()
    assert len(committed_batches(out)) == 2
    assert {r.key: r.v for r in read_kv_table(spark, out, "key").collect()} == back


def test_commit_ignores_stray_dirs(spark, tmp_path):
    """ADVICE r5: a stray non-integer 'batch=*' entry (manual copy, editor
    backup) must not fail the commit, and must stay invisible to the
    reader."""
    import os

    register_kv_sink(spark)
    out = str(tmp_path / "store")
    one = spark.createDataFrame([("a", 1)], "key string, v int")
    one.write.format("kv_upsert").option("path", out).mode("append").save()
    os.makedirs(f"{out}/batch=0.bak", exist_ok=True)  # stray: int() would raise
    two = spark.createDataFrame([("a", 2)], "key string, v int")
    two.write.format("kv_upsert").option("path", out).mode("append").save()
    # the stray entry neither failed the id allocation nor took an id
    assert [os.path.basename(d) for d in committed_batches(out)] == [
        "batch=0",
        "batch=1",
    ]
    assert {r.key: r.v for r in read_kv_table(spark, out, "key").collect()} == {
        "a": 2
    }


def test_crash_between_publish_and_marker_converges(spark, tmp_path):
    """VERDICT r4 #7 — the crash window the design claims to survive: die
    AFTER _publish's renames but BEFORE the _COMMITTED marker lands. The
    partial batch directory must stay invisible to read_kv_table, and the
    replayed commit with the SAME batch id must converge to one copy."""
    import builtins

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_localstack_stream_processing_spark.sources.kv_sink_datasource import (
        _MARKER,
        _KVStreamWriter,
    )

    out = str(tmp_path / "store")
    w = _KVStreamWriter({"path": out}, None)

    def stage(val: str) -> _StagedFile:
        os.makedirs(f"{out}/_tmp", exist_ok=True)
        p = f"{out}/_tmp/stage-{val}.parquet"
        pq.write_table(pa.table({"key": [val], "v": [val]}), p)
        return _StagedFile(p, 1)

    real_open = builtins.open
    crashes = {"n": 0}

    def crashing_open(path, *a, **kw):
        if str(path).endswith(_MARKER) and crashes["n"] == 0:
            crashes["n"] += 1
            raise OSError("injected crash before marker write")
        return real_open(path, *a, **kw)

    builtins.open = crashing_open
    try:
        try:
            w.commit([stage("a")], 3)
            raise AssertionError("injected crash did not fire")
        except OSError:
            pass
    finally:
        builtins.open = real_open
    # files were renamed into batch=3 but no marker: MUST be invisible
    assert os.path.isdir(f"{out}/batch=3")
    assert committed_batches(out) == []
    try:
        read_kv_table(spark, out, "key")
        raise AssertionError("partial batch leaked into the read view")
    except FileNotFoundError:
        pass
    # restart: Spark replays the unfinished batch with the SAME id
    w.commit([stage("a_replayed")], 3)
    assert len(committed_batches(out)) == 1
    rows = read_kv_table(spark, out, "key").collect()
    assert len(rows) == 1  # the pre-crash partial file was cleared, not doubled
    assert rows[0].v == "a_replayed"


def test_uncommitted_batch_invisible_to_reader(spark, tmp_path):
    out = str(tmp_path / "store")
    os.makedirs(f"{out}/batch=0", exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"key": ["x"]}), f"{out}/batch=0/part-0.parquet")
    # no _COMMITTED marker → crash mid-commit; reader must not see it
    assert committed_batches(out) == []
