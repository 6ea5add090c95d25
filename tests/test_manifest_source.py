"""Manifest-backed lake source: append-order offsets (not filename order),
no-listing planning, and checkpoint-restart over a growing manifest."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from aws_localstack_stream_processing_spark.sources.manifest_datasource import (
    append_manifest,
    read_manifest,
    register_manifest_source,
)


def _tbl(ids):
    return pa.table({"event_id": ids, "event_type": ["click"] * len(ids)})


def test_manifest_append_order_beats_filename_order(tmp_path):
    """Offsets follow manifest APPEND order: a later commit whose file
    name sorts lexicographically FIRST still lands after every consumed
    row — the dup/drop hazard the listing-based source must fingerprint
    against simply cannot occur here."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    pq.write_table(_tbl([0, 1, 2]), f"{lake}/zzz.parquet")
    append_manifest(lake, [f"{lake}/zzz.parquet"], commit_id=0)
    plan1 = read_manifest(lake)
    pq.write_table(_tbl([3, 4]), f"{lake}/aaa.parquet")  # sorts before zzz
    append_manifest(lake, [f"{lake}/aaa.parquet"], commit_id=1)
    plan2 = read_manifest(lake)
    assert [os.path.basename(f) for f, _, _ in plan2] == ["zzz.parquet", "aaa.parquet"]
    assert plan2[: len(plan1)] == plan1  # consumed prefix unchanged
    assert [(off, n) for _, off, n in plan2] == [(0, 3), (3, 2)]


def test_manifest_commit_id_overwrite_is_idempotent(tmp_path):
    """A replayed streaming batch re-appends with the SAME commit id and
    must overwrite its own entry, not double-publish."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    pq.write_table(_tbl([0, 1]), f"{lake}/b0.parquet")
    append_manifest(lake, [f"{lake}/b0.parquet"], commit_id=0)
    append_manifest(lake, [f"{lake}/b0.parquet"], commit_id=0)  # replay
    assert [(off, n) for _, off, n in read_manifest(lake)] == [(0, 2)]


def test_batch_read_equals_source(spark, tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    pq.write_table(_tbl(list(range(40))), f"{lake}/f1.parquet")
    pq.write_table(_tbl(list(range(40, 65))), f"{lake}/f2.parquet")
    append_manifest(lake, [f"{lake}/f1.parquet", f"{lake}/f2.parquet"], commit_id=0)
    register_manifest_source(spark)
    df = (
        spark.read.format("manifest_lake")
        .option("path", lake)
        .option("numPartitions", 4)
        .load()
    )
    assert df.count() == 65
    assert sorted(r.event_id for r in df.collect()) == list(range(65))


def test_unmanifested_file_is_invisible(spark, tmp_path):
    """Discovery is the manifest, not the directory: a file present on
    disk but not committed to the manifest must not be read (the S3
    object exists but no notification was delivered yet)."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    pq.write_table(_tbl([0, 1, 2]), f"{lake}/seen.parquet")
    append_manifest(lake, [f"{lake}/seen.parquet"], commit_id=0)
    pq.write_table(_tbl([9, 9, 9]), f"{lake}/orphan.parquet")  # no commit
    register_manifest_source(spark)
    df = spark.read.format("manifest_lake").option("path", lake).load()
    assert df.count() == 3


def test_checkpoint_restart_resumes_growing_manifest(spark, tmp_path):
    """T8 for the manifest path: after a checkpointed run, a new commit
    lands (with an early-sorting file name, the hostile case) and the
    restarted stream delivers exactly the new rows."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    register_manifest_source(spark)

    def run_once():
        q = (
            spark.readStream.format("manifest_lake")
            .option("path", lake)
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(_tbl(list(range(30))), f"{lake}/m.parquet")
    append_manifest(lake, [f"{lake}/m.parquet"], commit_id=0)
    run_once()
    assert spark.read.parquet(str(out)).count() == 30
    pq.write_table(_tbl(list(range(30, 45))), f"{lake}/a-early.parquet")
    append_manifest(lake, [f"{lake}/a-early.parquet"], commit_id=1)
    run_once()
    ids = sorted(r.event_id for r in spark.read.parquet(str(out)).collect())
    assert ids == list(range(45))  # every id exactly once, incl. the new 15
