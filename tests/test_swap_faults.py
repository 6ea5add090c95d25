"""Crash safety of the one directory swap (``streaming.sinks.swap_dirs``).

Each test crashes a swap at one step, opens the store with a fresh sink
object, and checks that it reads exactly the pre-swap or exactly the
post-swap rows, and that the next write converges to a clean run's rows
with no key stored twice. Two swap shapes: the SCD2 MERGE's per-bucket
swap and ``resplit``'s whole-store swap.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from aws_localstack_stream_processing_spark.streaming.sinks import (
    KeyedParquetSink,
    Scd2ParquetSink,
    swap_dirs,
)

from .conftest import SWAP_STEPS, crash_at

_SCHEMA = "user_id BIGINT, attr STRING, ts_s BIGINT, event_id BIGINT"
# a crash before the last staged rename rolls back; a later one finishes
_ROLLED_BACK = ("after_backup_rename", "after_staged_rename")


def _seed(spark):
    # users 1..24 except bucket 7's fill 7 of the 8 default buckets
    return spark.createDataFrame(
        [(u, "signup", 1000 + u, u) for u in range(1, 25) if u % 8 != 7],
        _SCHEMA,
    )


def _batch(spark):
    # a three-bucket swap: buckets 1 and 2 exist, bucket 7 does not yet
    return spark.createDataFrame(
        [(u, "error", 5000 + u, 100 + u) for u in (1, 2, 7)], _SCHEMA
    )


def _history(spark, sink):
    return sorted(
        tuple(r)
        for r in sink.read(spark)
        .select(
            "user_id", "attr", "version_n", "valid_from_s", "valid_to_s",
            "is_current", "bucket",
        )
        .collect()
    )


def _leftovers(root: str) -> list[str]:
    """Backups an unrecovered swap would leave behind."""
    return glob.glob(
        os.path.join(os.path.dirname(root), ".*.bak")
    ) + glob.glob(os.path.join(root, ".*.bak"))


@pytest.fixture(scope="module")
def scd2_runs(spark, tmp_path_factory):
    """History after the seed batch, and after the seed and the batch."""
    sink = Scd2ParquetSink(str(tmp_path_factory.mktemp("scd2_clean") / "h"))
    sink.merge_batch(_seed(spark), 0)
    pre = _history(spark, sink)
    sink.merge_batch(_batch(spark), 1)
    return pre, _history(spark, sink)


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_scd2_merge_survives_crash_in_bucket_swap(
    spark, tmp_path, scd2_runs, step
):
    pre, post = scd2_runs
    path = str(tmp_path / "h")
    Scd2ParquetSink(path).merge_batch(_seed(spark), 0)
    with crash_at(step, str(tmp_path)):
        with pytest.raises(OSError, match="injected crash"):
            Scd2ParquetSink(path).merge_batch(_batch(spark), 1)

    reopened = Scd2ParquetSink(path)
    assert _history(spark, reopened) == (pre if step in _ROLLED_BACK else post)
    assert _leftovers(path) == []
    reopened.merge_batch(_batch(spark), 1)  # the replayed batch
    got = _history(spark, reopened)
    assert got == post
    assert len({(r[0], r[2]) for r in got}) == len(got)  # (user, version)


def _keyed(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"), "id"
    )


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_keyed_resplit_survives_crash_in_store_swap(spark, tmp_path, step):
    path = str(tmp_path / "kv")
    sink = KeyedParquetSink(path, "key")
    sink.upsert_batch(_keyed(spark, 0, 100), 0)
    before = sorted(tuple(r) for r in sink.read(spark).collect())
    with crash_at(step, str(tmp_path)):
        with pytest.raises(OSError, match="injected crash"):
            sink.resplit(spark, 32)

    # resplit moves rows between buckets, so pre- and post-swap rows agree
    reopened = KeyedParquetSink(path, "key")
    assert sorted(tuple(r) for r in reopened.read(spark).collect()) == before
    # one directory: its staged rename is the last, so only a crash
    # after the backup rename rolls back to the old count
    assert reopened.n_buckets == (16 if step == "after_backup_rename" else 32)
    assert _leftovers(path) == []
    reopened.upsert_batch(_keyed(spark, 50, 150), 1)
    got = sorted(tuple(r) for r in reopened.read(spark).collect())
    assert got == sorted(tuple(r) for r in _keyed(spark, 0, 150).collect())
    # every row sits in the bucket the adopted count routes its key to,
    # so later probes find it
    stored = spark.read.parquet(path)
    assert stored.filter(
        F.col(reopened.BUCKET_COL) != reopened._bucket_expr()
    ).count() == 0


def test_interrupted_roll_back_rolls_back_again(tmp_path, monkeypatch):
    """A crash inside the recovery's own roll-back — here midway through
    deleting a half-swapped directory — must leave a state the next open
    still rolls back, never one it would finish forward."""
    import shutil

    root, staged = tmp_path / "s", tmp_path / "s.staging"
    for d, tag in ((root, "old"), (staged, "new")):
        for n in ("b=1", "b=2"):
            (d / n).mkdir(parents=True)
            (d / n / "f").write_text(tag)
    with crash_at("after_staged_rename", str(tmp_path)):
        with pytest.raises(OSError, match="injected crash"):
            swap_dirs(str(root), str(staged), ["b=1", "b=2"])
    half_swapped = [n for n in ("b=1", "b=2") if (root / n).is_dir()]
    assert len(half_swapped) == 1

    real_rmtree = shutil.rmtree

    def crash_midway(path, *args, **kwargs):
        if os.path.basename(str(path)) == half_swapped[0]:
            os.remove(os.path.join(path, "f"))
            raise OSError("injected crash inside the roll-back")
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", crash_midway)
    with pytest.raises(OSError, match="inside the roll-back"):
        swap_dirs(str(root))
    monkeypatch.undo()

    assert sorted(swap_dirs(str(root))) == ["b=1", "b=2"]
    assert [(root / n / "f").read_text() for n in ("b=1", "b=2")] == [
        "old",
        "old",
    ]
