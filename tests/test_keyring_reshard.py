"""Keyring restarts and ring-count changes, G=2 → G'=4.

The G-way sharded LRU ring routes records by ``event_id % G`` and keys by
``key_id % G``; its state is one batch count per ring, so a restart uses
the key list and ring count it is given. This pins three restart stories
on the same source, each checked only on the rows that run wrote:

1. SAME G: a restart over new data continues every ring's batch ids and
   its round-robin key order from the first run.
2. IN-PLACE RESHARD: restarting the same checkpoint at G'=4 yields a valid
   4-ring rotation — every key is rotated only by its owning ring, and no
   record is lost. No key list lives in state, so no ring can keep
   handing out a key whose owner moved.
3. REPLAY: a fresh checkpoint at G'=4 over the full source converges to a
   valid 4-ring rotation with every ring exercised.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from aws_localstack_stream_processing_spark.streaming.keyring import (
    lru_keyring_assign,
    ring_of_key,
)

G = 2
G2 = 4
KEY_IDS = list(range(8))
BATCH = 10
N_SLICES = 3
ROWS_PER_SLICE = 60


def _add_slices(spark, tmp_path, src, lo, hi):
    for k in range(lo, hi):
        tmp = str(tmp_path / f"stage{k}")
        (
            spark.range(k * ROWS_PER_SLICE, (k + 1) * ROWS_PER_SLICE)
            .select(F.col("id").alias("event_id"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.move(
            glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/f{k}.parquet"
        )
        shutil.rmtree(tmp)


def _run(spark, src, ckpt, out_dir, n_rings):
    ev = (
        spark.readStream.schema("event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        lru_keyring_assign(ev, KEY_IDS, batch_size=BATCH, n_rings=n_rings)
        .writeStream.foreachBatch(
            lambda b, i: b.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        [
            (r.ring_id, r.batch_id, r.key_id, r.n_records)
            for r in spark.read.parquet(out_dir).collect()
        ]
        if os.path.isdir(out_dir)
        else []
    )


def _assert_valid_rotation(rows, n_rings, n_events):
    used_in = {}
    for ring_id, _, key_id, _ in rows:
        used_in.setdefault(key_id, set()).add(ring_id)
    # disjoint: every used key is rotated by exactly its owning ring
    assert used_in and all(
        rings == {ring_of_key(k, n_rings)} for k, rings in used_in.items()
    )
    # complete: no record lost in the sharding
    assert sum(n for _, _, _, n in rows) == n_events
    # round-robin: ring-local batch b takes the ring's key of rank b % size
    for ring_id, b, key_id, _ in rows:
        ring_keys = [k for k in KEY_IDS if ring_of_key(k, n_rings) == ring_id]
        assert key_id == ring_keys[b % len(ring_keys)]


def test_restart_reshard_and_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    n_slice_events = N_SLICES * ROWS_PER_SLICE

    # G=2 stream over 3 slices
    _add_slices(spark, tmp_path, src, 0, N_SLICES)
    first = _run(spark, src, ckpt, str(tmp_path / "out_first"), G)
    _assert_valid_rotation(first, G, n_slice_events)

    # 1 — same-G restart over new data: each ring's batch ids continue
    # where the first run stopped, and so does its round-robin
    _add_slices(spark, tmp_path, src, N_SLICES, 2 * N_SLICES)
    again = _run(spark, src, ckpt, str(tmp_path / "out_again"), G)
    _assert_valid_rotation(again, G, n_slice_events)
    for g in range(G):
        ids = sorted(b for r, b, _, _ in first + again if r == g)
        n_first = sum(1 for r, _, _, _ in first if r == g)
        assert ids == list(range(len(ids)))
        assert min(b for r, b, _, _ in again if r == g) == n_first

    # 2 — in-place reshard: the same checkpoint restarted at G'=4 rotates
    # every key from its new owning ring only
    _add_slices(spark, tmp_path, src, 2 * N_SLICES, 3 * N_SLICES)
    resharded = _run(spark, src, ckpt, str(tmp_path / "out_reshard"), G2)
    _assert_valid_rotation(resharded, G2, n_slice_events)

    # 3 — fresh checkpoint at G'=4, replay the full source from the lake
    rows = _run(
        spark, src, str(tmp_path / "ckpt_g4"), str(tmp_path / "out_replay"), G2
    )
    _assert_valid_rotation(rows, G2, 3 * n_slice_events)
    # with 9 slices every new ring was exercised
    assert {r for r, _, _, _ in rows} == set(range(G2))
    shutil.rmtree(str(tmp_path), ignore_errors=True)
