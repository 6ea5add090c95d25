"""Tests of the benchmark's own machinery: input generation, the tail rule,
latency read-back and the output checker. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import sign  # noqa: E402


def _put_log(tmp_path, seed: int, run: str) -> list[pa.Table]:
    src, stage = tmp_path / run / "src", tmp_path / run / "stage"
    gen.seed_objects(str(src), str(stage), seed)
    rep = gen.run_open_loop(str(src), str(stage), seed, rate=400, period=0.02, seconds=0.1, t0=0.0)
    assert rep["objects"] == 5
    return [pq.read_table(src / f"k={n}" / "events.parquet") for n in range(rep["objects"] + 1)]


def test_generator_is_deterministic_for_a_seed(tmp_path):
    a, b = _put_log(tmp_path, 7, "a"), _put_log(tmp_path, 7, "b")
    other = _put_log(tmp_path, 8, "c")
    # k=0 is stamped with the wall clock; the put log's stamps derive from t0
    assert a[0].drop(["ts"]).equals(b[0].drop(["ts"]))
    for x, y in zip(a[1:], b[1:]):
        assert x.equals(y)
    assert not a[1].drop(["ts"]).equals(other[1].drop(["ts"]))
    assert not os.listdir(tmp_path / "a" / "stage")  # every object was renamed into place


def test_put_log_redelivers_a_fifth_and_stamps_creation_order():
    log = gen.PutLog(seed=3, rate=1000, period=0.5)
    ids = log.object_ids(4)
    assert (log.n_new, log.n_dup) == (400, 100)
    assert set(ids[log.n_new:]) <= set(range(log.base, log.base + 5 * log.n_new))
    t = log.object_table(4, start_us=0)
    fresh = t["ts"].cast(pa.int64()).to_numpy()[: log.n_new]
    assert fresh[0] == 2_000_000 and np.all(np.diff(fresh) > 0) and fresh[-1] < 2_500_000
    # a copy is the same record: same content, same creation stamp
    again = gen.records_table(3, ids[log.n_new:], np.zeros(log.n_dup, np.int64))
    assert again.drop(["ts"]).equals(t.slice(log.n_new).drop(["ts"]))


@pytest.mark.parametrize("n,pct", [(11, 9), (24, 58), (36, 72), (100, 90), (1000, 99), (64000, 99)])
def test_tail_rule_leaves_ten_samples_beyond(n, pct):
    values = list(range(n, 0, -1))
    value, got = harness.tail(values)
    assert got == pct
    assert sum(v > value for v in values) >= 10
    if pct < 99:  # one percentile higher would leave fewer than ten
        higher = harness.nearest_rank(values, pct + 1)
        assert sum(v > higher for v in values) < 10


def test_tail_rule_needs_eleven_samples():
    with pytest.raises(ValueError):
        harness.tail(list(range(10)))


def _store_file(store, bucket: int, name: str, ts_s: list[float], mtime: float) -> None:
    d = store / f"__bucket={bucket}"
    d.mkdir(parents=True, exist_ok=True)
    us = [round(t * 1e6) for t in ts_s]
    pq.write_table(pa.table({"ts": pa.array(us, pa.timestamp("us", tz="UTC"))}), d / name)
    os.utime(d / name, (mtime, mtime))


def test_latency_read_back_joins_rows_to_their_batch_commit(tmp_path):
    store = tmp_path / "store"
    # three batches, committed at 1010, 1020 and 1030
    batches = [(0, 1005.0, 1010.0), (1, 1015.0, 1020.0), (2, 1025.0, 1030.0)]
    _store_file(store, 0, "a.parquet", [1000.0, 1001.0], mtime=1009.0)
    _store_file(store, 1, "b.parquet", [1002.0], mtime=1009.5)
    _store_file(store, 0, "c.parquet", [1011.0, 1012.0], mtime=1019.0)
    _store_file(store, 3, "d.parquet", [1021.0], mtime=1030.0)
    ts_us, commit = sign.commit_times(str(store), batches)
    got = sorted(zip((ts_us / 1e6).tolist(), commit.tolist()))
    assert got == [
        (1000.0, 1010.0), (1001.0, 1010.0), (1002.0, 1010.0),
        (1011.0, 1020.0), (1012.0, 1020.0), (1021.0, 1030.0),
    ]
    # rows created in [1000, 1020): latencies 10, 9, 8, 9, 8
    lat = sorted((c - t for t, c in got if t < 1020))
    assert lat == [8.0, 8.0, 9.0, 9.0, 10.0]
    s = sign.latency_stats(np.repeat(ts_us, 3), np.repeat(commit, 3), 1000.0, 1020.0)
    assert s["samples"] == 15 and s["latency_p50_s"] == 9.0


def test_latency_read_back_rejects_a_file_after_the_last_commit(tmp_path):
    _store_file(tmp_path / "store", 0, "late.parquet", [1.0], mtime=50.0)
    with pytest.raises(RuntimeError):
        sign.commit_times(str(tmp_path / "store"), [(0, 1.0, 40.0)])


def _rows(expected: dict) -> dict:
    rows = {"tx_hash": [], "key_id": [], "signature": []}
    for tx, (key, sig) in expected.items():
        rows["tx_hash"].append(tx)
        rows["key_id"].append(key)
        rows["signature"].append(sig)
    return rows


def test_checker_accepts_a_correct_store_written_as_parquet(tmp_path):
    ids = np.arange(gen.first_id(5), gen.first_id(5) + 200)
    expected = check.expected_store(5, ids)
    rows = _rows(expected)
    d = tmp_path / "store" / "__bucket=3"
    d.mkdir(parents=True)
    pq.write_table(pa.table({**rows, "key_id": pa.array(rows["key_id"], pa.int64())}), d / "p.parquet")
    res = check.check_store(check.read_store(str(tmp_path / "store")), expected)
    assert (res["attempted"], res["failed"]) == (200, 0)


def test_checker_rebuilds_the_engine_hash_and_signature():
    # signed_stream: tx_hash = sha256(event_id|event_type|value),
    # signature = sha256(tx_hash | sha256("key_" + key_id)), key_id = event_id % 100
    eid = gen.first_id(0) + 1
    f = gen.record_fields(0, np.array([eid]))
    et, v = str(f["event_type"][0]), float(f["value"][0])
    tx = hashlib.sha256(f"{eid}|{et}|{v!r}".encode()).hexdigest()
    priv = hashlib.sha256(f"key_{eid % 100}".encode()).hexdigest()
    sig = hashlib.sha256(f"{tx}|{priv}".encode()).hexdigest()
    assert check.expected_store(0, np.array([eid])) == {tx: (eid % 100, sig)}


def _js_djb2(s: str) -> int:
    """The reference router's hash, written from its JS semantics: only the
    shifted term wraps to int32."""
    h = 5381
    for ch in s:
        sh = (h * 32) % 2**32
        h = h + ord(ch) + (sh - 2**32 if sh >= 2**31 else sh)
    return abs(h)


def _write_lake(lake, rows: list[tuple[int, str]]) -> None:
    by_label: dict[str, list[int]] = {}
    for eid, label in rows:
        by_label.setdefault(label, []).append(eid)
    for label, eids in by_label.items():
        d = lake / f"partition={label}" / "year=2026"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"event_id": pa.array(eids, pa.int64())}), d / "part.parquet")


def test_lake_checker_recomputes_partition_labels(tmp_path):
    ids = np.arange(gen.first_id(4), gen.first_id(4) + 40)
    delivered = np.concatenate([ids, ids[:3]])  # three redelivered copies
    keys = gen.record_fields(4, delivered)["k"]
    rows = [(int(e), f"partition_{_js_djb2(str(k)) % 5}") for e, k in zip(delivered, keys)]
    assert len({label for _, label in rows}) > 1

    _write_lake(tmp_path / "good", rows)
    assert check.check_lake(str(tmp_path / "good"), 4, delivered) == {"attempted": 43, "failed": 0}

    eid, label = rows[5]
    moved = rows[:5] + [(eid, "partition_9")] + rows[6:]
    _write_lake(tmp_path / "moved", moved)
    assert check.check_lake(str(tmp_path / "moved"), 4, delivered)["failed"] == 1

    _write_lake(tmp_path / "doubled", rows + [rows[7]])
    assert check.check_lake(str(tmp_path / "doubled"), 4, delivered)["failed"] == 1


def test_checker_catches_double_sign_wrong_signature_and_missing():
    ids = np.arange(gen.first_id(9), gen.first_id(9) + 50)
    expected = check.expected_store(9, ids)
    rows = _rows(expected)
    txs = list(expected)

    doubled = {k: v + [v[3]] for k, v in rows.items()}
    res = check.check_store(doubled, expected)
    assert (res["double_signed"], res["failed"]) == (1, 1)

    forged = {k: list(v) for k, v in rows.items()}
    forged["signature"][7] = check.signature(txs[7], (forged["key_id"][7] + 1) % 100)
    res = check.check_store(forged, expected)
    assert (res["wrong_signature"], res["failed"]) == (1, 1)

    wrong_key = {k: list(v) for k, v in rows.items()}
    wrong_key["key_id"][2] += 1
    assert check.check_store(wrong_key, expected)["wrong_signature"] == 1

    dropped = {k: v[1:] for k, v in rows.items()}
    res = check.check_store(dropped, expected)
    assert (res["missing"], res["failed"]) == (1, 1)

    stray = {k: v + [v[0]] for k, v in rows.items()}
    stray["tx_hash"][-1] = "0" * 64
    assert check.check_store(stray, expected)["unexpected"] == 1
