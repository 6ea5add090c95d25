"""Every streaming pin re-run on the RocksDB state store (VERDICT r9 #1).

The full correctness record (trilogy, both chains, the triple chain, the
LRU ring, kv/alarm sinks) was built on the default HDFS-backed provider —
state on the executor JVM heap. A 100 TB cluster runs
``RocksDBStateStoreProvider`` (native off-heap state, changelog
checkpointing; the Spark-native analogue of the reference keeping signer
state in Aurora rather than Lambda memory, `signer/index.js:151-214`).
Spark 4 bundles the provider (``rocksdbjni`` jar); this module proves the
engine's semantics are store-independent:

- every ``stream_*`` oracle query hash-matches DuckDB under RocksDB, and
- the bounded-run state curves (TTL-dedup boundedness, join-buffer
  eviction, the triple chain's three per-operator curves) hold under
  RocksDB, with provider evidence (rocksdb custom metrics) recorded per
  batch — trusting the conf took effect is not enough.

The engine leaves the state-store provider as the session has it, so the
fixture sets the provider conf on the session and restores it afterwards;
the rest of the suite keeps running on the default store.
"""

from __future__ import annotations

import duckdb
import pytest

from aws_localstack_stream_processing_spark.plans import all_queries
from aws_localstack_stream_processing_spark.streaming.metrics import (
    state_metrics_df,
)

from .conftest import SF_DIR, normalize

# skip-by-default (VERDICT r13 #1): multi-minute suite; run with --runslow
pytestmark = pytest.mark.slow

QUERIES = all_queries()
STREAM_ORACLE_NAMES = sorted(
    n for n, q in QUERIES.items() if n.startswith("stream_") and q.oracle
)


_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def rocksdb_available(spark) -> bool:
    """True when the bundled RocksDB JNI native library actually loads in
    this environment (jar-on-classpath alone doesn't prove the .so
    extracts and links on this libc)."""
    try:
        spark.sparkContext._jvm.org.rocksdb.RocksDB.loadLibrary()
        return True
    except Exception:
        return False


@pytest.fixture(scope="module")
def rocksdb(spark):
    """Run this module's streaming queries on RocksDB; restore after."""
    if not rocksdb_available(spark):
        pytest.skip("RocksDB JNI native library not loadable here")
    prev_conf = spark.conf.get(_CONF, None)
    spark.conf.set(_CONF, _ROCKSDB)
    try:
        yield spark
    finally:
        if prev_conf:
            spark.conf.set(_CONF, prev_conf)
        else:
            spark.conf.unset(_CONF)


def _events_count() -> int:
    con = duckdb.connect()
    return con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]


@pytest.mark.parametrize("name", STREAM_ORACLE_NAMES)
def test_stream_oracle_match_on_rocksdb(name, rocksdb, duck):
    """The driver's oracle compare, store swapped to RocksDB: identical
    columns, row counts, and values for every streaming query."""
    qd = QUERIES[name]
    sdf = qd.fn(rocksdb, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d_res = duck.execute(qd.oracle)
    d_cols = [c[0] for c in d_res.description]
    d_rows = d_res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    sc, sn = normalize(s_rows, s_cols)
    dc, dn = normalize(d_rows, d_cols)
    assert len(sn) == len(dn), f"{name}: row count {len(sn)} vs {len(dn)}"
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
    assert sn == dn, f"{name}: value mismatch under RocksDB: {mismatches}"


def test_rocksdb_actually_ran(rocksdb):
    """Provider evidence: the state curve's per-batch rocksdb flag (derived
    from rocksdb* custom metrics only the RocksDB store emits) is 1 for
    every batch of a stateful run under the RocksDB conf — and 0 when the
    conf is unset (guards against the conf silently not taking effect,
    which would turn this whole module into a no-op re-test of HDFS)."""
    QUERIES["stream_dedup_ttl_boundary"].fn(rocksdb, SF_DIR).collect()
    rows = state_metrics_df(rocksdb).collect()
    assert rows and all(r.rocksdb == 1 for r in rows)
    # flip off: same query on the session default must NOT read as rocksdb
    rocksdb.conf.unset(_CONF)
    try:
        QUERIES["stream_dedup_ttl_boundary"].fn(rocksdb, SF_DIR).collect()
        rows = state_metrics_df(rocksdb).collect()
        assert rows and all(r.rocksdb == 0 for r in rows)
    finally:
        rocksdb.conf.set(_CONF, _ROCKSDB)


def test_ttl_dedup_state_bounded_on_rocksdb(rocksdb):
    """The TTL-dedup state curve pins hold store-independently: bounded
    peak, visible eviction, late drops counted. (memory_used_bytes is
    store-internal — RocksDB reports SST/memtable bytes, not JVM heap —
    so the memory pin here is only 'populated', matching the HDFS test.)"""
    n = _events_count()
    QUERIES["stream_dedup_ttl_boundary"].fn(rocksdb, SF_DIR).collect()
    curve = state_metrics_df(rocksdb).orderBy("batch_id").collect()
    assert len(curve) == 6
    peak = max(r.state_rows for r in curve)
    assert peak <= 2 * (n // 6 + 1) and peak < n // 3
    assert any(b.state_rows < a.state_rows for a, b in zip(curve, curve[1:]))
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0
    assert all(r.memory_used_bytes > 0 for r in curve)
    assert all(r.rocksdb == 1 for r in curve)


def test_triple_chain_curves_on_rocksdb(rocksdb):
    """All three chained stateful operators keep bounded per-batch curves
    under RocksDB (dedup TTL-evicts, join buffer collapses, agg emits)."""
    n = _events_count()
    QUERIES["stream_triple_stateful_chain"].fn(rocksdb, SF_DIR).collect()
    curve = state_metrics_df(rocksdb).orderBy("batch_id").collect()
    ops = {r.operator for r in curve}
    assert "dedupeWithinWatermark" in ops and len(ops) == 3
    for op in ops:
        rows = [r for r in curve if r.operator == op]
        # same bound as the HDFS-store pin (test_state_metrics): each
        # stage keeps roughly a time slice live, never the whole input —
        # the join buffer legitimately holds ~2 slices mid-replay
        assert max(r.state_rows for r in rows) < n // 2, op
        assert any(
            b.state_rows < a.state_rows for a, b in zip(rows, rows[1:])
        ), f"{op}: no visible eviction under RocksDB"
    assert sum(r.rows_dropped_by_watermark for r in curve) > 0
    assert all(r.rocksdb == 1 for r in curve)


def test_rocksdb_changelog_checkpointing_variant(rocksdb, duck):
    """The configuration a 100 TB cluster actually ships: RocksDB with
    CHANGELOG checkpointing (per-batch delta upload instead of full
    SST-snapshot upload — Spark 4's
    `...rocksdb.changelogCheckpointing.enabled`). Semantics must be
    identical: the TTL-dedup boundary query stays oracle-exact and its
    state curve keeps the same bounds, with provider evidence present."""
    conf = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    prev = rocksdb.conf.get(conf, None)
    rocksdb.conf.set(conf, "true")
    try:
        qd = QUERIES["stream_dedup_ttl_boundary"]
        sdf = qd.fn(rocksdb, SF_DIR)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        d_res = duck.execute(qd.oracle)
        d_cols = [c[0] for c in d_res.description]
        assert normalize(s_rows, s_cols) == normalize(
            d_res.fetchall(), d_cols
        )
        curve = state_metrics_df(rocksdb).orderBy("batch_id").collect()
        n = _events_count()
        assert len(curve) == 6 and all(r.rocksdb == 1 for r in curve)
        assert max(r.state_rows for r in curve) < n // 3
        assert sum(r.rows_dropped_by_watermark for r in curve) > 0
    finally:
        if prev is None:
            rocksdb.conf.unset(conf)
        else:
            rocksdb.conf.set(conf, prev)
