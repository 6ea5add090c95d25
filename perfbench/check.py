"""Output checks, run after each timed window.

Every check rebuilds the expected output independently of the engine: the
store and lake checks from the generator's seed (record content is a pure
function of ``(seed, event_id)``), the query check from each registered
query's DuckDB oracle.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import N_KEYS, record_fields


def tx_hash(event_id: int, event_type: str, value: float) -> str:
    """The engine's content hash: sha256 over ``event_id|event_type|value``
    with Spark's string forms (identical to Python's for the generator's
    two-decimal values)."""
    return hashlib.sha256(f"{event_id}|{event_type}|{value!r}".encode()).hexdigest()


def signature(tx: str, key_id: int) -> str:
    priv = hashlib.sha256(f"key_{key_id}".encode()).hexdigest()
    return hashlib.sha256(f"{tx}|{priv}".encode()).hexdigest()


def expected_store(seed: int, ids: np.ndarray) -> dict[str, tuple[int, str]]:
    """tx_hash -> (key_id, signature) for the records with these ids."""
    f = record_fields(seed, ids)
    out = {}
    for eid, et, v in zip(ids.tolist(), f["event_type"].tolist(), f["value"].tolist()):
        tx = tx_hash(eid, et, v)
        out[tx] = (eid % N_KEYS, signature(tx, eid % N_KEYS))
    return out


def store_files(store: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store, "__bucket=*", "*.parquet")))


def read_store(store: str, columns=("tx_hash", "key_id", "signature")):
    """Every row of a ``KeyedParquetSink`` store, as a dict of lists."""
    cols = {c: [] for c in columns}
    for f in store_files(store):
        t = pq.read_table(f, columns=list(columns))
        for c in columns:
            cols[c].extend(t[c].to_pylist())
    return cols


def check_store(rows: dict, expected: dict[str, tuple[int, str]]) -> dict:
    """Count records not signed exactly once with the right key and
    signature. ``failed`` counts each expected record at most once, plus every
    stored row whose hash was never offered."""
    seen: dict[str, int] = {}
    bad: set[str] = set()
    unexpected = 0
    for tx, key, sig in zip(rows["tx_hash"], rows["key_id"], rows["signature"]):
        seen[tx] = seen.get(tx, 0) + 1
        want = expected.get(tx)
        if want is None:
            unexpected += 1
        elif (key, sig) != want:
            bad.add(tx)
    double = {tx for tx, n in seen.items() if n > 1 and tx in expected}
    missing = sum(1 for tx in expected if tx not in seen)
    return {
        "attempted": len(expected),
        "failed": len(bad | double) + missing + unexpected,
        "missing": missing,
        "double_signed": len(double),
        "wrong_signature": len(bad),
        "unexpected": unexpected,
    }


def check_lake(lake: str, seed: int, ids: np.ndarray) -> dict:
    """The E1 lake must hold every delivered record exactly as delivered
    (``ids`` with redelivered copies repeated) under the ``partition_N``
    label the reference's djb2 router gives its key. The labels are
    recomputed by DuckDB from the ``duck`` rendering of ``hashing.djb2_js``."""
    import duckdb

    from aws_localstack_stream_processing_spark.functions.hashing import djb2_js

    f = record_fields(seed, ids)
    con = duckdb.connect()
    try:
        con.register("delivered", pa.table({"event_id": ids, "k": f["k"].astype(str)}))
        lake_glob = os.path.join(lake, "**", "*.parquet")
        got, missing, wrong = con.execute(
            f"""
            WITH lake AS (
              SELECT event_id, partition,
                     row_number() OVER (PARTITION BY event_id ORDER BY partition) AS copy
              FROM read_parquet('{lake_glob}', hive_partitioning = true)
            ), want AS (
              SELECT event_id,
                     'partition_' || CAST({djb2_js('k', 'duck')} % 5 AS VARCHAR) AS partition,
                     row_number() OVER (PARTITION BY event_id) AS copy
              FROM delivered
            )
            SELECT (SELECT count(*) FROM lake),
                   (SELECT count(*) FROM want ANTI JOIN lake USING (event_id, copy)),
                   (SELECT count(*) FROM want JOIN lake USING (event_id, copy)
                     WHERE want.partition <> lake.partition)
            """
        ).fetchone()
    finally:
        con.close()
    extra = max(0, got - len(ids))
    return {"attempted": len(ids), "failed": missing + wrong + extra}


def canonical_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: each row's values rendered with
    ``repr`` (columns already in name order), rows sorted by rendering, as
    the engine's own oracle tests compare them."""
    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()


def spark_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]


def oracle_rows(con, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [tuple(r[i] for i in order) for r in cur.fetchall()]


def oracle_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
