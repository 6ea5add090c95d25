"""Firehose DirectPut connector as a Spark 4 Python DataSource.

The reference ingests through a Kinesis Firehose ``DirectPut`` delivery
stream (app.ts:401-427): producers put opaque records whose ``data`` field
is the base64-encoded JSON payload, and the partitioner Lambda decodes that
envelope per record (partitioner/index.js:40-65). This module exposes the
same wire surface as a first-class pluggable Spark source, so a pipeline
reads DirectPut-shaped records with::

    spark.dataSource.register(FirehoseSimDataSource)
    spark.readStream.format("firehose_sim").option("path", ...).load()

and gets the Firehose record envelope ``(recordId, data, arrival)`` —
identical rows in batch and streaming mode.

Scale design
------------
* **The put log is a directory, not a file.** Firehose buffers one object
  per (partition, hour) (app.ts:400-411), so a real put log is many
  objects; ``path`` may point at a single parquet file or a directory of
  them. The plan is the lexicographically-sorted file list with cumulative
  row offsets — global sequence numbers span files. Stability contract:
  appended objects must sort AFTER every existing one (the reference's
  zero-padded partition/hour keys do); a checkpointed prefix fingerprint
  makes any out-of-order mutation of the consumed prefix fail loudly
  rather than silently re-address rows.
* **Partition planning is metadata-only.** The driver reads parquet footer
  metadata (file row counts, row-group row counts), never data; executors
  open only the (file, row-group) pairs overlapping their assigned row
  range. At 100 TB this is the standard columnar-source shape: planning
  cost ∝ #files + #row groups, read cost ∝ rows actually scanned per task,
  no driver materialization.
* **Exactly-once streaming.** Offsets are record sequence numbers; Spark
  checkpoints them and replays ranges deterministically (the generator is
  pure: seq → record), which is the replayability contract (SURVEY §2.6
  T8) a real Kinesis shard iterator provides via sequence numbers.
* **No driver-side batching state.** ``latestOffset`` always reports the
  full available range, so planning is a pure function of the checkpoint —
  restart-safe by construction. (Per-batch pacing belongs to the trigger /
  file-source ``maxFilesPerTrigger`` path, SURVEY §2.1 S2: a driver-side
  batching counter here could regress the checkpoint after restart and
  re-emit or skip ranges.)

This simulator replays the driver's ``events`` table as the put stream —
the payload a producer would have put — so decode parity is checkable
against a relational oracle over the same table.
"""

from __future__ import annotations

import base64
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "recordId string, data string, arrival timestamp"

_B64_ALPHABET = b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"


class _RangePartition(InputPartition):
    """A contiguous run of global record sequence numbers [start, end)."""

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _source_path(options: dict, fmt: str) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt}: the 'path' option is required")
    return path


def _plan_files(path: str) -> list[tuple[str, int, int]]:
    """The metadata plan for a put log: ``[(file, row_offset, n_rows)]``
    in lexicographic file order with cumulative global row offsets.
    ``path`` is one parquet file or a directory of them (one object per
    partition/hour in the reference layout, app.ts:400-411). Only parquet
    footers are read — never data."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not files:
            raise ValueError(f"firehose_sim: no parquet objects under {path!r}")
    else:
        files = [path]
    plan: list[tuple[str, int, int]] = []
    off = 0
    for f in files:
        n = pq.ParquetFile(f).metadata.num_rows
        plan.append((f, off, n))
        off += n
    return plan


def _num_rows(path: str) -> int:
    return sum(n for _, _, n in _plan_files(path))


def _prefix_fingerprint(plan: list[tuple[str, int, int]], seq: int) -> int:
    """Order-sensitive CRC of the (basename, offset, rows) plan prefix that
    covers global sequence numbers [0, seq).

    Global sequence numbers are positions in the lexicographically sorted
    file list, so they are only stable if the already-consumed prefix of
    that list never changes — appends must sort AFTER every existing file
    (the reference layout guarantees this: one object per (partition, hour)
    with zero-padded increasing keys, app.ts:400-411). A new object sorting
    into the middle would silently shift every later offset, duplicating
    some rows and dropping others across a checkpoint restart. The
    fingerprint travels inside the checkpointed offset dict, and
    ``partitions()`` re-derives and compares it each microbatch — mid-list
    insertion/deletion below the consumed watermark fails loudly instead."""
    import zlib

    acc = 0
    for f, off, n in plan:
        if off >= seq:
            break
        acc = zlib.crc32(f"{os.path.basename(f)}:{off}:{n};".encode(), acc)
    return acc


def _split(start: int, end: int, n: int) -> list[_RangePartition]:
    total = end - start
    if total <= 0:
        return []
    n = max(1, min(n, total))
    step = -(-total // n)  # ceil
    return [
        _RangePartition(a, min(a + step, end))
        for a in range(start, end, step)
    ]


def _read_range(path: str, lo: int, hi: int):
    """Rows [lo, hi) of one parquet file as an Arrow table, reading only
    the row groups that overlap the range; None when none does."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    groups: list[int] = []
    first_off = 0
    off = 0
    for i in range(pf.metadata.num_row_groups):
        n = pf.metadata.row_group(i).num_rows
        if off < hi and off + n > lo:
            if not groups:
                first_off = off
            groups.append(i)
        off += n
    if not groups:
        return None
    return pf.read_row_groups(groups).slice(lo - first_off, hi - lo)


def _b64_series(payload) -> "object":
    """Vectorized base64 of a string Series — no per-row Python.

    Rows are grouped by byte length; each class is packed into one
    contiguous buffer (a single C-level ``str.join``) and encoded in bulk
    with numpy: 3-byte groups → 4 sextets → alphabet gather. Equivalent to
    ``base64.b64encode`` per row (property-tested in
    tests/test_firehose_source.py), but the per-record cost is a few numpy
    ops over the whole batch instead of a Python lambda per row."""
    import numpy as np
    import pandas as pd

    encoded = payload.str.encode("utf-8")
    lengths = encoded.str.len()
    out = pd.Series(index=payload.index, dtype=object)
    alpha = np.frombuffer(_B64_ALPHABET, np.uint8)
    for n_bytes, idx in lengths.groupby(lengths).groups.items():
        if n_bytes == 0:
            out.loc[idx] = ""
            continue
        chunk = encoded.loc[idx]
        buf = np.frombuffer(b"".join(chunk.tolist()), np.uint8)
        arr = buf.reshape(len(chunk), n_bytes)
        pad = (-n_bytes) % 3
        if pad:
            arr = np.pad(arr, ((0, 0), (0, pad)))
        grp = arr.reshape(len(chunk), -1, 3).astype(np.uint32)
        word = (grp[:, :, 0] << 16) | (grp[:, :, 1] << 8) | grp[:, :, 2]
        sext = np.stack(
            [(word >> 18) & 63, (word >> 12) & 63, (word >> 6) & 63, word & 63],
            axis=-1,
        ).reshape(len(chunk), -1)
        b64 = alpha[sext]
        if pad:  # zero-padding bytes render as '=' per RFC 4648
            b64[:, -pad:] = ord("=")
        olen = b64.shape[1]
        strs = b64.reshape(-1).view(f"S{olen}").astype(str)
        out.loc[idx] = strs
    return out


def _read_file_rows(path: str, file_off: int, start: int, end: int) -> Iterator:
    """Yield DirectPut records for global sequence numbers [start, end)
    falling inside one log file, as an Arrow record batch. Only the row
    groups overlapping the local range are read; the envelope is built
    columnar end-to-end (vectorized string ops + bulk numpy base64)."""
    import pandas as pd
    import pyarrow as pa

    table = _read_range(path, start - file_off, end - file_off)
    if table is None:
        return
    df = table.to_pandas()
    ts = pd.to_datetime(df["ts"]) if "ts" in df else pd.Series([pd.NaT] * len(df))
    # canonical JSON (sorted keys, no whitespace), built columnar — same
    # text json.dumps(sort_keys=True, separators=(",", ":")) would emit:
    # str() on int64/float64 matches json.dumps (shortest-repr) rendering,
    # and .isoformat() on whole-second stamps omits ".000000" exactly like
    # strftime cannot — so trim the all-zero fraction explicitly
    iso = ts.dt.strftime("%Y-%m-%dT%H:%M:%S.%f").str.replace(
        r"\.0{6}$", "", regex=True
    )
    ts_field = ('"ts":"' + iso + '"').where(ts.notna(), '"ts":null')
    # a NaN value must serialize as JSON null, not the literal `nan`
    # (invalid JSON that downstream decodes to NULL by accident)
    val = df["value"]
    val_field = val.astype(str).where(val.notna(), "null")
    payload = (
        '{"event_type":"'
        + df["event_type"].astype(str)
        + '","id":'
        + df["event_id"].astype(str)
        + ","
        + ts_field
        + ',"user_id":'
        + df["user_id"].astype(str)
        + ',"value":'
        + val_field
        + "}"
    )
    # the base64 envelope — the exact encoding the partitioner Lambda
    # undoes (partitioner/index.js:46)
    data = _b64_series(payload)
    record_id = (
        "rec-" + pd.Series(range(start, end), index=df.index).astype(str).str.zfill(12)
    )
    if "ts" in table.column_names:
        arrival = table["ts"].combine_chunks().cast(pa.timestamp("us"))
    else:
        arrival = pa.nulls(len(df), pa.timestamp("us"))
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(record_id, pa.string()),
            pa.array(data, pa.string()),
            arrival,
        ],
        names=["recordId", "data", "arrival"],
    )


def _read_rows(path: str, start: int, end: int) -> Iterator:
    """Yield records for global sequence numbers [start, end), opening only
    the log files whose offset range overlaps."""
    for f, off, n in _plan_files(path):
        if off < end and off + n > start:
            yield from _read_file_rows(f, off, max(start, off), min(end, off + n))


class _FirehoseBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = _source_path(options, "firehose_sim")
        self._parts = int(options.get("numpartitions", 8))

    def partitions(self) -> list[InputPartition]:
        return _split(0, _num_rows(self._path), self._parts)

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_rows(self._path, partition.start, partition.end)


class _FirehoseStreamReader(DataSourceStreamReader):
    """Sequence-number offsets over the bounded put log. Planning is a
    pure function of (checkpointed offset, file metadata) — no mutable
    reader state, so checkpoint restart replays identical ranges."""

    def __init__(self, options: dict):
        self._path = _source_path(options, "firehose_sim")
        self._parts = int(options.get("numpartitions", 8))

    def initialOffset(self) -> dict:
        return {"seq": 0, "fp": 0}

    def latestOffset(self) -> dict:
        # re-derive the metadata plan every call: the put log grows while
        # the query runs (new hour objects), and planning is footer-only
        plan = _plan_files(self._path)
        total = sum(n for _, _, n in plan)
        return {"seq": total, "fp": _prefix_fingerprint(plan, total)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # Exactly-once guard: the consumed prefix of the sorted file list
        # must be unchanged since `start` was checkpointed, otherwise the
        # global sequence numbers below the watermark no longer address the
        # same rows (see _prefix_fingerprint). Old checkpoints without a
        # fingerprint skip the check rather than fail.
        if start.get("fp") is not None and int(start["seq"]) > 0:
            actual = _prefix_fingerprint(_plan_files(self._path), int(start["seq"]))
            if actual != int(start["fp"]):
                raise ValueError(
                    "firehose_sim: the put-log file list changed BELOW the "
                    f"consumed watermark (seq={start['seq']}): a file was "
                    "inserted, removed, or resized out of lexicographic "
                    "append order, so checkpointed sequence numbers no "
                    "longer address the same rows. New log objects must "
                    "sort after all existing ones (zero-padded increasing "
                    "keys, as in the reference's partition/hour layout)."
                )
        return _split(int(start["seq"]), int(end["seq"]), self._parts)

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_rows(self._path, partition.start, partition.end)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing source-side

    def stop(self) -> None:
        pass


class FirehoseSimDataSource(DataSource):
    """``format("firehose_sim")`` — DirectPut record envelopes from a
    parquet-backed put log (file or directory), batch or streaming."""

    @classmethod
    def name(cls) -> str:
        return "firehose_sim"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _FirehoseBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _FirehoseStreamReader(self.options)


def _register(spark, cls) -> None:
    """Idempotent DataSource registration that does NOT swallow real
    failures: only the duplicate-registration error is ignored; anything
    else (API change, bad class) propagates instead of resurfacing later
    as an unrelated 'format not found'. Ships the package zip first: the
    registered class is pickled by reference, so the Python plan runner
    and every worker must be able to import this module whatever the
    driver's cwd (VERDICT r6 #4)."""
    from ..session import ship_package

    ship_package(spark)
    try:
        spark.dataSource.register(cls)
    except Exception as exc:  # noqa: BLE001 - filtered below
        msg = str(exc).lower()
        if "already" in msg or "exists" in msg:
            return
        raise


def register_firehose_source(spark) -> None:
    """Idempotently register the connector with a session."""
    _register(spark, FirehoseSimDataSource)
