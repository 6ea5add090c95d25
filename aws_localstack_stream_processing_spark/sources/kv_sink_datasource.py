"""Keyed upsert sink as a Spark 4 Python DataSource writer.

The reference's signature store is a DynamoDB put keyed by content hash
(signer/index.js:229-242): re-delivery overwrites the same item, so the
store converges under at-least-once delivery. :mod:`..streaming.sinks`
gives that contract via ``foreachBatch``; this module gives it through the
DataSource V2 *commit protocol* — the connector-native shape::

    spark.dataSource.register(KVUpsertDataSource)
    df.writeStream.format("kv_upsert").option("path", ...).start()

The store is append-only. A batch ``save()`` appends one batch under the
next unused batch id; the ``overwrite`` save mode is refused with an error.

Exactly-once anatomy (SURVEY §2.6 T2), mapping 1:1 onto what a real
distributed sink driver does:

* **Executors stage, never publish.** ``write(iterator)`` writes each
  partition's rows to a parquet temp file under ``_tmp/`` and returns the
  file path as its commit message. A failed/speculative task's file is
  simply never committed (``abort`` sweeps it).
* **The driver publishes atomically, keyed by batch id.** ``commit(msgs,
  batchId)`` renames the staged files into ``batch=<batchId>/`` and drops
  a ``_COMMITTED`` marker last. Readers only see marker-bearing batch
  directories, so a crash mid-commit is invisible.
* **Replay is idempotent.** Restart re-runs the last unfinished batch
  with the SAME batch id; ``commit`` clears any partial ``batch=<id>``
  directory before publishing, so the store converges to one copy.
* **Read side = keyed compaction.** :func:`read_kv_table` resolves
  last-writer-wins per key with a map-side-combinable ``max_by`` over the
  ``batch`` partition column — no window, no shuffle beyond the one
  keyed aggregation, the same plan shape as ``cdc_latest_compact``.

At 100 TB the staged-file pattern is exactly how object-store sinks
(Delta/Iceberg commit services, S3A magic committer) achieve atomic
publish without rename-on-read penalties.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

_MARKER = "_COMMITTED"
_FAILPOINT_BEFORE_MARKER = "_FAILPOINT_CRASH_BEFORE_MARKER"


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str | None, rows: int):
        self.path = path
        self.rows = rows


class _KVWriter(DataSourceArrowWriter):
    """Shared batch/stream writer body; the stream subclass only adds the
    batchId-aware commit. Arrow-batched end to end: executors receive
    ``pyarrow.RecordBatch`` input and stage it with one columnar parquet
    write — no per-row marshalling anywhere in the sink path."""

    def __init__(self, options: dict, schema):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("kv_upsert: the 'path' option is required")
        self._schema = schema  # informational; batches carry their schema

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _StagedFile(None, 0)
        tmp_dir = os.path.join(self._path, "_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        staged = os.path.join(tmp_dir, f"stage-{uuid.uuid4().hex}.parquet")
        table = pa.Table.from_batches(batches)
        pq.write_table(table, staged)
        return _StagedFile(staged, table.num_rows)

    # -- driver side ------------------------------------------------------
    def _publish(self, messages, batch_id: int) -> None:
        out = os.path.join(self._path, f"batch={batch_id}")
        if os.path.isdir(out):  # replay of an unfinished/retried batch id
            for f in os.listdir(out):
                os.remove(os.path.join(out, f))
        os.makedirs(out, exist_ok=True)
        i = 0
        for m in messages:
            if m is None or m.path is None:
                continue
            os.replace(m.path, os.path.join(out, f"part-{i:05d}.parquet"))
            i += 1
        # fault-injection seam (one-shot, claimed by deletion): a planted
        # flag file crashes the exact window the commit protocol claims to
        # survive — files renamed into the batch dir, marker not yet
        # written. Real streaming commits run in a separate Python worker
        # where a test monkeypatch can't reach; a filesystem failpoint can.
        # Used by tests/test_e2e_exactly_once.py.
        # Armed only under SPARK_GRAFT_FAILPOINTS=1 (exported by the test
        # conftest before the JVM launches, so commit-side Python workers
        # inherit it): a stray flag file in a production store is inert.
        # The claim is atomic — remove-then-raise, with a concurrent
        # remover's FileNotFoundError treated as "the other query claimed
        # it", so exactly one commit crashes per planted file (ADVICE r8).
        if os.environ.get("SPARK_GRAFT_FAILPOINTS") == "1":
            fp = os.path.join(self._path, _FAILPOINT_BEFORE_MARKER)
            try:
                os.remove(fp)
            except FileNotFoundError:
                pass
            else:
                raise OSError("failpoint: injected crash before marker write")
        with open(os.path.join(out, _MARKER), "w") as f:
            f.write(str(i))  # marker LAST: readers never see partial batches

    def _sweep(self, messages) -> None:
        for m in messages or []:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)

    def commit(self, messages) -> None:
        """Batch-mode append: publish under the next unused batch id, so
        prior upserts survive (the last-writer-wins read resolves keys
        across batches). Stray non-``batch=<int>`` entries (manual copies,
        editor backups) are ignored rather than failing the commit."""
        existing = []
        for d in os.listdir(self._path) if os.path.isdir(self._path) else []:
            if not d.startswith("batch="):
                continue
            try:
                existing.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
        self._publish(messages, max(existing, default=-1) + 1)

    def abort(self, messages) -> None:
        self._sweep(messages)


class _KVStreamWriter(_KVWriter, DataSourceStreamArrowWriter):
    def commit(self, messages, batchId: int) -> None:
        self._publish(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        self._sweep(messages)


class KVUpsertDataSource(DataSource):
    """``format("kv_upsert")`` — keyed idempotent store, batch or stream."""

    @classmethod
    def name(cls) -> str:
        return "kv_upsert"

    def writer(self, schema, overwrite: bool) -> DataSourceArrowWriter:
        if overwrite:
            raise ValueError(
                "kv_upsert: save mode 'overwrite' is not supported; the "
                "store is append-only (write with mode('append'))"
            )
        return _KVWriter(self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamArrowWriter:
        return _KVStreamWriter(self.options, schema)


def register_kv_sink(spark: SparkSession) -> None:
    """Idempotently register the sink with a session (duplicate
    registration tolerated; real failures propagate)."""
    from .firehose_datasource import _register

    _register(spark, KVUpsertDataSource)


def committed_batches(path: str) -> list[str]:
    """Marker-bearing batch directories: the batches whose publish
    completed."""
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("batch=") and os.path.exists(os.path.join(path, d, _MARKER))
    )


def read_kv_table(
    spark: SparkSession,
    path: str,
    key_col: str,
    probe: DataFrame | None = None,
) -> DataFrame:
    """The store's upsert view: last-writer-wins per key across committed
    batches (ties within a batch are same-key ⇒ same-payload by the PK
    contract, so any representative is correct).

    ``probe``: optional key set to bound the view to. A per-micro-batch
    caller (``AlarmActionSink.process_batch``) only needs the store rows
    whose keys appear in the batch — without the probe, the last-writer
    groupBy shuffles the ENTIRE store every micro-batch (store-sized
    exchange, unbounded as batches accumulate). With it, the store scan
    is semi-joined against the BROADCAST probe keys first (the same
    Bloom-filter shape as ``KeyedParquetSink.probe_plan``: one store
    scan, no store shuffle/broadcast), so only matching rows reach the
    aggregation — per-batch shuffle ∝ |batch|, not ∝ |store|."""
    dirs = committed_batches(path)
    if not dirs:
        raise FileNotFoundError(f"kv_upsert: no committed batches under {path}")
    df = spark.read.option("basePath", path).parquet(*dirs)
    if probe is not None:
        df = df.join(
            F.broadcast(probe.select(key_col).distinct()),
            key_col,
            "left_semi",
        )
    payload = [c for c in df.columns if c not in (key_col, "batch")]
    return (
        df.groupBy(key_col)
        .agg(
            F.max_by(F.struct(*payload), F.col("batch")).alias("_v"),
            F.max("batch").alias("last_batch"),
        )
        .select(key_col, "_v.*", "last_batch")
    )
