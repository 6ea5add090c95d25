"""Manifest-backed lake source — S5's event-driven discovery at scale.

The reference discovers new lake objects by S3 ``ObjectCreated``
notifications delivered through SQS (app.ts:434-438): consumers learn
about files from an append-only NOTIFICATION LOG, never by listing the
bucket. The engine's file-stream path (:mod:`..streaming.source`)
replaces that hop with directory listing, which is the known bottleneck
at 100× file counts (a 100 TB lake is millions of objects; listing per
micro-batch is O(all files), a manifest read is O(new entries)).

This module closes that gap with the manifest pattern every production
table format uses (Spark's own ``FileStreamSink`` ``_spark_metadata``,
Delta/Iceberg commit logs):

* **Writers append commit files.** :func:`append_manifest` records the
  parquet files a batch produced as a numbered JSON commit under
  ``<lake>/_manifest/`` (atomic tmp+rename). The writer names the commit
  number: the streaming batch id, so a replayed batch overwrites ITS OWN
  commit — idempotent by construction.
* **Readers plan from the manifest.** ``format("manifest_lake")`` reads
  commit files in numeric order and assigns global row sequence numbers
  over the manifest's APPEND order — not lexicographic filename order —
  so consumed offsets are stable by construction: a late-landing object
  whose name sorts early cannot shift them (the failure mode the
  firehose listing source must fingerprint against).
* **Planning is metadata-only.** Row counts ride inside the commit
  entries (written once by the producer), so micro-batch planning reads
  zero parquet footers and no directory listing; executors open only the
  (file, row-group) pairs overlapping their assigned range.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .firehose_datasource import (
    _RangePartition,
    _read_range,
    _source_path,
    _split,
)

_MANIFEST_DIR = "_manifest"


def manifest_dir(lake_dir: str) -> str:
    return os.path.join(lake_dir, _MANIFEST_DIR)


def append_manifest(lake_dir: str, files: list[str], commit_id: int) -> None:
    """Record ``files`` (paths under the lake) as manifest commit
    ``commit_id``.

    Streaming writers pass their batch id, so a replayed batch atomically
    overwrites its own commit (tmp file, then ``os.replace``) instead of
    double-publishing. Row counts are captured here, once, from the
    parquet footers — readers never touch metadata."""
    import pyarrow.parquet as pq

    mdir = manifest_dir(lake_dir)
    os.makedirs(mdir, exist_ok=True)
    entries = []
    for f in files:
        rel = os.path.relpath(os.path.abspath(f), os.path.abspath(lake_dir))
        entries.append({"path": rel, "rows": pq.ParquetFile(f).metadata.num_rows})
    out = os.path.join(mdir, f"{commit_id:010d}.json")
    tmp = f"{out}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(entries, fh)
    os.replace(tmp, out)


def read_manifest(lake_dir: str) -> list[tuple[str, int, int]]:
    """``[(abs_file, global_row_offset, n_rows)]`` in manifest append
    order (commit number, then entry order within the commit)."""
    mdir = manifest_dir(lake_dir)
    if not os.path.isdir(mdir):
        return []
    commits = sorted(
        (int(f.split(".", 1)[0]), f)
        for f in os.listdir(mdir)
        if f.split(".", 1)[0].isdigit() and f.endswith(".json")
    )
    plan: list[tuple[str, int, int]] = []
    off = 0
    for _, fname in commits:
        with open(os.path.join(mdir, fname)) as fh:
            for e in json.load(fh):
                plan.append((os.path.join(lake_dir, e["path"]), off, e["rows"]))
                off += e["rows"]
    return plan


def _read_rows(lake_dir: str, start: int, end: int) -> Iterator:
    """Arrow batches for global rows [start, end): only the overlapping
    row groups of the overlapping files are read (the firehose source's
    pruning, without the DirectPut envelope)."""
    for f, off, n in read_manifest(lake_dir):
        if off < end and off + n > start:
            table = _read_range(f, max(start, off) - off, min(end, off + n) - off)
            if table is not None:
                yield from table.to_batches()


class _ManifestBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = _source_path(options, "manifest_lake")
        self._parts = int(options.get("numpartitions", 8))

    def partitions(self) -> list[InputPartition]:
        total = sum(n for _, _, n in read_manifest(self._path))
        return _split(0, total, self._parts)

    def read(self, partition: _RangePartition) -> Iterator:
        return _read_rows(self._path, partition.start, partition.end)


class _ManifestStreamReader(DataSourceStreamReader):
    """Row-sequence offsets over the manifest. Append-only commit order
    makes offsets stable with NO fingerprint guard: commit n+1 can only
    add rows after commit n's, wherever its files' names sort."""

    def __init__(self, options: dict):
        self._path = _source_path(options, "manifest_lake")
        self._parts = int(options.get("numpartitions", 8))

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        return {"seq": sum(n for _, _, n in read_manifest(self._path))}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _split(int(start["seq"]), int(end["seq"]), self._parts)

    def read(self, partition: _RangePartition) -> Iterator:
        return _read_rows(self._path, partition.start, partition.end)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class ManifestLakeDataSource(DataSource):
    """``format("manifest_lake")`` — read a lake through its commit
    manifest (batch or streaming); no directory listing anywhere."""

    @classmethod
    def name(cls) -> str:
        return "manifest_lake"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        import pyarrow.parquet as pq

        plan = read_manifest(_source_path(self.options, "manifest_lake"))
        if not plan:
            raise ValueError(
                "manifest_lake: empty or missing manifest — write data with "
                "append_manifest/run_ingest_stream_manifest first"
            )
        return from_arrow_schema(pq.ParquetFile(plan[0][0]).schema_arrow)

    def reader(self, schema) -> DataSourceReader:
        return _ManifestBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ManifestStreamReader(self.options)


def register_manifest_source(spark) -> None:
    from .firehose_datasource import _register

    _register(spark, ManifestLakeDataSource)
