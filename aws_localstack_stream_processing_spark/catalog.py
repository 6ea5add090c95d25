"""Test-table catalog.

Loads the driver's parquet tables (TESTDATA.md) with schema normalization:
the ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
vectorized reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` the
column arrives as a nanosecond LongType which we convert to a microsecond
TimestampType via integer division (bit-exact with DuckDB's ns→µs truncation
— float division would lose precision at ~1.7e18 ns).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

# parquet TIMESTAMP(NANOS) columns per table (read as long, converted here)
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


# --- source-layout remediation -------------------------------------------
#
# The driver's test parquet files are written as a SINGLE row group, and
# Spark's scan parallelism is bounded by row-group count (byte-range splits
# can't cut inside a row group), so every first stage — including the
# map-side half of every partial aggregation — runs as ONE task no matter
# how many cores the session has. That is a small-file layout defect, not a
# plan property: at real scale a table is thousands of row groups and the
# same plans parallelize naturally. The standard lakehouse remedy is layout
# compaction (exactly what `lake_compaction_plan` plans), so the catalog
# applies it once per (sf, table): rewrite poorly-grouped large tables into
# a cached copy with ~one row group per core via a byte-exact pyarrow
# roundtrip (values, schema, and logical types unchanged — the DuckDB
# oracle keeps reading the originals, which is itself a check that the
# relayout is content-preserving).

_RELAYOUT_MIN_ROWS = 1_000  # below this, single-task scans are already fine
_MIN_ROWS_PER_GROUP = 64
# Group sizing is bytes-aware (measured on the round-4 bench): narrow
# relational rows (tens of bytes) are scan/shuffle-bound, so tiny row groups
# just multiply task-scheduling overhead — target ~256 KiB of file bytes per
# group instead (events at sf0.1: 8 groups beat 32 by ~2x on every consumer).
# Wide rows (text documents, embedding vectors — hundreds of bytes up) feed
# per-row CPU-bound operators (shingling, dot-product folds), where
# fine-grained one-group-per-core layout measurably wins; the 64 B/row
# boundary separates the two regimes in the test corpus with a wide margin
# (relational ≤ 22 B/row, documents ≥ 119 B/row).
_TARGET_GROUP_BYTES = 256 * 1024
_WIDE_ROW_BYTES = 64


def _layout_cache_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_LAYOUT_CACHE_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".layout_cache",
        ),
    )


def _maybe_relayout(sf_dir: str, name: str) -> str:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return path
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        pf = pq.ParquetFile(path)
        rows = pf.metadata.num_rows
        fsize = os.path.getsize(path)
        if rows >= _RELAYOUT_MIN_ROWS and fsize / rows > _WIDE_ROW_BYTES:
            # wide-payload rows: per-row compute dominates, go fine-grained
            target_groups = max(2, min(cpus, rows // _MIN_ROWS_PER_GROUP))
        else:
            target_groups = max(2, min(cpus, fsize // _TARGET_GROUP_BYTES))
        # skip when the source is already at least half-way to the target —
        # floored at 2 so a single-group file never "satisfies" a small target
        if rows < _RELAYOUT_MIN_ROWS or pf.metadata.num_row_groups >= max(
            2, target_groups // 2
        ):
            return path
        # cache dir keyed by basename PLUS a crc of the absolute sf_dir:
        # two scale dirs sharing a basename (e.g. /a/sf0.01 and /b/sf0.01)
        # must never share (and mutually evict) each other's variants
        import zlib

        abs_dir = os.path.abspath(sf_dir.rstrip("/"))
        dir_id = f"{zlib.crc32(abs_dir.encode()):08x}"
        out_dir = os.path.join(
            _layout_cache_root(), f"{os.path.basename(abs_dir)}-{dir_id}"
        )
        # target group count AND source identity (crc32 of mtime ns + size,
        # 8 hex chars so plan strings don't truncate the name) in the
        # filename: a sizing-policy change or a regenerated source parquet
        # self-invalidates the cache instead of serving a stale layout
        src_id = f"{zlib.crc32(f'{os.stat(path).st_mtime_ns}-{fsize}'.encode()):08x}"
        out = os.path.join(
            out_dir, f"{name}.{target_groups}g.{src_id}.parquet"
        )
        if not os.path.exists(out):
            os.makedirs(out_dir, exist_ok=True)
            tmp = f"{out}.tmp.{os.getpid()}"
            pq.write_table(
                pf.read(),
                tmp,
                row_group_size=max(_MIN_ROWS_PER_GROUP, math.ceil(rows / target_groups)),
            )
            os.replace(tmp, out)  # atomic: concurrent loaders race benignly
            # drop superseded variants of this table (old policy or old
            # source identity) only AFTER the new file is in place, so a
            # concurrent process whose lazy plan still references the old
            # variant has the shortest possible exposure window
            import glob as _glob

            for old in _glob.glob(os.path.join(out_dir, f"{name}.*.parquet")):
                if old != out and not os.path.basename(old).startswith(
                    f"{name}.{target_groups}g.{src_id}"
                ):
                    try:
                        os.remove(old)
                    except OSError:
                        pass
        return out
    except Exception:  # any surprise → fall back to the source file
        return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(_maybe_relayout(sf_dir, name))
    for col in _NANOS_TS_COLS.get(name, []):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    return df

