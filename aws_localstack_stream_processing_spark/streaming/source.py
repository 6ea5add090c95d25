"""Streaming sources.

The reference ingests via Firehose DirectPut and consumes S3-event/SQS
notifications (SURVEY §2.1 S1/S5/S6). Spark's file-stream source subsumes
the S3→SQS→Lambda hop: new files under a path become micro-batch work items,
checkpointed exactly-once — no queue, no visibility timeouts.

For the correctness harness the driver's ``events`` parquet is treated as an
append-only stream (one file = one micro-batch). The reference's batch-size
knob (app.ts:46) is the file source's ``maxFilesPerTrigger``; the replay
reader below sets it to 1.

Replay contract for staged inputs. Queries that pin behaviour under
redelivery and arrival order replay a *stage*: a directory of parquet files
written once from a source table (:func:`cached_stage`) and read one file per
micro-batch (:func:`replay_stream`).

- Arrival order is file-name order: :func:`_stamp_arrival_order` gives the
  files of every stage directory strictly increasing modification times in
  file-name order, and the file-stream source lists by modification time.
- A stage is keyed by its source's identity: stage name, the sf dir's
  basename, the source table's size and ``mtime_ns``, and the builder's
  parameters. Regenerated testdata gets a new stage, never a stale one.
- A stage is published by one ``os.rename`` of a fully built sibling
  directory under ``tempfile.gettempdir()``, so an existing stage
  directory is complete; a crash at any step leaves no stage at all.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table as an unbounded file stream (SURVEY §1.1 #1)."""
    apply_runtime_confs(spark)
    base = sf_dir.rstrip("/")
    batch = spark.read.parquet(f"{base}/events.parquet")
    # the file source requires a directory; pathGlobFilter selects the table
    # (the prefix filter of the reference's S3 notification, app.ts:437)
    df = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(base)
    )
    # ts arrives as a raw nanosecond LongType, TIMESTAMP_NTZ, or TIMESTAMP
    # depending on the writer. Watermarks require TIMESTAMP (not NTZ), so
    # normalize; the session timezone is pinned to UTC, which makes the
    # NTZ -> TIMESTAMP reinterpretation deterministic.
    ts_type = dict(batch.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def replay_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    """The replay reader: ``stage_dir``'s parquet files as a file stream
    with one file per micro-batch, in arrival (= file-name) order, read
    with the first file's schema."""
    apply_runtime_confs(spark)
    first = min(
        f
        for f in os.listdir(stage_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    schema = spark.read.parquet(os.path.join(stage_dir, first)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )


def _stamp_arrival_order(root: str) -> None:
    """In every directory under ``root``, give the files strictly
    increasing modification times (10 s apart, an hour back) in file-name
    order — the order the file-stream source then lists them in."""
    t0 = time.time() - 3600
    for d, _, files in os.walk(root):
        for k, f in enumerate(sorted(files)):
            os.utime(os.path.join(d, f), (t0 + 10 * k, t0 + 10 * k))


def cached_stage(
    name: str,
    sf_dir: str,
    table: str,
    build: Callable[[str, str], None],
    *params,
) -> str:
    """The stage directory of ``name`` over ``<sf_dir>/<table>.parquet``.

    Built on first use by ``build(out_dir, source_path)`` in a unique
    sibling directory, stamped (:func:`_stamp_arrival_order`) and published
    by one ``os.rename``; later calls return it without building. A build
    that raises leaves nothing behind. Two processes racing on one key
    both build, one rename wins, and both return the winner's stage."""
    base = sf_dir.rstrip("/")
    src = f"{base}/{table}.parquet"
    st = os.stat(src)
    key = "_".join(
        str(p)
        for p in (name, os.path.basename(base), st.st_size, st.st_mtime_ns, *params)
    )
    final = os.path.join(tempfile.gettempdir(), f"slsp_stage_{key}")
    if os.path.isdir(final):
        return final
    work = tempfile.mkdtemp(prefix=f".slsp_stage_{key}.", dir=os.path.dirname(final))
    try:
        build(work, src)
        _stamp_arrival_order(work)
        try:
            os.rename(work, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return final


def _duck_copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def staged_event_batches(sf_dir: str, n_batches: int = 3) -> str:
    """Stage the ``events`` table as ``n_batches`` single-parquet files
    (batch k = rows with ``event_id % n_batches = k``), replayed as a
    DETERMINISTIC micro-batch sequence by :func:`replay_stream`.

    This is the harness for exact late-data semantics: because batch
    membership and arrival order are pure functions of ``event_id``, the
    watermark trajectory — and therefore the exact set of dropped late
    rows — is deterministic and SQL-expressible (see
    ``stream_watermark_late_drop``)."""

    def build(out: str, src: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        ids = t["event_id"].to_numpy()
        for k in range(n_batches):
            mask = pa.array(ids % n_batches == k)
            pq.write_table(t.filter(mask), f"{out}/b{k}.parquet")

    return cached_stage("late", sf_dir, "events", build, n_batches)


def staged_redelivery_batches(sf_dir: str, n_batches: int = 6) -> str:
    """Stage ``events`` as ``n_batches`` files (batch k =
    ``event_id % n_batches = k``) where the LAST file additionally
    redelivers batch 0's ``event_id % 5 = 0`` slice — an at-least-once
    delivery whose duplicate copies arrive many batches (and several
    watermark advances) after their originals. Harness for the
    TTL-bounded dedup boundary (``stream_dedup_ttl_boundary``)."""

    def build(out: str, src: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        ids = t["event_id"].to_numpy()
        for k in range(n_batches):
            mask = ids % n_batches == k
            if k == n_batches - 1:
                mask = mask | ((ids % n_batches == 0) & (ids % 5 == 0))
            pq.write_table(t.filter(pa.array(mask)), f"{out}/b{k}.parquet")

    return cached_stage("redeliv", sf_dir, "events", build, n_batches)


def staged_triple_sides(sf_dir: str) -> tuple[str, str]:
    """Stage two TIME-SLICED streams for the triple-stateful chain
    (``stream_triple_stateful_chain``): batch k covers the k-th 5-day
    slice of the month (``least((day(ts)-1)//5, 5)``), so the watermark
    advances PROGRESSIVELY — a surviving duplicate would corrupt a
    still-open window, which the id-mod batching of the other replays
    cannot force.

    LEFT  = events per slice, where batch k (k>=1) additionally
            REDELIVERS the previous slice's ``event_id % 5 = 0`` rows —
            one batch late, well inside the dedup TTL, so the copies are
            dropped by dedup STATE (the lagged late filter cannot catch
            them: their ts exceeds it by construction).
    RIGHT = one ack per event at ``ts + 30min`` arriving in its event's
            slice, except the ``event_id % 7 = 0`` acks, delayed two
            batches (capped at the last file) — exercising the join's
            late-input filter and buffer eviction mid-replay.

    Both sides have exactly 6 files (lockstep triggers)."""

    def build(out: str, src: str) -> None:
        import duckdb

        os.makedirs(f"{out}/left")
        os.makedirs(f"{out}/right")
        con = duckdb.connect()
        rel = f"read_parquet('{src}')"
        sl = "least((day(ts) - 1) // 5, 5)"
        br = f"CASE WHEN event_id % 7 = 0 THEN least({sl} + 2, 5) ELSE {sl} END"
        for k in range(6):
            lw = f"{sl} = {k}"
            if k >= 1:
                lw = f"({lw}) OR ({sl} = {k - 1} AND event_id % 5 = 0)"
            _duck_copy(
                con,
                f"SELECT event_id, ts, event_type, value FROM {rel} "
                f"WHERE {lw} ORDER BY event_id",
                f"{out}/left/f{k}.parquet",
            )
            _duck_copy(
                con,
                f"SELECT event_id, ts + INTERVAL 30 MINUTE AS rts FROM {rel} "
                f"WHERE {br} = {k} ORDER BY event_id",
                f"{out}/right/f{k}.parquet",
            )
        con.close()

    root = cached_stage("triple", sf_dir, "events", build)
    return f"{root}/left", f"{root}/right"


def staged_join_sides(sf_dir: str) -> tuple[str, str]:
    """Stage two correlated streams for the stream-stream join boundary
    (``stream_join_state_boundary``): LEFT = events in 3 data files
    (batch = ``event_id % 3``; file 3 empty so both sources advance in
    lockstep), RIGHT = one ack per event at ``ts + 30min``, arriving in
    its event's batch — except the ``event_id % 5 = 0`` slice, delayed to
    the final file.

    4 files per side (was 6 until r9): each micro-batch pays fixed
    source + state-store commit costs, and the boundary semantics only
    need (a) batches before the watermark exists, (b) batches under a
    live watermark, and (c) a delayed slice arriving ≥2 batches after
    its events — all preserved with the delayed acks collapsed into one
    final file (measured at sf0.01: 1330 acks late-filter-dropped, 4
    delayed pairs surviving the boundary — the same deciding branches
    as the 6-file replay at two-thirds the replay cost)."""

    def build(out: str, src: str) -> None:
        import duckdb

        os.makedirs(f"{out}/left")
        os.makedirs(f"{out}/right")
        con = duckdb.connect()
        rel = f"read_parquet('{src}')"
        for k in range(4):
            lw = f"event_id % 3 = {k}" if k < 3 else "FALSE"
            _duck_copy(
                con,
                f"SELECT event_id, ts, event_type FROM {rel} WHERE {lw} "
                f"ORDER BY event_id",
                f"{out}/left/f{k}.parquet",
            )
            rw = (
                f"event_id % 3 = {k} AND event_id % 5 <> 0"
                if k < 3
                else "event_id % 5 = 0"
            )
            _duck_copy(
                con,
                f"SELECT event_id, ts + INTERVAL 30 MINUTE AS rts FROM {rel} "
                f"WHERE {rw} ORDER BY event_id",
                f"{out}/right/f{k}.parquet",
            )
        con.close()

    root = cached_stage("join4", sf_dir, "events", build)
    return f"{root}/left", f"{root}/right"


def _cdc_select(src: str) -> str:
    """The CDC record projection ``(user_id BIGINT, attr, ts_s BIGINT,
    event_id)`` of the SCD2 audit cohort (``user_id % 20 = 0``)."""
    return (
        "SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS attr, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, "
        "CAST(event_id AS BIGINT) AS event_id "
        f"FROM read_parquet('{src}') WHERE user_id % 20 = 0"
    )


def staged_cdc_slices(sf_dir: str) -> str:
    """Stage the SCD2 audit cohort's changelog (``user_id % 20 = 0``, the
    same cohort as ``lake_scd2_build``) as 6 TIME-SLICED parquet files for
    the streaming CDC→SCD2 merge (``stream_cdc_scd2``): batch k covers the
    k-th 5-day slice of the month, so every NEW change row arrives in
    per-key timestamp order — the delivery contract a binlog-tailing CDC
    source (Debezium/DMS per-key ordering; the reference's DynamoDB-stream
    hop) actually provides, and the contract the incremental merge's
    changes-only history rebuild is exact under.

    Batch k ≥ 1 additionally REDELIVERS the previous slice's
    ``event_id % 5 = 0`` rows — exact at-least-once duplicates, a mix of
    rows that became history versions and rows the run-collapse dropped —
    so every merge batch must absorb duplicates of BOTH kinds.

    Columns are pre-projected to the CDC record shape
    ``(user_id BIGINT, attr, ts_s BIGINT, event_id)``: epoch seconds are
    computed at stage time by the same second-truncation both oracle
    dialects use, keeping the stream free of timestamp-type normalization."""

    def build(out: str, src: str) -> None:
        import duckdb

        con = duckdb.connect()
        sl = "least((day(ts) - 1) // 5, 5)"
        for k in range(6):
            where = f"{sl} = {k}"
            if k >= 1:
                where = f"({where}) OR ({sl} = {k - 1} AND event_id % 5 = 0)"
            _duck_copy(
                con,
                f"{_cdc_select(src)} AND ({where}) ORDER BY event_id",
                f"{out}/f{k}.parquet",
            )
        con.close()

    return cached_stage("cdc", sf_dir, "events", build)


def staged_cdc_slices_ooo(sf_dir: str) -> str:
    """Stage the ``staged_cdc_slices`` changelog with the binlog promise
    deliberately BROKEN (``stream_cdc_scd2_ooo``): records with
    ``event_id % 17 = 3`` arriving in the first five time slices are
    withheld from their home slice and delivered together as a seventh
    "late replay" batch ``f6`` — the real-world failure a re-sharded
    binlog tail or a mis-merged backfill produces. Slices 0-5 stay
    per-key in-order (no redelivery mixing here; redelivery absorption
    has its own staging); f6 is entirely out of order."""

    def build(out: str, src: str) -> None:
        import duckdb

        con = duckdb.connect()
        sl = "least((day(ts) - 1) // 5, 5)"
        delayed = f"(event_id % 17 = 3 AND {sl} <= 4)"
        proj = _cdc_select(src)
        for k in range(6):
            _duck_copy(
                con,
                f"{proj} AND {sl} = {k} AND NOT {delayed} ORDER BY event_id",
                f"{out}/f{k}.parquet",
            )
        _duck_copy(
            con, f"{proj} AND {delayed} ORDER BY event_id", f"{out}/f6.parquet"
        )
        con.close()

    return cached_stage("cdc_ooo", sf_dir, "events", build)
