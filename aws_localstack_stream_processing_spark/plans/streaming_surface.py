"""Streaming query surface — each entry runs a real Structured Streaming
query (availableNow trigger → memory sink) and returns the result table.

Because the test stream is bounded, the streaming results are deterministic
and equal their batch analogues, so these get full DuckDB oracles — the
driver verifies that the *streaming* engine path produces the same answers
as the relational semantics (T1/T2/T5/T6 of SURVEY §2.6).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.dlq import with_validity
from ..streaming.keyring import lru_keyring_assign
from ..streaming.resilience import run_bounded
from ..streaming.source import (
    cached_stage,
    events_stream,
    replay_stream,
    staged_cdc_slices,
    staged_cdc_slices_ooo,
    staged_event_batches,
    staged_join_sides,
    staged_redelivery_batches,
    staged_triple_sides,
)
from .dialect import inline_values, tbl, ts_str, ts_str_us
from .reference_ops import (
    _alarm_sql,
    _ingest_sql,
    _minute_sum_sql,
)
from .registry import query


def _to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run a bounded stream to completion into a memory sink.

    Stateful streaming pays fixed per-state-partition costs every
    micro-batch (checkpoint files, store open/commit), so the harness runs
    with a small state partition count — at a real deployment's volume the
    same queries run with the session default (state scale-out), this knob
    only trims fixed overhead for the bounded verification streams."""
    names: list[str] = []

    def _start(_checkpoint):
        # fresh memory-sink table per attempt: a spawn-flake retry
        # (resilience.start_and_await) must not collide with the
        # dead attempt's registered sink name; a memory sink keeps no
        # checkpoint, so run_bounded's directory goes unused
        names.append(f"slsp_mem_{uuid.uuid4().hex[:12]}")
        return (
            df.writeStream.format("memory")
            .queryName(names[-1])
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )

    # 4 (r8, was 8): state-store instances per micro-batch = shuffle
    # partitions × stateful operators; at harness volume the per-store
    # open/commit fixed cost dominates data parallelism (A/B at sf0.1:
    # join-boundary 8→4 parts ≈ −1 s, 2 parts is WORSE — data plane
    # starves). Results are partition-invariant (oracle-checked).
    run_bounded(df.sparkSession, _start, shuffle_partitions=4)
    return df.sparkSession.table(names[-1])


@query("stream_minute_sum", oracle=_minute_sum_sql("duck"), tags=("streaming", "agg"))
def stream_minute_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a real streaming query: tumbling 1-minute Sum metrics computed
    by Structured Streaming (complete mode) — must equal the batch oracle."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute_ts"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("minute_ts", "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _to_memory(agg, "complete")


def _stream_validity_oracle(d: str) -> str:
    # CASE, not AND: DuckDB does not short-circuit AND, so the extract
    # can hard-error on a malformed payload (see reference_ops._validity_sql)
    valid = (
        "(CASE WHEN json_valid(props_c) "
        "THEN json_extract_string(props_c, '$.k') END) IS NOT NULL"
    )
    return f"""
WITH base AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0 THEN substr(props, 1, 3) ELSE props END AS props_c
  FROM {tbl('events', d)}
)
SELECT CASE WHEN {valid} THEN 'Ok' ELSE 'ProcessingFailed' END AS result,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM base GROUP BY 1
"""


@query("stream_validity_split", oracle=_stream_validity_oracle("duck"), tags=("streaming", "dlq"))
def stream_validity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F3 streaming: per-record validity gate over the stream, Ok vs
    ProcessingFailed counts (complete mode)."""
    ev = events_stream(spark, sf_dir).withColumn(
        "props_c",
        F.when(F.col("event_id") % 97 == 0, F.substring("props", 1, 3)).otherwise(
            F.col("props")
        ),
    )
    marked = with_validity(ev, "props_c")
    agg = marked.groupBy("result").agg(F.count("*").alias("n_records"))
    return _to_memory(agg, "complete")


def _stream_dedup_oracle(d: str) -> str:
    canon = "concat_ws('|', CAST(event_id AS VARCHAR), event_type, CAST(value AS VARCHAR))"
    return f"""
SELECT event_type, CAST(COUNT(DISTINCT sha256({canon})) AS BIGINT) AS n_signed
FROM (
  SELECT * FROM {tbl('events', d)}
  UNION ALL
  SELECT * FROM {tbl('events', d)} WHERE event_id % 5 = 0
) base
GROUP BY event_type
"""


@query("stream_dedup_signatures", oracle=_stream_dedup_oracle("duck"), tags=("streaming", "dedup"))
def stream_dedup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/T2/T5 streaming exactly-once: at-least-once delivery (20%
    re-delivered) collapsed by watermarked streaming dropDuplicates on the
    content hash; the deduped stream lands in the sink and is counted."""
    base = events_stream(spark, sf_dir)
    dup = events_stream(spark, sf_dir).filter(F.col("event_id") % 5 == 0)
    ev = base.unionByName(dup)
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
    )
    deduped = (
        ev.withColumn("tx_hash", F.sha2(canon, 256))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["tx_hash"])
    )
    sunk = _to_memory(deduped.select("event_type", "tx_hash"), "append")
    return sunk.groupBy("event_type").agg(F.count("*").alias("n_signed"))


def _sliding_oracle(d: str) -> str:
    grid = "CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)"
    return f"""
WITH expanded AS (
  SELECT event_type,
         unnest([to_timestamp({grid}), to_timestamp({grid} - 300)]) AS wstart
  FROM {tbl('events', d)}
)
SELECT {ts_str('wstart', d)} AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM expanded GROUP BY 1, 2
"""


@query("stream_sliding_window", oracle=_sliding_oracle("duck"), tags=("streaming", "window"))
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 extension: sliding windows (10 min, slide 5 min) over event time —
    each event contributes to exactly two windows; complete-mode streaming
    agg equals the epoch-grid expansion oracle."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )
    return _to_memory(agg, "complete")


def _session_oracle(d: str) -> str:
    order = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
WITH seq AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER ({order}) IS NULL
                   OR ts - LAG(ts) OVER ({order}) >= INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS new_sess
  FROM {tbl('events', d)}
), sess AS (
  SELECT user_id, event_id, ts,
         SUM(new_sess) OVER ({order}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq
)
SELECT user_id, {ts_str('MIN(ts)', d)} AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id
"""


@query("stream_session_window", oracle=_session_oracle("duck"), tags=("streaming", "window", "sessionization"))
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 extension: native streaming session windows (1 h gap) per user.
    Session semantics: a gap ≥ 1 h starts a new session (event merges while
    ts < previous window end) — the oracle replicates with lag-gap logic."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "1 hour"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    return _to_memory(agg, "complete")


_KEYRING_RINGS = 4


def _sharded_keyring_oracle(d: str) -> str:
    """Pure-SQL model of the G-ring LRU rotation: records route to ring
    ``event_id % G``; each ring owns keys ``key_id % G`` and, seeded at
    distinct logical timestamps, LRU selection round-robins its own keys in
    sorted order — so ring-local batch b takes the key with rank
    ``b % ring_size``."""
    g = _KEYRING_RINGS
    return f"""
WITH numbered AS (
  SELECT event_id % {g} AS ring_id,
         ROW_NUMBER() OVER (PARTITION BY event_id % {g} ORDER BY event_id) - 1 AS rn
  FROM {tbl('events', d)}
), batches AS (
  SELECT ring_id, rn // 100 AS batch_id, CAST(COUNT(*) AS BIGINT) AS n_records
  FROM numbered GROUP BY 1, 2
), keys AS (
  SELECT s_suppkey AS key_id, s_suppkey % {g} AS ring_id,
         ROW_NUMBER() OVER (PARTITION BY s_suppkey % {g} ORDER BY s_suppkey) - 1 AS krank,
         COUNT(*) OVER (PARTITION BY s_suppkey % {g}) AS ring_size
  FROM {tbl('supplier', d)}
)
SELECT b.ring_id, b.batch_id, k.key_id, b.n_records
FROM batches b
JOIN keys k ON k.ring_id = b.ring_id AND k.krank = b.batch_id % k.ring_size
"""


@query("stream_lru_keyring", oracle=_sharded_keyring_oracle("duck"), tags=("streaming", "stateful"))
def stream_lru_keyring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/T7: the stateful LRU key ring as a real applyInPandasWithState
    streaming operator, sharded over G independent rings (records route by
    ``event_id % G``, keys partition by ``key_id % G``) — assignment stays
    serialized within a ring (reference keyring-table semantics,
    signer/index.js:151-214) while throughput scales with G. The oracle
    models the whole sharded rotation in SQL."""
    from ..catalog import load_table

    # driver-side collect is BOUNDED by the key-ring size, not the data:
    # the reference's ring is ~100 keys (seed-keys.ts seeds a fixed pool),
    # and the ring must be broadcast-known to every stateful shard anyway —
    # this is dimension collection, not a data-plane collect
    key_ids = [
        r.s_suppkey for r in load_table(spark, sf_dir, "supplier").select("s_suppkey").collect()
    ]
    ev = events_stream(spark, sf_dir)
    assigned = lru_keyring_assign(
        ev, key_ids, batch_size=100, n_rings=_KEYRING_RINGS
    )
    return _to_memory(assigned, "append")


@query("stream_alarm_threshold", oracle=_alarm_sql("duck"), tags=("streaming", "agg", "alarm"))
def stream_alarm_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 streaming: the hourly counts aggregate inside Structured Streaming
    (complete mode); the k-consecutive-breach detector (window-over-window,
    not incrementally expressible) runs as a batch query over the streamed
    sink — the CloudWatch alarm split (metric pipeline streams, alarm
    evaluation reads the metric store; app.ts:547-588)."""
    from .reference_ops import _ALARM_THRESHOLD

    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    sunk = _to_memory(agg, "complete")
    w = Window.partitionBy("event_type").orderBy("h")
    seq = sunk.withColumn("n_prev1", F.lag("n", 1).over(w)).withColumn(
        "n_prev2", F.lag("n", 2).over(w)
    )
    thr = _ALARM_THRESHOLD
    return seq.filter(
        (F.col("n") > thr) & (F.col("n_prev1") > thr) & (F.col("n_prev2") > thr)
    ).select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "stream_ingest_partition_assign",
    oracle=_ingest_sql("duck"),
    tags=("streaming", "ingest"),
)
def stream_ingest_partition_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 as a real streaming query: the full decode→parse→key→djb2→
    partition pipeline (P1-P6/U1) running inside Structured Streaming, with
    per-partition counts equal to the batch oracle — the streamed and
    batch ingest paths are the same logical plan over different sources."""
    from ..functions import hashing

    ev = events_stream(spark, sf_dir)
    payload = F.expr(
        "CASE WHEN event_id % 10 = 7 "
        "THEN concat('{\"event_type\":\"', event_type, '\"}') "
        "ELSE concat('{\"id\":', CAST(event_id AS STRING), "
        "',\"event_type\":\"', event_type, '\"}') END"
    )
    raw = ev.select(
        "event_id", F.base64(payload.cast("binary")).alias("data")
    )
    decoded = raw.select(
        "event_id", F.unbase64("data").cast("string").alias("payload")
    )
    keyed = decoded.select(
        F.coalesce(
            F.get_json_object("payload", "$.id"), F.col("payload")
        ).alias("rec_key")
    )
    assigned = keyed.select(
        "rec_key",
        F.concat(
            F.lit("partition_"),
            (F.expr(hashing.djb2_js("rec_key", "spark")) % 5).cast("string"),
        ).alias("partition"),
    )
    # COUNT DISTINCT is not incrementally computable; stream the
    # (partition, rec_key) pre-aggregate and fold it in the sink — the
    # standard streaming two-level distinct
    pre = assigned.groupBy("partition", "rec_key").agg(
        F.count("*").alias("cnt")
    )
    sunk = _to_memory(pre, "complete")
    return sunk.groupBy("partition").agg(
        F.sum("cnt").cast("bigint").alias("n_records"),
        F.count("*").cast("bigint").alias("n_keys"),
    )


def _ss_join_sql(d: str) -> str:
    ival = "INTERVAL 10 MINUTES" if d == "spark" else "INTERVAL 10 MINUTE"
    return f"""
SELECT c.user_id, {ts_str_us('c.ts', d)} AS click_ts,
       {ts_str_us('p.ts', d)} AS purchase_ts
FROM {tbl('events', d)} c JOIN {tbl('events', d)} p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + {ival}
"""


@query("stream_stream_join", oracle=_ss_join_sql("duck"), tags=("streaming", "join"))
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (SURVEY §2.6 family): click events joined to
    purchase events of the same user within a 10-minute window, both sides
    watermarked 30 minutes so the join state is bounded — Spark buffers each
    side only until the watermark passes the time-range condition, the
    mechanism that keeps a 100 TB/day dual-stream join's state finite. The
    bounded test stream makes the append-mode output deterministic and equal
    to the batch self-join oracle."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter("event_type = 'click'")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 10 minutes"
        ),
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
    )
    return _to_memory(out, "append")


def _enrich_sql(d: str) -> str:
    return f"""
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM {tbl('events', d)} e JOIN {tbl('customer', d)} c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("stream_static_enrich", oracle=_enrich_sql("duck"), tags=("streaming", "join"))
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joins the static
    customer dimension every micro-batch (the dimension is re-resolvable per
    batch, so slowly-changing dims pick up updates without restarting the
    query), then aggregates per market segment. The static side never
    shuffles the stream — at 100 TB/day the fact stream flows map-side
    through the broadcast hash join into the windowless running aggregate."""
    from .dialect import views as _views

    ev = events_stream(spark, sf_dir)
    cust = _views(spark, sf_dir, "customer")["customer"]
    enriched = ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )
    return _to_memory(agg, "complete")


def _stream_mv_sql(d: str) -> str:
    return f"""
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM {tbl('events', d)}
GROUP BY event_type
"""


@query("stream_mv_refresh", oracle=_stream_mv_sql("duck"), tags=("streaming", "mv"))
def stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MV maintenance: the event stream is split into
    4 micro-batches (maxFilesPerTrigger=1 over a 4-file copy), each batch
    lands its per-group partial aggregate under an idempotent
    ``batch_id=`` subdirectory, and the MV read folds the partials — the
    streaming form of mv_incremental_refresh, replay-safe because a
    redelivered batch overwrites its own partial rather than re-merging.
    Must equal the batch aggregate over the whole stream."""
    import tempfile

    from ..session import apply_runtime_confs
    from ..streaming.mv import read_mv, run_mv_stream

    apply_runtime_confs(spark)
    work = tempfile.mkdtemp(prefix="slsp_mv_")
    src_dir = f"{work}/src"
    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    stream = replay_stream(spark, src_dir)
    if dict(ev.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    run_mv_stream(spark, stream, f"{work}/mv")
    return read_mv(spark, f"{work}/mv")


@query(
    "stream_dedup_within_watermark",
    oracle=_stream_dedup_oracle("duck"),
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+ operator, distinct from
    plain watermarked dropDuplicates): state for a key is evictable once the
    watermark passes its FIRST occurrence plus the delay — the right dedup
    when duplicates cluster in time but event-time values differ slightly
    across retries. On the bounded test stream it must produce the same
    distinct counts as the exactly-once oracle."""
    ev = events_stream(spark, sf_dir)
    dup = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
    )
    sigs = (
        dup.withColumn("sig", F.sha2(canon, 256))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["sig"])
    )
    agg = sigs.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_signed"))
    return _to_memory(agg, "complete")


def _topk_leaderboard_oracle(d: str) -> str:
    return f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE) AS sum_value
FROM {tbl('events', d)}
GROUP BY event_type
ORDER BY n_events DESC, event_type
LIMIT 3
"""


@query(
    "stream_topk_leaderboard",
    oracle=_topk_leaderboard_oracle("duck"),
    tags=("streaming", "agg", "sort"),
)
def stream_topk_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard: complete-output-mode aggregation with
    ORDER BY + LIMIT — the live 'top event types' dashboard query.
    Sorting a streaming result is only legal in complete mode (the full
    result table is re-emitted per trigger), which is exactly the right
    tool when k is small and the aggregate state (one row per group) is
    bounded; on the bounded verification stream the final trigger must
    equal the batch oracle. Decimal-summed values keep the totals
    order-independent."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy(F.desc("n_events"), "event_type")
        .limit(3)
    )
    return _to_memory(agg, "complete")


def _ss_left_join_sql(d: str) -> str:
    ival = "INTERVAL 10 MINUTES" if d == "spark" else "INTERVAL 10 MINUTE"
    wm30 = "INTERVAL 30 MINUTES" if d == "spark" else "INTERVAL 30 MINUTE"
    return f"""
WITH c AS (
  SELECT user_id, ts FROM {tbl('events', d)} WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts FROM {tbl('events', d)} WHERE event_type = 'purchase'
),
wm AS (
  SELECT CASE WHEN cm.m < pm.m THEN cm.m ELSE pm.m END - {wm30} AS w
  FROM (SELECT MAX(ts) AS m FROM c) cm
  CROSS JOIN (SELECT MAX(ts) AS m FROM p) pm
),
matched AS (
  SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + {ival}
),
unmatched AS (
  SELECT c.user_id, c.ts AS c_ts, CAST(NULL AS TIMESTAMP) AS p_ts
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + {ival}
  CROSS JOIN wm
  WHERE p.user_id IS NULL AND c.ts + {ival} < wm.w
)
SELECT user_id, {ts_str_us('c_ts', d)} AS click_ts,
       {ts_str_us('p_ts', d)} AS purchase_ts
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched) u
"""


@query(
    "stream_left_outer_join",
    oracle=_ss_left_join_sql("duck"),
    tags=("streaming", "join"),
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the watermark-gated null-emission
    half of SURVEY §2.6's join family: every click joins purchases of
    the same user within 10 minutes, and clicks that never match emit a
    null purchase row once the global watermark (min of both sides'
    max-event-time minus the 30-minute delay) passes the end of their
    join window, proving no future match can arrive. That gate is what
    bounds the outer-join state at 100 TB/day — unmatched rows leave
    state the moment the watermark clears them, instead of accumulating
    forever. The bounded test stream makes the emission set
    deterministic: the batch oracle reproduces the exact watermark
    arithmetic (unmatched clicks appear iff c_ts + 10min < W), so the
    driver verifies the engine's actual eviction semantics, not just the
    happy inner path."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter("event_type = 'click'")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 10 minutes"
        ),
        "leftOuter",
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
    )
    return _to_memory(out, "append")


def _firehose_sql(d: str) -> str:
    from ..functions import hashing
    from .dialect import s

    key = s("event_id", d)
    part = f"concat('partition_', {s(f'{hashing.djb2_js(key, d)} % 5', d)})"
    return f"""
WITH assigned AS (
  SELECT {part} AS partition, event_id,
         CAST(value AS DECIMAL(28, 6)) AS v
  FROM {tbl('events', d)}
)
SELECT partition,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY partition
"""


@query(
    "stream_firehose_directput",
    oracle=_firehose_sql("duck"),
    tags=("streaming", "source", "connector"),
)
def stream_firehose_directput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 through a first-class pluggable connector: DirectPut record
    envelopes arrive via the Spark 4 Python DataSource
    (:mod:`..sources.firehose_datasource`), are decoded with the same
    P1/P2/P3/P6/U1 pipeline the partitioner Lambda runs
    (partitioner/index.js:40-65), and aggregate per logical partition —
    counts, distinct keys (two-level streaming distinct), and an exact
    decimal sum of the decoded payload values, all equal to the
    relational oracle over the put log's backing table. This pins the
    whole connector path: envelope encode → offset-planned parallel read
    → base64/JSON decode → partition routing."""
    from ..functions import hashing
    from ..sources.firehose_datasource import register_firehose_source

    register_firehose_source(spark)
    raw = (
        spark.readStream.format("firehose_sim")
        .option("path", f"{sf_dir.rstrip('/')}/events.parquet")
        .option("numPartitions", "8")
        .load()
    )
    keyed = raw.select(
        F.unbase64("data").cast("string").alias("payload")
    ).select(
        F.get_json_object("payload", "$.id").alias("rec_key"),
        # via DOUBLE first so both engines perform the same double→DECIMAL
        # quantization (the JSON text round-trips exactly to the source
        # double; a direct string→DECIMAL cast could round differently for
        # values with >6 fractional digits)
        F.get_json_object("payload", "$.value")
        .cast("double")
        .cast("decimal(28,6)")
        .alias("v"),
    )
    assigned = keyed.withColumn(
        "partition",
        F.concat(
            F.lit("partition_"),
            (F.expr(hashing.djb2_js("rec_key", "spark")) % 5).cast("string"),
        ),
    )
    pre = assigned.groupBy("partition", "rec_key").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("v")
    )
    sunk = _to_memory(pre, "complete")
    return sunk.groupBy("partition").agg(
        F.sum("cnt").cast("bigint").alias("n_records"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("v").cast("double").alias("sum_value"),
    )


@query("stream_manifest_lake", oracle=_stream_mv_sql("duck"), tags=("streaming", "source", "connector", "lake"), staged_cache="inputs")
def stream_manifest_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 at scale, end to end: the event stream is ingested in 4
    micro-batches whose files are recorded in the lake's append-only
    manifest (``run_ingest_stream_manifest`` — the S3→SQS notification
    hop, app.ts:434-438), then a SECOND streaming query discovers and
    reads those files purely from the manifest (``format("manifest_lake")``
    — zero directory listing, offsets over manifest append order) and
    aggregates; the result must equal the batch oracle over the source
    table. This pins the whole manifest loop: commit-keyed publication,
    notification-log planning, offset-ranged parallel read.

    The ingest stage goes through the stage cache like the other staged
    harness inputs (``streaming.source.cached_stage``, keyed by the source
    file's size+mtime_ns): the publish protocol is exercised on the first
    build per content state (and every run of
    tests/test_manifest_source.py and the e2e test), while repeat trials
    time what this query prices at scale — the manifest-planned READ
    path."""
    from ..session import apply_runtime_confs
    from ..sources.manifest_datasource import register_manifest_source
    from ..streaming.jobs import run_ingest_stream_manifest

    def build(out: str, src: str) -> None:
        spark.read.parquet(src).repartition(4).write.parquet(f"{out}/src")
        stream = replay_stream(spark, f"{out}/src")
        run_ingest_stream_manifest(spark, stream, f"{out}/lake", f"{out}/ckpt")

    apply_runtime_confs(spark)
    lake = f"{cached_stage('mlake', sf_dir, 'events', build)}/lake"
    register_manifest_source(spark)
    lake_rows = (
        spark.readStream.format("manifest_lake")
        .option("path", lake)
        .option("numPartitions", "8")
        .load()
    )
    agg = lake_rows.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )
    return _to_memory(agg, "complete")


def _alarm_actions_sql(d: str) -> str:
    from .reference_ops import _ALARM_THRESHOLD

    t = _ALARM_THRESHOLD
    lag = "LAG(n, {k}) OVER (PARTITION BY event_type ORDER BY h)"
    return f"""
WITH per_hour AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM {tbl('events', d)}
  GROUP BY 1, 2
), st AS (
  SELECT event_type, h,
         CASE WHEN n > {t} AND {lag.format(k=1)} > {t} AND {lag.format(k=2)} > {t}
              THEN 'ALARM' ELSE 'OK' END AS state
  FROM per_hour
), tr AS (
  SELECT event_type, h, state,
         LAG(state) OVER (PARTITION BY event_type ORDER BY h) AS prev_state
  FROM st
)
SELECT event_type, {ts_str('h', d)} AS hour, state AS action
FROM tr WHERE state <> COALESCE(prev_state, 'OK')
"""


@query(
    "stream_alarm_actions",
    oracle=_alarm_actions_sql("duck"),
    tags=("streaming", "alarm", "sink"),
)
def stream_alarm_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alarm→notification half of A3 (VERDICT r5 #6): the hourly
    metric stream feeds ``AlarmActionSink`` via foreachBatch, which
    evaluates the CloudWatch 3-consecutive-periods rule, upserts the
    state table through the ``kv_upsert`` commit protocol, and appends
    only state CHANGES to the action log — the engine-side analogue of
    the reference's alarm→SNS wiring (app.ts:547-601), idempotent under
    replay (a re-run batch diffs to empty; re-emitted actions land on
    their (key, period) slot). The returned transition view — OK→ALARM
    raises, ALARM→OK resolves — must equal the pure-SQL oracle."""
    import tempfile

    from ..streaming.alarms import AlarmActionSink, alarm_actions_view
    from .reference_ops import _ALARM_THRESHOLD

    ev = events_stream(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    store = tempfile.mkdtemp(prefix="slsp_alarm_store_")
    sink = AlarmActionSink(store, _ALARM_THRESHOLD)
    run_bounded(
        spark,
        lambda ckpt: hourly.writeStream.foreachBatch(sink.process_batch)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        shuffle_partitions=8,
    )
    return alarm_actions_view(spark, store)


def _kv_dedup_sql(d: str) -> str:
    from ..functions import hashing
    from .dialect import s

    canon = (
        f"concat_ws('|', {s('event_id', d)}, event_type, "
        f"{s('value', d)}, {s('user_id', d)})"
    )
    return f"""
WITH delivered AS (
  SELECT * FROM {tbl('events', d)}
  UNION ALL
  SELECT * FROM {tbl('events', d)} WHERE event_id % 5 = 0
)
SELECT event_type,
       CAST(COUNT(DISTINCT {hashing.sha256_hex(canon, d)}) AS BIGINT)
         AS n_signed
FROM delivered
GROUP BY event_type
"""


@query(
    "stream_kv_upsert_sink",
    oracle=_kv_dedup_sql("duck"),
    tags=("streaming", "sink", "connector"),
    staged_cache="inputs",
)
def stream_kv_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/T2 through the connector write loop: DirectPut records with 20%
    simulated redelivery (at-least-once), each keyed by its content hash
    (signer/index.js:133-137), written through the ``kv_upsert``
    DataSource writer's staged-file commit protocol, then read back with
    last-writer-wins. The store must hold exactly one row per distinct
    content hash — the DynamoDB-put convergence contract
    (signer/index.js:229-242) — so per-type counts equal the relational
    oracle's COUNT(DISTINCT sha256(canonical)).

    The decode stage is content-cached like the manifest-lake ingest
    (r10, VERDICT #8; keyed by the source file's size+mtime_ns): the
    firehose_sim envelope decode — a Python DataSource pass whose ~2.6 s
    fixed worker/Arrow cost dominated this ext entry — runs once per
    content state through the connector's BATCH path (the STREAMING
    edition of the same connector is exactly what
    ``stream_firehose_directput`` prices), and repeat trials time what
    this query exists to verify: the kv_upsert writer's commit protocol
    and read-back, each run against a FRESH store and checkpoint. The
    redelivery duplication (id % 5 slice delivered twice via
    array_repeat+explode on one source pass, r8) is baked into the
    staged records."""
    import tempfile

    from ..sources.firehose_datasource import register_firehose_source
    from ..sources.kv_sink_datasource import read_kv_table, register_kv_sink

    register_kv_sink(spark)

    def build(out: str, events_path: str) -> None:
        register_firehose_source(spark)
        src = (
            spark.read.format("firehose_sim")
            .option("path", events_path)
            .option("numPartitions", "8")
            .load()
        )
        dup = F.when(
            F.get_json_object(F.unbase64("data").cast("string"), "$.id")
            .cast("bigint") % 5 == 0,
            F.lit(2),
        ).otherwise(F.lit(1))
        redelivered = src.select(
            F.explode(
                F.array_repeat(F.struct("recordId", "data", "arrival"), dup)
            ).alias("r")
        ).select("r.recordId", "r.data", "r.arrival")
        decoded = redelivered.select(
            F.unbase64("data").cast("string").alias("payload")
        ).select(
            F.get_json_object("payload", "$.id").cast("bigint").alias("event_id"),
            F.get_json_object("payload", "$.event_type").alias("event_type"),
            F.get_json_object("payload", "$.value").cast("double").alias("value"),
            F.get_json_object("payload", "$.user_id").cast("bigint").alias("user_id"),
        )
        canon = F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.col("value").cast("string"),
            F.col("user_id").cast("string"),
        )
        decoded.select(
            F.sha2(canon, 256).alias("key"), "event_type"
        ).repartition(4).write.parquet(f"{out}/src")

    src_dir = f"{cached_stage('kv', sf_dir, 'events', build)}/src"
    keyed_schema = spark.read.parquet(src_dir).schema
    keyed = spark.readStream.schema(keyed_schema).parquet(src_dir)
    store = tempfile.mkdtemp(prefix="slsp_kv_store_")
    run_bounded(
        spark,
        lambda ckpt: keyed.writeStream.format("kv_upsert")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
    )
    back = read_kv_table(spark, store, "key")
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_signed")
    )


# ---------------------------------------------------------------------------
# stream_watermark_late_drop — EXACT late-data drop semantics, oracle-checked.
# ---------------------------------------------------------------------------

_LATE_BATCHES = 3
_LATE_DELAY_DAYS = 7


def _late_drop_sql(d: str) -> str:
    """Closed form of Structured Streaming's append-mode watermark
    semantics over the deterministic 3-batch replay (empirically pinned
    against Spark 4.1.2's progress/evicted counters, two arrival orders):

    - wm in effect during batch b = max(event time over batches < b) − delay
      (−inf for batch 0; a trailing no-data batch K+1 runs, so the final
      wm sees every batch);
    - window W is emitted (and its state evicted) at the end of the FIRST
      batch e(W) whose in-effect wm ≥ W.end — including that batch's own
      contributions (input merges before end-of-batch eviction);
    - rows of W arriving in batches > e(W) find no state and are dropped;
    - W never emits if even the final wm < W.end (tail windows stay in
      state when the bounded replay ends).
    """
    day_fmt = (
        "date_format(wstart, 'yyyy-MM-dd')"
        if d == "spark"
        else "strftime(wstart, '%Y-%m-%d')"
    )
    spine = ", ".join(f"({b})" for b in range(_LATE_BATCHES + 2))
    return f"""
WITH ev AS (
  SELECT event_id % {_LATE_BATCHES} AS b, ts,
         date_trunc('day', ts) AS wstart,
         date_trunc('day', ts) + INTERVAL 1 DAY AS wend
  FROM {tbl('events', d)}
),
bm AS (SELECT b, MAX(ts) AS mx FROM ev GROUP BY b),
wmd AS (
  -- wm in effect during batch b (b = 0..K+1, incl. the no-data flush)
  SELECT bb.b, MAX(bm.mx) - INTERVAL {_LATE_DELAY_DAYS} DAY AS wm
  FROM ({inline_values(spine, 'bb', 'b', d)}) bb
  LEFT JOIN bm ON bm.b < bb.b
  GROUP BY bb.b
),
ew AS (
  -- e(W): the batch whose end emits-and-evicts window W
  SELECT w.wend, MIN(wmd.b) AS eb
  FROM (SELECT DISTINCT wend FROM ev) w
  JOIN wmd ON wmd.wm >= w.wend
  GROUP BY w.wend
)
SELECT {day_fmt} AS day, CAST(COUNT(*) AS BIGINT) AS n_events
FROM ev e JOIN ew ON ew.wend = e.wend AND e.b <= ew.eb
GROUP BY {day_fmt}
ORDER BY day
"""


@query("stream_watermark_late_drop", oracle=_late_drop_sql("duck"), tags=("streaming", "watermark"), staged_cache="inputs")
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 with teeth: a REAL multi-micro-batch watermark run whose late
    DROPS are exact and oracle-checked — not a single-drain stream where
    nothing is ever late. The events table is staged as 3 files replayed
    one per trigger (batch = event_id mod 3 — deterministic arrival), a
    7-day watermark gates a 1-day tumbling count in append mode, and the
    memory-sink result must equal the closed-form oracle in
    :func:`_late_drop_sql`: every emitted window carries contributions
    from batches ≤ e(W) only; every later arrival is dropped; tail
    windows past the final watermark never emit. At scale the staging is
    the lake itself (files ARE micro-batches); state is bounded by
    delay × window-rate, the exact knob this query demonstrates."""
    stage = staged_event_batches(sf_dir, _LATE_BATCHES)
    ev = replay_stream(spark, stage).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", f"{_LATE_DELAY_DAYS} days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
        )
    )
    return _to_memory(agg, "append")


# ---------------------------------------------------------------------------
# stream_dedup_ttl_boundary — TTL-bounded dedup's exactly-once boundary.
# ---------------------------------------------------------------------------

_TTL_BATCHES = 6
_TTL_DELAY_DAYS = 3


def _dedup_ttl_sql(d: str) -> str:
    """Closed form of ``dropDuplicatesWithinWatermark`` over the
    deterministic 6-batch redelivery replay (pinned empirically against
    Spark 4.1.2 state counters, like ``_late_drop_sql``):

    - the LATE-INPUT filter in batch b uses a watermark lagging one batch
      behind eviction: max(event time over batches ≤ b−2) − delay
      (−inf for b ≤ 1) — rows older than it are dropped outright;
    - state eviction (end of batch b, wm = max over batches ≤ b−1 − delay)
      removes keys whose first-seen time + delay has passed — bounding
      state by delay × arrival rate (measured: 126 state rows vs 1000 for
      un-TTL'd dropDuplicates on the same stream);
    - a redelivered duplicate can therefore NEVER re-emit: passing the
      late filter requires first_ts + delay ≥ the filter watermark, while
      eviction requires the opposite inequality — only exact equality (a
      measure-zero event-time boundary) could admit both.

    Emitted set = first occurrences that pass the lagged filter.
    """
    spine = ", ".join(f"({b})" for b in range(_TTL_BATCHES))
    return f"""
WITH ev AS (
  SELECT event_id, event_type, ts, event_id % {_TTL_BATCHES} AS b
  FROM {tbl('events', d)}
),
bm AS (SELECT b, MAX(ts) AS mx FROM ev GROUP BY b),
wmf AS (
  SELECT bb.b, MAX(bm.mx) - INTERVAL {_TTL_DELAY_DAYS} DAY AS wm
  FROM ({inline_values(spine, 'bb', 'b', d)}) bb
  LEFT JOIN bm ON bm.b <= bb.b - 2
  GROUP BY bb.b
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_emitted
FROM ev JOIN wmf ON wmf.b = ev.b
WHERE wmf.wm IS NULL OR ev.ts >= wmf.wm
GROUP BY event_type
ORDER BY event_type
"""


@query("stream_dedup_ttl_boundary", oracle=_dedup_ttl_sql("duck"), tags=("streaming", "dedup", "watermark"), staged_cache="inputs")
def stream_dedup_ttl_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-viable exactly-once: ``dropDuplicatesWithinWatermark``
    keeps dedup state only for the watermark delay (un-TTL'd
    dropDuplicates grows state forever — the unbounded-state subtlety the
    docs warn about), and this query pins its EXACT boundary behavior
    over a deterministic 6-batch replay whose last batch redelivers
    batch 0's ``id % 5 = 0`` slice days late: originals emit, redelivered
    copies are dropped by the late filter (provably never re-emitted —
    see :func:`_dedup_ttl_sql`), and too-late non-duplicates are the
    price of the TTL. Per-type emitted counts must equal the closed-form
    oracle; verified at all three SFs."""
    stage = staged_redelivery_batches(sf_dir, _TTL_BATCHES)
    ev = replay_stream(spark, stage).withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = ev.withWatermark("ts", f"{_TTL_DELAY_DAYS} days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    emitted = _to_memory(deduped.select("event_id", "event_type"), "append")
    return emitted.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_emitted")
    )


# ---------------------------------------------------------------------------
# stream_join_state_boundary — stream-stream join buffer eviction, exact.
# ---------------------------------------------------------------------------


def _join_boundary_sql(d: str) -> str:
    """Closed form of the inner stream-stream interval join over the
    staged lockstep replay (events ⋈ delayed acks; completes the pinned
    trilogy: aggregation ``_late_drop_sql``, dedup ``_dedup_ttl_sql``,
    now the join buffer):

    - the combined watermark is the MIN over both sides' (max event time
      − delay); a side with no data yet holds it at −inf (the CASE guard
      — ``least`` alone would skip the NULL and jump ahead);
    - the late-INPUT filter during batch b uses the combined wm over
      files ≤ b−2 (the same one-batch lag as the other two operators);
    - the LEFT buffer evicts a row once the wm in effect (files ≤ b−1)
      passes ts + 2h — the upper bound the range condition implies — so
      a delayed ack joins only while its event's buffer entry survives;
      the staging guarantees acks never precede events, so only
      left-side eviction can break a pair.

    Validated id-exact against the real streaming join at all three SFs
    (at sf0.01 / sf0.1 the non-trivial boundary clauses decide real
    pairs — 4 / 35 delayed pairs survive the boundary and 1330 / 13307
    acks die at the late filter — so the model's hard branches are
    exercised; r9 shrank the replay 6 → 4 files with the deciding
    branches preserved, see ``staged_join_sides``).
    """
    spine = ", ".join(f"({b})" for b in range(4))
    guard = "CASE WHEN MAX(lm.mx) IS NULL OR MAX(rm.mx) IS NULL THEN NULL ELSE least(MAX(lm.mx), MAX(rm.mx)) END"
    return f"""
WITH ev AS (
  SELECT event_id AS id, event_type, ts, ts + INTERVAL 30 MINUTE AS rts,
         event_id % 3 AS bl,
         CASE WHEN event_id % 5 = 0 THEN 3
              ELSE event_id % 3 END AS br
  FROM {tbl('events', d)}
),
lmax AS (SELECT bl AS b, MAX(ts) AS mx FROM ev GROUP BY bl),
rmax AS (SELECT br AS b, MAX(rts) AS mx FROM ev GROUP BY br),
spine AS ({inline_values(spine, 's', 'b', d)}),
wmf AS (
  SELECT s.b, {guard} - INTERVAL 1 HOUR AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 2
  LEFT JOIN rmax rm ON rm.b <= s.b - 2
  GROUP BY s.b
),
wmd AS (
  SELECT s.b, {guard} - INTERVAL 1 HOUR AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 1
  LEFT JOIN rmax rm ON rm.b <= s.b - 1
  GROUP BY s.b
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_matched
FROM ev e
JOIN wmf fl ON fl.b = e.bl
JOIN wmf fr ON fr.b = e.br
LEFT JOIN wmd dv ON dv.b = e.br - 1
WHERE (fl.wm IS NULL OR e.ts >= fl.wm)
  AND (fr.wm IS NULL OR e.rts >= fr.wm)
  AND (e.br <= e.bl OR dv.wm IS NULL OR e.ts + INTERVAL 2 HOUR > dv.wm)
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("stream_join_state_boundary", oracle=_join_boundary_sql("duck"), tags=("streaming", "join", "watermark"), staged_cache="inputs")
def stream_join_state_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third pinned watermark operator: a REAL stream-stream interval
    join (events ⋈ acks at ts+30min, range [ts, ts+2h], 1-hour
    watermarks on both sides) over a deterministic lockstep replay whose
    ``id % 5`` ack slice arrives in the final batch, two-to-three
    watermark advances late — late enough that most of its events'
    buffer entries are already evicted. Per-type
    match counts must equal the closed-form oracle
    (:func:`_join_boundary_sql`): the missing matches are EXACTLY the
    pairs whose left buffer entry the watermark evicted, the at-least-
    once gap every streaming join ships with and almost no harness can
    measure. At scale the buffer is bounded by delay + range width per
    side — the knob this query prices exactly."""
    left_dir, right_dir = staged_join_sides(sf_dir)
    lev = (
        replay_stream(spark, left_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    rev = (
        replay_stream(spark, right_dir)
        .withColumn("rts", F.col("rts").cast("timestamp"))
        .withColumnRenamed("event_id", "rid")
        .withWatermark("rts", "1 hour")
    )
    joined = lev.join(
        rev,
        (F.col("event_id") == F.col("rid"))
        & (F.col("rts") >= F.col("ts"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    matched = _to_memory(joined.select("event_id", "event_type"), "append")
    return matched.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_matched")
    )


# ---------------------------------------------------------------------------
# stream_chained_stateful — dedup THEN windowed aggregate in ONE query.
# ---------------------------------------------------------------------------

_CHAIN_BATCHES = 6
_CHAIN_DELAY_DAYS = 3


def _chained_stateful_sql(d: str) -> str:
    """Closed form of the CHAINED stateful pipeline
    ``dropDuplicatesWithinWatermark -> tumbling-window count/sum`` over the
    deterministic 6-batch redelivery replay — the composition the r6
    trilogy pinned only operator-by-operator (VERDICT r7 #4; reference
    shape: E2 dedup feeding A1 metric windows). Spark 4.x runs multiple
    stateful operators in one query by late-filtering EVERY operator with
    the PREVIOUS microbatch's watermark (one batch behind eviction) so a
    downstream operator never sees a row its upstream already aged out:

    - dedup stage (``_dedup_ttl_sql`` semantics): survivors = first
      occurrences whose ts clears the lagged filter
      wm_f(b) = max(event time over batches <= b-2) - delay; a survivor
      passes downstream IN its arrival batch b (dedup emits immediately);
    - aggregate stage (``_late_drop_sql`` semantics): window W emits (and
      evicts) at the end of the first batch e(W) whose in-effect
      wm(b) = max(event time over batches < b) - delay is >= W.end,
      counting survivors with arrival batch <= e(W); survivors arriving
      later are dropped; tail windows past the final wm never emit.
      Admission b <= e(W) subsumes the aggregate's own lagged filter:
      wm_f(b) <= wm(b) < W.end for every batch b < e(W), and at b = e(W)
      the lagged filter trails the emitting watermark by one batch.

    The watermark schedule is driven by SOURCE event times (withWatermark
    sits upstream of dedup), so dedup-dropped rows still advance it —
    which is why bm scans ev, not the survivor set.
    """
    from .dialect import dec_sum

    day_fmt = (
        "date_format(e.wstart, 'yyyy-MM-dd')"
        if d == "spark"
        else "strftime(e.wstart, '%Y-%m-%d')"
    )
    spine = ", ".join(f"({b})" for b in range(_CHAIN_BATCHES + 2))
    return f"""
WITH ev AS (
  SELECT event_id, event_type, value, ts,
         event_id % {_CHAIN_BATCHES} AS b,
         date_trunc('day', ts) AS wstart,
         date_trunc('day', ts) + INTERVAL 1 DAY AS wend
  FROM {tbl('events', d)}
),
bm AS (SELECT b, MAX(ts) AS mx FROM ev GROUP BY b),
wmf AS (
  -- dedup late-input filter: watermark lagging one batch behind eviction
  SELECT bb.b, MAX(bm.mx) - INTERVAL {_CHAIN_DELAY_DAYS} DAY AS wm
  FROM ({inline_values(spine, 'bb', 'b', d)}) bb
  LEFT JOIN bm ON bm.b <= bb.b - 2
  GROUP BY bb.b
),
wmd AS (
  -- in-effect wm during batch b, for window emission/eviction
  SELECT bb.b, MAX(bm.mx) - INTERVAL {_CHAIN_DELAY_DAYS} DAY AS wm
  FROM ({inline_values(spine, 'bb', 'b', d)}) bb
  LEFT JOIN bm ON bm.b < bb.b
  GROUP BY bb.b
),
ded AS (
  -- dedup survivors at their arrival batch (originals always precede
  -- redeliveries here, and a redelivered copy can never re-emit: see
  -- _dedup_ttl_sql's boundary proof)
  SELECT e.* FROM ev e JOIN wmf ON wmf.b = e.b
  WHERE wmf.wm IS NULL OR e.ts >= wmf.wm
),
ew AS (
  SELECT w.wend, MIN(wmd.b) AS eb
  FROM (SELECT DISTINCT wend FROM ded) w
  JOIN wmd ON wmd.wm >= w.wend
  GROUP BY w.wend
)
SELECT {day_fmt} AS day, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dec_sum('e.value')} AS sum_value
FROM ded e JOIN ew ON ew.wend = e.wend AND e.b <= ew.eb
GROUP BY {day_fmt}, e.event_type
ORDER BY day, event_type
"""


@query(
    "stream_chained_stateful",
    oracle=_chained_stateful_sql("duck"),
    tags=("streaming", "dedup", "watermark", "agg"),
    staged_cache="inputs",
)
def stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real pipeline shape: exactly-once dedup and windowed metrics in
    ONE streaming query — two stateful operators sharing one watermark,
    Spark 4.x multi-stateful support (the r6 trilogy pinned each
    operator's boundary semantics separately; this pins the COMPOSITION,
    closed form in :func:`_chained_stateful_sql`). Over the staged
    6-batch redelivery replay: ``dropDuplicatesWithinWatermark`` removes
    the late redelivered copies with TTL-bounded state, the surviving
    first-occurrences flow straight into a 1-day tumbling count/sum in
    append mode, and the emitted windows must equal the composed oracle.
    Both operators' per-batch state curves land in the bounded-run
    record of ``streaming/metrics.py`` (pinned in
    tests/test_state_metrics.py).
    At 100 TB this is the E2->A1 production topology: one checkpoint, one
    shuffle per stateful boundary, state bounded by delay x arrival rate
    (dedup) plus delay x window-rate (agg)."""
    stage = staged_redelivery_batches(sf_dir, _CHAIN_BATCHES)
    ev = replay_stream(spark, stage).withColumn("ts", F.col("ts").cast("timestamp"))
    chained = (
        ev.withWatermark("ts", f"{_CHAIN_DELAY_DAYS} days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _to_memory(chained, "append")


# ---------------------------------------------------------------------------
# stream_chained_join_agg — interval join THEN windowed aggregate, ONE query.
# ---------------------------------------------------------------------------


def _chained_join_agg_sql(d: str) -> str:
    """Closed form of the chained ``interval join -> tumbling count``
    (the second multi-stateful composition; the first, dedup->agg, is
    ``_chained_stateful_sql``). Matched pairs follow
    :func:`_join_boundary_sql` exactly — a pair emits from the join at
    batch max(bl, br) — and the downstream 1-day window W emits at the
    first batch whose PROPAGATED ts-watermark reaches W.end, counting
    matches with arrival batch <= e(W).

    The propagated post-join watermark was pinned by a discriminating
    micro-case sweep (r8, /tmp-staged synthetic days; three candidates):
    wm_out(b) = combined wm (min of sides, lagged one batch) MINUS the
    join's 2-hour upper range bound — NOT the raw combined wm (falsified
    at offset 2.0h) and NOT min(lwm, rwm − 2h) per-side (falsified at
    offset 2.75h); positively confirmed at offsets 3.1h/3.5h. Spark must
    hold the aggregate's windows open 2 extra hours because a future
    right-side row can still join a left row up to 2 h older than the
    right watermark — the range bound rides the watermark, exactly as
    SPARK-42376's simulation computes."""
    spine8 = ", ".join(f"({b})" for b in range(6))
    guard = (
        "CASE WHEN MAX(lm.mx) IS NULL OR MAX(rm.mx) IS NULL THEN NULL "
        "ELSE least(MAX(lm.mx), MAX(rm.mx)) END"
    )
    day_fmt = (
        "date_format(m.wstart, 'yyyy-MM-dd')"
        if d == "spark"
        else "strftime(m.wstart, '%Y-%m-%d')"
    )
    return f"""
WITH ev AS (
  SELECT event_id AS id, event_type, ts, ts + INTERVAL 30 MINUTE AS rts,
         event_id % 3 AS bl,
         CASE WHEN event_id % 5 = 0 THEN 3
              ELSE event_id % 3 END AS br,
         date_trunc('day', ts) AS wstart,
         date_trunc('day', ts) + INTERVAL 1 DAY AS wend
  FROM {tbl('events', d)}
),
lmax AS (SELECT bl AS b, MAX(ts) AS mx FROM ev GROUP BY bl),
rmax AS (SELECT br AS b, MAX(rts) AS mx FROM ev GROUP BY br),
spine AS ({inline_values(spine8, 's', 'b', d)}),
wmf AS (
  SELECT s.b, {guard} - INTERVAL 1 HOUR AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 2
  LEFT JOIN rmax rm ON rm.b <= s.b - 2
  GROUP BY s.b
),
wmd AS (
  SELECT s.b, {guard} - INTERVAL 1 HOUR AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 1
  LEFT JOIN rmax rm ON rm.b <= s.b - 1
  GROUP BY s.b
),
matched AS (
  SELECT e.*, greatest(e.bl, e.br) AS bm
  FROM ev e
  JOIN wmf fl ON fl.b = e.bl
  JOIN wmf fr ON fr.b = e.br
  LEFT JOIN wmd dv ON dv.b = e.br - 1
  WHERE (fl.wm IS NULL OR e.ts >= fl.wm)
    AND (fr.wm IS NULL OR e.rts >= fr.wm)
    AND (e.br <= e.bl OR dv.wm IS NULL OR e.ts + INTERVAL 2 HOUR > dv.wm)
),
ew AS (
  SELECT w.wend, MIN(wmd.b) AS eb
  FROM (SELECT DISTINCT wend FROM matched) w
  JOIN wmd ON wmd.wm - INTERVAL 2 HOUR >= w.wend
  GROUP BY w.wend
)
SELECT {day_fmt} AS day, m.event_type, CAST(COUNT(*) AS BIGINT) AS n_matched
FROM matched m JOIN ew ON ew.wend = m.wend AND m.bm <= ew.eb
GROUP BY {day_fmt}, m.event_type
ORDER BY day, event_type
"""


@query(
    "stream_chained_join_agg",
    oracle=_chained_join_agg_sql("duck"),
    tags=("streaming", "join", "watermark", "agg"),
    staged_cache="inputs",
)
def stream_chained_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second chained-stateful composition: the trilogy's
    stream-stream interval join feeding a 1-day tumbling count in ONE
    streaming query — join buffer eviction, late-input filtering, AND
    watermark propagation through the join into the aggregate's window
    eviction, all in a single checkpoint. The composed closed form
    (:func:`_chained_join_agg_sql`) pins the one semantics invisible to
    the single-operator trilogy: the aggregate's windows stay open an
    extra 2 hours (the join's upper range bound rides the propagated
    watermark). At 100 TB: two stateful boundaries, each state bounded —
    join buffer by delay + range width, agg state by (delay + range
    width) x window rate."""
    left_dir, right_dir = staged_join_sides(sf_dir)
    lev = (
        replay_stream(spark, left_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    rev = (
        replay_stream(spark, right_dir)
        .withColumn("rts", F.col("rts").cast("timestamp"))
        .withColumnRenamed("event_id", "rid")
        .withWatermark("rts", "1 hour")
    )
    joined = lev.join(
        rev,
        (F.col("event_id") == F.col("rid"))
        & (F.col("rts") >= F.col("ts"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    agg = (
        joined.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_matched"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_matched",
        )
    )
    return _to_memory(agg, "append")


# ---------------------------------------------------------------------------
# stream_triple_stateful_chain — dedup → interval join → window agg, ONE query.
# ---------------------------------------------------------------------------


def _triple_chain_sql(d: str) -> str:
    """Closed form of the TRIPLE stateful chain
    ``dropDuplicatesWithinWatermark → stream-stream interval join →
    tumbling-window aggregate`` in one streaming query (VERDICT r8 #5) —
    the composition of all three pinned operators, over the TIME-SLICED
    lockstep replay of :func:`staged_triple_sides` (batch k = the k-th
    5-day slice, so the watermark advances progressively and a surviving
    duplicate would corrupt a still-open window).

    The model composes the three pinned closed forms verbatim:

    - dedup stage (``_dedup_ttl_sql``): the redelivered copies (previous
      slice's ``id % 5 = 0`` rows, one batch late) all pass the lagged
      late filter — their ts exceeds wm_f(b) = combined max over batches
      ≤ b−2, minus delay, by construction — and are dropped by STATE:
      each original (ts ≥ slice start > eviction wm at the copy's batch)
      is provably still resident. Survivors = the originals, emitted in
      their arrival slice. Falsified empirically: removing the dedup
      stage mismatches (the copies re-join still-buffered acks and
      inflate open windows at all three SFs).
    - join stage (``_join_boundary_sql``): survivors ⋈ acks at ts+30min
      within [ts, ts+2h]; the combined watermark is the NULL-guarded MIN
      over sides, acks late-filter against wm_f(br), and the left buffer
      evicts past ts+2h (the eviction clause is kept for fidelity but is
      structurally subsumed here: rts−ts = 30min < 2h makes the ack
      filter strictly stricter — the eviction branch is pinned
      standalone by ``stream_join_state_boundary`` and the parametrized
      law in tests/test_watermark_propagation.py). The delayed ``id % 7``
      ack slice (two batches late) IS filter-decided: 757 acks dropped
      at sf0.01.
    - aggregate stage (``_chained_join_agg_sql``): window W emits at the
      first batch whose PROPAGATED watermark — combined wm MINUS the
      join's 2-hour upper range bound — reaches W.end. The 1-day windows
      are offset to 22:00 boundaries precisely so this −2h term decides:
      every slice's max event time lands in the last two hours of its
      day, parking the batch watermark inside (wend, wend+2h) — with
      midnight windows the raw-wm and propagated-wm models coincide on
      this data (verified), i.e. the offset is what makes the
      composition's one new semantics falsifiable at all three SFs.
    """
    from .dialect import dec_sum, intdiv

    sl = f"least({intdiv('(day(ts) - 1)', '5', d)}, 5)"
    spine8 = ", ".join(f"({b})" for b in range(8))
    guard = (
        "CASE WHEN MAX(lm.mx) IS NULL OR MAX(rm.mx) IS NULL THEN NULL "
        "ELSE least(MAX(lm.mx), MAX(rm.mx)) END"
    )
    return f"""
WITH ev AS (
  SELECT event_id AS id, event_type, value, ts,
         ts + INTERVAL 30 MINUTE AS rts,
         {sl} AS bl,
         CASE WHEN event_id % 7 = 0 THEN least({sl} + 2, 5)
              ELSE {sl} END AS br,
         date_trunc('day', ts - INTERVAL 22 HOUR) + INTERVAL 22 HOUR AS wstart,
         date_trunc('day', ts - INTERVAL 22 HOUR) + INTERVAL 22 HOUR
           + INTERVAL 1 DAY AS wend
  FROM {tbl('events', d)}
),
lmax AS (SELECT bl AS b, MAX(ts) AS mx FROM ev GROUP BY bl),
rmax AS (SELECT br AS b, MAX(rts) AS mx FROM ev GROUP BY br),
spine AS ({inline_values(spine8, 's', 'b', d)}),
wmf AS (
  SELECT s.b, {guard} - INTERVAL 1 DAY AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 2
  LEFT JOIN rmax rm ON rm.b <= s.b - 2
  GROUP BY s.b
),
wmd AS (
  SELECT s.b, {guard} - INTERVAL 1 DAY AS wm
  FROM spine s
  LEFT JOIN lmax lm ON lm.b <= s.b - 1
  LEFT JOIN rmax rm ON rm.b <= s.b - 1
  GROUP BY s.b
),
ded AS (
  SELECT e.* FROM ev e JOIN wmf ON wmf.b = e.bl
  WHERE wmf.wm IS NULL OR e.ts >= wmf.wm
),
matched AS (
  SELECT dd.*, greatest(dd.bl, dd.br) AS bm
  FROM ded dd
  JOIN wmf fr ON fr.b = dd.br
  LEFT JOIN wmd dv ON dv.b = dd.br - 1
  WHERE (fr.wm IS NULL OR dd.rts >= fr.wm)
    AND (dd.br <= dd.bl OR dv.wm IS NULL OR dd.ts + INTERVAL 2 HOUR > dv.wm)
),
ew AS (
  SELECT w.wend, MIN(wmd.b) AS eb
  FROM (SELECT DISTINCT wend FROM matched) w
  JOIN wmd ON wmd.wm - INTERVAL 2 HOUR >= w.wend
  GROUP BY w.wend
)
SELECT {ts_str('m.wstart', d)} AS window_start, m.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       {dec_sum('m.value')} AS sum_value
FROM matched m JOIN ew ON ew.wend = m.wend AND m.bm <= ew.eb
GROUP BY {ts_str('m.wstart', d)}, m.event_type
ORDER BY window_start, event_type
"""


@query(
    "stream_triple_stateful_chain",
    oracle=_triple_chain_sql("duck"),
    tags=("streaming", "dedup", "join", "watermark", "agg"),
    staged_cache="inputs",
)
def stream_triple_stateful_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline in ONE streaming query: exactly-once
    dedup (signer/index.js:133-137's content-hash gate), enrichment by a
    correlated ack stream (app.ts:401-427's ingest topology), and
    per-window metrics (app.ts:452-455) — THREE stateful operators
    sharing a single watermark and checkpoint. The two r8 pairwise
    chains pinned dedup→agg and join→agg; this pins the full
    composition, where the new failure surface is the middle: dedup
    survivors enter the join buffer, duplicate copies must die in dedup
    state BEFORE they can re-match still-buffered acks, and the
    aggregate's window eviction runs on the watermark propagated through
    the join (combined wm − 2h upper range bound, the parametrized law
    of tests/test_watermark_propagation.py). Emitted windows must equal
    the composed closed form (:func:`_triple_chain_sql`) — verified at
    all three SFs, with every stage falsification-tested (see the
    oracle's docstring). At 100 TB: three stateful boundaries, one
    shuffle each, state bounded by delay×arrival (dedup), delay+range
    width (join buffer), and (delay+range)×window rate (agg)."""
    left_dir, right_dir = staged_triple_sides(sf_dir)
    lev = (
        replay_stream(spark, left_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    rev = (
        replay_stream(spark, right_dir)
        .withColumn("rts", F.col("rts").cast("timestamp"))
        .withColumnRenamed("event_id", "rid")
        .withWatermark("rts", "1 day")
    )
    joined = lev.join(
        rev,
        (F.col("event_id") == F.col("rid"))
        & (F.col("rts") >= F.col("ts"))
        & (F.col("rts") <= F.col("ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    agg = (
        joined.groupBy(
            F.window("ts", "1 day", "1 day", "22 hours").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_matched",
            "sum_value",
        )
    )
    return _to_memory(agg, "append")


def _cdc_scd2_oracle(d: str) -> str:
    # batch recompute over the FULL changelog — redelivered duplicates in
    # the staged stream must be absorbed, never versioned
    from .governance_ops import _scd2_sql

    return _scd2_sql(d)


@query(
    "stream_cdc_scd2",
    oracle=_cdc_scd2_oracle("duck"),
    tags=("streaming", "lakehouse", "cdc", "sink"),
    staged_cache="inputs",
)
def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 extended to history (VERDICT r9 #4): a streaming CDC changelog —
    6 time-sliced micro-batches with at-least-once redelivery
    (``staged_cdc_slices``) — maintains a type-2 SCD history table through
    a ``foreachBatch`` MERGE (``Scd2ParquetSink``: affected-bucket
    copy-on-write, exact-duplicate absorption, windowed run-collapse +
    reversioning; the plain-parquet rendition of a Delta/Iceberg MERGE).
    The reference's keyed sink keeps only the latest value per key
    (signer/index.js:229-242); this is that write path upgraded to
    answer "what was the value THEN".

    The final table must equal ``lake_scd2_build``'s batch recompute over
    the full changelog — the strongest possible oracle for an incremental
    write path: every redelivered duplicate absorbed, every version
    boundary, interval end, and ``is_current`` flag identical to the
    from-scratch build. Restart/replay idempotence is pinned separately
    in ``tests/test_cdc_scd2.py``.

    At 100 TB: per batch, one user_id hash exchange + |affected buckets|
    partition-pruned history reads and overwrites — MERGE cost scales
    with the CHANGE rate, not table size; the time-sliced staging is the
    per-key in-order delivery a binlog CDC source provides."""
    import tempfile

    from ..streaming.sinks import Scd2ParquetSink

    stream = replay_stream(spark, staged_cdc_slices(sf_dir))
    work = tempfile.mkdtemp(prefix="slsp_scd2_")
    sink = Scd2ParquetSink(f"{work}/history")
    # the merge's window/dedup exchanges run over one ~n/6-row slice per
    # batch: 4 shuffle partitions, the _to_memory discipline (A/B at
    # sf0.1 min-of-3: 32 parts 3.72 s, 8 parts 3.38, 4 parts 3.08 — the
    # per-partition fixed cost of 6 batches × {distinct, window,
    # localCheckpoint, overwrite} dominates data parallelism at harness
    # volume; a real deployment keeps the session default)
    run_bounded(
        spark,
        lambda ckpt: stream.writeStream.foreachBatch(sink.merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        shuffle_partitions=4,
    )
    return sink.read(spark).select(
        "user_id",
        "attr",
        "version_n",
        "valid_from_s",
        "valid_to_s",
        "is_current",
    )


def _cdc_scd2_ooo_oracle(d: str) -> str:
    """Closed form of the out-of-order guard (``Scd2ParquetSink``
    docstring) under the ``staged_cdc_slices_ooo`` delivery plan: the
    in-order records (NOT delayed) are fully merged before the late
    batch arrives, so for each delayed record r

    * the key's last-seen position = MAX (ts_s, event_id) over the
      key's in-order records (exactly what the sink's ``seen_ts_s`` /
      ``seen_event_id`` metadata holds — the retained-version head would
      be WRONG here, see the sink docstring), and
    * the value in force at r's position = attr of the last in-order
      record at or before (r.ts_s, r.event_id) (run-collapse never
      changes the value in force).

    r is quarantined iff its position ≤ last-seen AND (nothing in force
    OR the in-force value differs). Positions are encoded as one BIGINT
    (month-offset seconds × 1e8 + event_id) so MAX works; the staged
    month is Jan 2024 and event ids stay far below 1e8 at every SF."""
    sl = "least((day(ts) - 1) // 5, 5)"
    return f"""
WITH chg AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS attr,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(event_id AS BIGINT) AS event_id,
         (event_id % 17 = 3 AND {sl} <= 4) AS delayed
  FROM events WHERE user_id % 20 = 0
),
seq AS (
  SELECT *,
    last_value(CASE WHEN NOT delayed THEN attr END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS if_attr
  FROM chg
),
heads AS (
  SELECT user_id,
         MAX((ts_s - 1704000000) * 100000000 + event_id) AS head_pos
  FROM chg WHERE NOT delayed GROUP BY user_id
)
SELECT s.user_id, s.attr, s.ts_s, s.event_id,
       CASE WHEN s.if_attr IS NULL THEN 'pre_history'
            ELSE 'out_of_order' END AS reason
FROM seq s JOIN heads h ON h.user_id = s.user_id
WHERE s.delayed
  AND (s.ts_s - 1704000000) * 100000000 + s.event_id <= h.head_pos
  AND (s.if_attr IS NULL OR s.if_attr <> s.attr)
"""


@query(
    "stream_cdc_scd2_ooo",
    oracle=_cdc_scd2_ooo_oracle("duck"),
    tags=("streaming", "lakehouse", "cdc", "sink"),
    staged_cache="inputs",
)
def stream_cdc_scd2_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC→SCD2 merge with the binlog promise deliberately BROKEN
    (VERDICT r10 #1, end-to-end): records with ``event_id % 17 = 3``
    in the first five slices are withheld and delivered together as a
    seventh late-replay batch (``staged_cdc_slices_ooo``) — the failure
    a re-sharded binlog tail or mis-merged backfill produces. The sink
    must merge the late records whose reappearance IS reconstructable
    (value in force at their position — merge no-ops) and quarantine
    exactly those that would corrupt the changes-only history; the
    result is the QUARANTINE table, held to the guard's closed-form
    oracle. ``tests/test_cdc_scd2.py`` separately pins that quarantined
    keys rebuild exactly from the full changelog and that the guard's
    last-seen metadata catches the collapsed-tail case the retained
    head cannot.

    At 100 TB: the guard rides the merge's existing bucket-pruned
    read-back (one per-key aggregate + two batch-sized user_id joins per
    batch); the quarantine write is violation-sized, normally zero."""
    import glob
    import tempfile

    from ..streaming.sinks import Scd2ParquetSink

    stream = replay_stream(spark, staged_cdc_slices_ooo(sf_dir))
    work = tempfile.mkdtemp(prefix="slsp_scd2ooo_")
    sink = Scd2ParquetSink(f"{work}/history")
    run_bounded(
        spark,
        lambda ckpt: stream.writeStream.foreachBatch(sink.merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        shuffle_partitions=4,
    )
    if glob.glob(f"{sink.quarantine_path}/batch_id=*"):
        return spark.read.parquet(sink.quarantine_path).select(
            "user_id", "attr", "ts_s", "event_id", "reason"
        )
    return spark.createDataFrame(
        [],
        "user_id BIGINT, attr STRING, ts_s BIGINT, event_id BIGINT, "
        "reason STRING",
    )
