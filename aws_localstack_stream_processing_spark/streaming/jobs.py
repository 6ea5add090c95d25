"""End-to-end streaming jobs — the reference's two pipelines (SURVEY §3).

E1 ingest:  stream → decode/parse/partition-assign → partitioned lake sink
            (Firehose buffering ≈ trigger; dynamic+time partitioning ≈
            partitionBy; app.ts:400-427)
E2 process: lake stream → content hash → key assignment → sign →
            put-if-absent keyed sink (signer/index.js:262-334)

No job here holds streaming state. E2's one idempotence mechanism is the
put-if-absent sink, as the reference's only guard is its put keyed by
content hash (signer/index.js:229-242).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing
from .dlq import foreach_batch_dlq
from .resilience import start_and_await
from .source import events_stream

# E2's key ring size: a record signs with key ``event_id mod N_KEYS``
N_KEYS = 100


def ingest_columns(df: DataFrame) -> DataFrame:
    """E1 transform: key extraction with fallback, djb2 partition label
    (route-compatible with the reference: ``djb2_js`` replicates
    partitioner/index.js:17-23 bit-for-bit, so a record lands in the same
    partition_N here as in the reference system), event-time path parts
    (deterministic replay: uses ts, not wall clock)."""
    key = F.coalesce(
        F.get_json_object(F.col("props"), "$.k"),
        F.col("event_id").cast("string"),
    )
    djb2 = F.expr(hashing.djb2_js("rec_key", "spark"))
    return (
        df.withColumn("rec_key", key)
        .withColumn(
            "partition",
            F.concat(F.lit("partition_"), (djb2 % F.lit(5)).cast("string")),
        )
        .withColumn("year", F.date_format("ts", "yyyy"))
        .withColumn("month", F.date_format("ts", "MM"))
        .withColumn("day", F.date_format("ts", "dd"))
        .withColumn("hour", F.date_format("ts", "HH"))
    )


def run_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    lake_dir: str,
    checkpoint: str,
) -> None:
    """E1: events stream → hive-partitioned parquet lake
    (raw/partition_N/year=/month=/day=/hour=, app.ts:400,411)."""
    ev = events_stream(spark, sf_dir)
    start_and_await(
        lambda: ingest_columns(ev)
        .writeStream.format("parquet")
        .partitionBy("partition", "year", "month", "day", "hour")
        .option("path", lake_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_ingest_stream_manifest(
    spark: SparkSession,
    source: DataFrame,
    lake_dir: str,
    checkpoint: str,
) -> None:
    """E1 with manifest-commit discovery (S5's scale path, VERDICT r5 #5):
    each micro-batch lands its files under ``commit=<batchId>/`` and then
    records them in the lake's append-only manifest — the engine-side
    analogue of the reference's S3 ObjectCreated→SQS notification hop
    (app.ts:434-438). A replayed batch overwrites its own commit dir AND
    its own manifest entry (both keyed by batch id), so the lake is
    exactly-once; downstream consumers plan from the manifest and never
    list the directory."""
    import os

    from ..sources.manifest_datasource import append_manifest

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(lake_dir, f"commit={batch_id}")
        batch_df.write.mode("overwrite").parquet(out)
        files = sorted(
            os.path.join(out, f)
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        append_manifest(lake_dir, files, commit_id=batch_id)

    start_and_await(
        lambda: source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_dlq_stream(
    spark: SparkSession,
    sf_dir: str,
    ok_path: str,
    err_path: str,
    checkpoint: str,
) -> None:
    """S4/T3: validity split inside foreachBatch — ok and error outputs
    written per batch (corruption injected on event_id % 97 = 0)."""
    ev = events_stream(spark, sf_dir).withColumn(
        "props",
        F.when(F.col("event_id") % 97 == 0, F.substring("props", 1, 3)).otherwise(
            F.col("props")
        ),
    )
    start_and_await(
        lambda: ev.writeStream.foreachBatch(foreach_batch_dlq(ok_path, err_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def signed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 transformations on the event stream: content hash → key
    assignment → signature derivation (JVM-side sha2 here; the pandas_udf
    variant is the batch ref_sign_pipeline).

    Stateless: no watermark and no dedup, so a record is signed however
    late it arrives, and a record delivered twice comes out twice. The
    keyed sink of :func:`run_signing_stream` stores it once."""
    ev = events_stream(spark, sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
    )
    hashed = ev.withColumn("tx_hash", F.sha2(canon, 256))
    keyed = hashed.withColumn("key_id", F.pmod(F.col("event_id"), F.lit(N_KEYS)))
    priv = F.sha2(F.concat(F.lit("key_"), F.col("key_id").cast("string")), 256)
    return keyed.withColumn(
        "signature", F.sha2(F.concat(F.col("tx_hash"), F.lit("|"), priv), 256)
    ).select("tx_hash", "key_id", "signature", "ts")


def run_signing_stream(
    spark: SparkSession, sf_dir: str, sink_path: str, checkpoint: str
) -> None:
    """E2 with an idempotent keyed sink: put-if-absent per content hash
    (DynamoDB put semantics, signer/index.js:229-242). The sink is the one
    idempotence mechanism: it drops a hash repeated within a batch, across
    batches and across runs, so the store holds each record once with or
    without the checkpoint.

    Upgrading a checkpoint written while :func:`signed_stream` still ran a
    watermarked ``dropDuplicates``: the stateless plan fails on it with
    ``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`` at its
    first new batch. Start a fresh checkpoint over the same ``sink_path``;
    the replay re-reads every record, and put-if-absent drops each one
    already signed."""
    from .sinks import KeyedParquetSink

    sink = KeyedParquetSink(sink_path, "tx_hash")
    start_and_await(
        lambda: signed_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink.upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
