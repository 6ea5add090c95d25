"""Streaming incremental materialized-view maintenance.

Each micro-batch writes its per-group PARTIAL aggregate (sum, count) to a
``batch_id=<id>`` subdirectory — an idempotent overwrite, so a replayed
batch rewrites the same partial instead of double-counting (the same
discipline as the DLQ/retry sinks). The MV read is a fold over the partial
files: algebraic merge, exactly the contract proven batch-side by
``mv_incremental_refresh``.

Scale: each batch's work is one partial aggregation of that batch plus a
|groups|-sized write; the fold at read time touches |groups| x |batches|
rows, never the event history. Compaction (folding old partials into one
base file) is the same merge run offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .resilience import run_bounded


def run_mv_stream(
    spark: SparkSession,
    source: DataFrame,
    mv_dir: str,
) -> None:
    """Maintain per-event_type (sum(value), count) partials from a stream."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
            F.count("*").alias("c"),
        )
        partial.write.mode("overwrite").parquet(f"{mv_dir}/batch_id={batch_id}")

    run_bounded(
        spark,
        lambda ckpt: source.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
    )


def read_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    """Fold the partials into the current MV state."""
    return (
        spark.read.parquet(mv_dir)
        .groupBy("event_type")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .select(
            "event_type",
            F.col("s").cast("double").alias("sum_value"),
            F.col("c").cast("bigint").alias("n_events"),
        )
    )
