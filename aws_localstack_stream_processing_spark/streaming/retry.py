"""Record-level retry + poison-message routing (SURVEY §2.6 T3).

The reference retries a failing record 3 times with backoff and then lets
SQS route it to a dead-letter queue after ``maxReceiveCount`` receives
(app.ts:143-153, signer/index.js:99-111). Spark task retries cover
*systemic* failures (executor loss); this module reproduces the
*record-level* contract: each record carries a receive count, failed
records re-enter the next batch, and records that fail ``max_receives``
times land in a DLQ table with their count — nothing is lost, and the
ok/dlq writes are idempotent per batch (each invocation overwrites a
``batch_id``-keyed subdirectory, so a replayed micro-batch rewrites the
same files instead of duplicating them).

All state lives in two keyed parquet tables (retry buffer, DLQ) — the same
put-if-absent convergence as :class:`..streaming.sinks.KeyedParquetSink`;
the driver holds no row data.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import swap_dirs


class RetryingProcessor:
    """foreachBatch-style processor with record-level retry + DLQ.

    ``attempt_fn`` maps a DataFrame (with a ``receive_count`` column) to the
    same rows plus a boolean ``ok`` column — the record-level try/catch of
    the reference's signer, expressed as a set operation.
    """

    def __init__(
        self,
        base_dir: str,
        key_col: str,
        attempt_fn: Callable[[DataFrame], DataFrame],
        max_receives: int = 3,
    ):
        self.ok_path = os.path.join(base_dir, "ok")
        self.retry_path = os.path.join(base_dir, "retry")
        self.dlq_path = os.path.join(base_dir, "dlq")
        self.key_col = key_col
        self.attempt_fn = attempt_fn
        self.max_receives = max_receives

    def _read_or_none(self, spark: SparkSession, path: str) -> DataFrame | None:
        # swap_dirs' recovery step first: a crash inside the retry-buffer
        # swap must reopen the buffer, not an empty one (whose records
        # would then never reach the DLQ)
        if any(
            f.endswith(".parquet") or f.startswith("batch_id=")
            for f in swap_dirs(path)
        ):
            return spark.read.parquet(path)
        return None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        incoming = batch_df.withColumn("receive_count", F.lit(0))
        buffered = self._read_or_none(spark, self.retry_path)
        work = (
            incoming.unionByName(buffered) if buffered is not None else incoming
        )
        # one receive for every record in this batch
        work = work.withColumn("receive_count", F.col("receive_count") + 1)
        attempted = self.attempt_fn(work).persist()

        ok = attempted.filter("ok").drop("ok")
        failed = attempted.filter("NOT ok").drop("ok")
        poison = failed.filter(F.col("receive_count") >= self.max_receives)
        again = failed.filter(F.col("receive_count") < self.max_receives)

        # batch-idempotent outputs: overwrite a batch_id-keyed subdirectory,
        # never blind-append (a replayed batch rewrites the same files)
        ok.write.mode("overwrite").parquet(f"{self.ok_path}/batch_id={batch_id}")
        if poison.limit(1).count() > 0:
            poison.write.mode("overwrite").parquet(
                f"{self.dlq_path}/batch_id={batch_id}"
            )
        # Replace the retry buffer wholesale (tiny by design: only
        # currently-failing records live here). `again`'s lineage still reads
        # the CURRENT buffer files, so never overwrite in place — stage to a
        # sibling, then swap directories (the crash-safe swap_dirs). The swap
        # happens only after the write job has fully materialized `again`,
        # so no plan re-execution can read deleted files (the persist()
        # above is an optimization, not a correctness dependency).
        tmp = self.retry_path + ".tmp"
        again.write.mode("overwrite").parquet(tmp)
        attempted.unpersist()
        swap_dirs(self.retry_path, tmp)

    def drain(self, spark: SparkSession, max_batches: int = 5) -> None:
        """Re-deliver the retry buffer with empty batches until it empties
        or every record has reached the DLQ (the SQS redelivery loop)."""
        empty = spark.createDataFrame([], self._empty_schema(spark))
        for b in range(max_batches):
            buffered = self._read_or_none(spark, self.retry_path)
            if buffered is None or buffered.limit(1).count() == 0:
                break
            self.process_batch(empty, 1000 + b)

    def _empty_schema(self, spark: SparkSession):
        df = self._read_or_none(spark, self.retry_path)
        if df is None:
            raise ValueError("retry buffer empty; drain() needs nothing")
        return df.drop("receive_count").schema
