"""Keyed idempotent sinks (SURVEY §2.1 S8, §2.6 T2).

The reference's signature store is a DynamoDB put keyed by content hash
(signer/index.js:229-242): re-delivery overwrites the same item, so the
store converges no matter how many times a record arrives. This module
gives the engine that semantics over a parquet-backed keyed table: the
``foreachBatch`` upserter drops keys repeated within the batch, anti-joins
the rest against the existing keys and appends only unseen ones —
convergent even when the *checkpoint* is lost (a strictly stronger
property than checkpoint-based exactly-once). On the signing path
(``streaming/jobs.py`` E2) this put-if-absent is the one idempotence
mechanism: the stream upstream of it is stateless and never deduplicates.

At warehouse scale the anti-join is a broadcast of the batch's keys against
the key column of the sink (or a MERGE on a Delta/Iceberg table — same
logical contract, swap the implementation here).

Each put-if-absent batch is shuffled once, on its bucket; the
within-batch dedup rides that shuffle, and each bucket lands in one write
task, so a batch adds one file per (batch, bucket) it touches.

All three stores share one layout, :class:`BucketedStore`: a root of
``<BUCKET_COL>=N/`` hive partitions plus a ``_slsp_meta.json`` sidecar
recording the bucket count. Every rewrite of that layout — ``resplit``,
``compact()``, the SCD2 per-bucket MERGE — and the retry buffer of
``streaming/retry.py`` goes through one directory swap,
:func:`swap_dirs`: stage the new data, rename each live directory to a
backup, rename the staged directory to live, delete the backups last,
and remove staging only after every swap of the call succeeded.
Opening a store runs the swap's recovery step, so a crash at any step
leaves a store that reads exactly its pre-swap or its post-swap rows.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def swap_dirs(
    root: str, staged: str | None = None, names: list[str] | None = None
) -> list[str]:
    """The one crash-safe directory swap, and its recovery step.

    ``staged`` is the fully written new data (step 1, done by the
    caller), kept where Spark's file index never lists it: a sibling of
    ``root``. Without ``names`` it replaces ``root`` whole; with
    ``names`` it replaces only those child directories of ``root`` (one
    per bucket), each from ``staged/<name>``. Each step runs for every
    directory before the next step starts:

    2. rename live to its backup ``.<name>.bak`` beside it — dot-prefixed,
       so the file index skips it (a ``bucket=3.bak`` would read as a
       partition value). A live directory that does not exist yet gets an
       EMPTY backup, so a roll-back knows to remove what replaced it;
    3. rename staged to live;
    4. delete the backups;
    5. remove ``staged`` — only after every swap of the call succeeded.

    Recovery runs first on every call, and is the whole call when
    ``staged`` is None — that is how a store is opened. Leftover backups
    mean a swap was interrupted. If any backup's live directory is
    missing, step 3 never finished: every backup is rolled back and
    ``root`` reads exactly its pre-swap rows. Otherwise step 3 finished
    and the backups are deleted: exactly the post-swap rows. Staging left
    by a crash is overwritten by the next stage step. Returns ``root``'s
    entries after recovery (``[]`` when it does not exist).

    Recovery treats every backup it finds as a crashed swap, so no swap
    of the same ``root`` may be in flight in another process: a store has
    one writer, and offline rewrites run with the owning stream stopped.
    """

    def backup(live: str) -> str:
        head, tail = os.path.split(live.rstrip("/"))
        return os.path.join(head, f".{tail}.bak")

    def listing() -> list[str]:
        return os.listdir(root) if os.path.isdir(root) else []

    lives = [root] if os.path.isdir(backup(root)) else []
    lives += [
        os.path.join(root, n[1:-4])
        for n in listing()
        if n.startswith(".") and n.endswith(".bak")
    ]
    roll_back = not all(os.path.isdir(live) for live in lives)
    # a roll-back restores the missing directories last, so one that is
    # interrupted still finds a missing directory and rolls back again
    for live in sorted(lives, key=lambda p: not os.path.isdir(p)):
        if roll_back:
            shutil.rmtree(live, ignore_errors=True)
            if os.listdir(backup(live)):
                os.rename(backup(live), live)
                continue
        shutil.rmtree(backup(live))
    if staged is None:
        return listing()
    if names is None:
        pairs = [(staged, root)]
    else:
        os.makedirs(root, exist_ok=True)
        pairs = [(os.path.join(staged, n), os.path.join(root, n)) for n in names]
    for _, live in pairs:
        if os.path.isdir(live):
            os.rename(live, backup(live))
        else:
            os.makedirs(backup(live))
    for new, live in pairs:
        os.rename(new, live)
    for _, live in pairs:
        shutil.rmtree(backup(live))
    shutil.rmtree(staged, ignore_errors=True)
    return listing()


class BucketedStore:
    """A parquet table hash-bucketed into ``<BUCKET_COL>=N/`` partitions.

    Subclasses supply the bucket function (:meth:`_bucket_expr`); the
    base owns the layout and its evolution:

    * self-description: the bucket count is NOT baked into readers — a
      ``_slsp_meta.json`` sidecar written with the first data is adopted
      by every later open (VERDICT r10 #6), so a sink constructed with the
      default count still reads a resplit store correctly;
    * schema-cached reads (r13, guide §6): the column set is fixed for a
      store's lifetime, so one schema inference serves every per-batch
      read (uncached, Spark runs an inference job per read);
    * bucket-pruned reads: a batch-sized key set's buckets are a bounded
      driver collect (≤ n_buckets values), and only those hive
      partitions are scanned — per-batch cost O(store/n_buckets ×
      affected buckets), not O(store);
    * put-if-absent appends and bucket-pruned semi-joins;
    * :meth:`resplit`, and crash-safe rewrites through :func:`swap_dirs`.
    """

    N_BUCKETS = 16
    BUCKET_COL = "__bucket"
    META_FILE = "_slsp_meta.json"

    def __init__(self, path: str, n_buckets: int | None = None):
        self.path = path
        self.n_buckets = int(n_buckets or self.N_BUCKETS)
        self._store_schema = None

    def _bucket_expr(self):
        """The store's bucket function, over the batch's key columns."""
        raise NotImplementedError

    # -- self-describing layout ------------------------------------------
    def _meta_path(self, root: str | None = None) -> str:
        return os.path.join(root or self.path, self.META_FILE)

    def _sync_meta(self) -> list[str]:
        """Open the store: run :func:`swap_dirs`' recovery step, then adopt
        the on-disk bucket count, if recorded (a store with no data yet
        has no sidecar and keeps the constructor's count). Returns the
        root's entries."""
        entries = swap_dirs(self.path)
        try:
            with open(self._meta_path()) as f:
                self.n_buckets = int(json.load(f)["n_buckets"])
        except (OSError, ValueError, KeyError):
            pass
        return entries

    def _write_meta(self, root: str | None = None) -> None:
        os.makedirs(root or self.path, exist_ok=True)
        with open(self._meta_path(root), "w") as f:
            json.dump({"n_buckets": self.n_buckets}, f)

    def exists(self, spark: SparkSession | None = None) -> bool:
        """True iff a bucketed store is present at ``path`` (after
        recovering an interrupted swap). Fails LOUDLY on a directory with
        top-level parquet files (a legacy flat-layout store or any other
        foreign table): silently returning False would skip the
        put-if-absent probe (duplicate keys appended) and the mixed
        flat+partitioned directory would then break partition discovery
        on read."""
        entries = self._sync_meta()
        if any(f.endswith(".parquet") for f in entries):
            raise RuntimeError(
                f"{self.path} holds a legacy flat-layout store "
                f"(top-level .parquet files); the bucketed probe cannot "
                f"see its keys. Write the store to a fresh path."
            )
        return any(f.startswith(f"{self.BUCKET_COL}=") for f in entries)

    # -- reads ---------------------------------------------------------------
    def _infer_schema(self, spark: SparkSession):
        return spark.read.parquet(self.path).schema

    def _read_store(self, spark: SparkSession) -> DataFrame:
        if self._store_schema is None:
            self._store_schema = self._infer_schema(spark)
        return spark.read.schema(self._store_schema).parquet(self.path)

    def _pruned(self, spark: SparkSession, bucketed: DataFrame) -> DataFrame:
        """The store rows of the buckets that ``bucketed`` (batch-sized,
        carrying BUCKET_COL) touches — hive partition pruning."""
        from pyspark.sql import functions as F

        buckets = [
            r[0] for r in bucketed.select(self.BUCKET_COL).distinct().collect()
        ]
        return self._read_store(spark).filter(
            F.col(self.BUCKET_COL).isin(buckets)
        )

    def _semi_join(
        self, spark: SparkSession, keys: DataFrame, cols: list[str]
    ) -> DataFrame:
        """Store rows whose ``cols`` appear in ``keys`` (batch-bounded):
        bucket-pruned read, semi-joined against the BROADCAST key set —
        the store is never shuffled or broadcast."""
        from pyspark.sql import functions as F

        self._sync_meta()
        want = keys.select(*cols).distinct().withColumn(
            self.BUCKET_COL, self._bucket_expr()
        )
        return (
            self._pruned(spark, want)
            .join(F.broadcast(want.drop(self.BUCKET_COL)), cols, "left_semi")
            .drop(self.BUCKET_COL)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        self._sync_meta()
        return self._read_store(spark).drop(self.BUCKET_COL)

    # -- writes ----------------------------------------------------------
    @staticmethod
    def probe_plan(
        seen: DataFrame, fresh: DataFrame, key_col: str | list[str]
    ) -> DataFrame:
        """The put-if-absent probe's pure plan (plan-lintable, like
        ``Scd2ParquetSink.merge_plan``): given the store's key column(s)
        (already bucket-pruned) and the deduped batch, return the batch
        rows whose key is NOT in the store. ``key_col`` is one column
        name or a list of them (a composite key).

        Broadcast direction matters at scale (r10, found by the plan
        audit that fixed the SCD2 merge): the naive
        ``fresh LEFT ANTI store`` plans as ``BroadcastHashJoin LeftAnti
        BuildRight`` — Spark can only build the RIGHT side of an anti
        join, so every micro-batch would broadcast the STORE's whole
        key column, which grows without bound. Instead: two joins that
        only ever broadcast batch-sized sets — the store is probed with
        a semi join against the BROADCAST batch keys (the Bloom-filter
        shape — one store scan, no store shuffle, no store broadcast;
        ≤|batch| rows survive), then the batch anti-joins that tiny hit
        set. The hits need no dedup: an anti join's result does not
        depend on duplicates on its right side, and store keys are unique
        under put-if-absent. Plan shape pinned in
        ``tests/test_sinks_metrics.py``.
        """
        from pyspark.sql import functions as F

        hits = seen.join(
            F.broadcast(fresh.select(key_col)), key_col, "left_semi"
        )
        return fresh.join(F.broadcast(hits), key_col, "left_anti")

    def _routed(self, df: DataFrame, keys: list[str]) -> DataFrame:
        """The batch as every put-if-absent write takes it: BUCKET_COL
        set, shuffled ONCE on it, and deduped on ``keys + [BUCKET_COL]``.

        The bucket is a function of the key, so that dedup drops exactly
        the rows ``dropDuplicates(keys)`` would, and the shuffle's hash
        partitioning on BUCKET_COL already meets the dedup's required
        distribution, so the dedup adds no exchange of its own. Each
        bucket lands in one task, so a write of the batch makes one file
        per bucket, not one per (task, bucket).

        Trade-off: the dedup and the write of one batch run on at most
        ``n_buckets`` tasks; :meth:`resplit` raises that cap."""
        from pyspark.sql import functions as F

        return (
            df.withColumn(self.BUCKET_COL, self._bucket_expr())
            .repartition(F.col(self.BUCKET_COL))
            .dropDuplicates(keys + [self.BUCKET_COL])
        )

    def _put_if_absent(
        self, df: DataFrame, keys: list[str], seen: DataFrame | None = None
    ) -> None:
        """The one put-if-absent append on the (composite) key ``keys``.
        The batch is routed first (:meth:`_routed`): within-batch
        duplicates collapse inside its one shuffle, and every write below
        adds one file per (batch, bucket). Cross-batch and cross-run
        duplicates drop via :meth:`probe_plan` against the bucket-pruned
        store rows, or against ``seen`` when the caller already probed
        (see ``BandIndexSink.append_batch``); the probe's two broadcast
        joins keep the routed partitioning, so no second shuffle runs."""
        spark = df.sparkSession
        present = self.exists(spark)  # syncs n_buckets before bucketing
        fresh = self._routed(df, keys)
        if not present:
            fresh.write.mode("append").partitionBy(self.BUCKET_COL).parquet(
                self.path
            )
            self._write_meta()
            return
        # persist the routed batch across its two consumers (the bucket
        # collect and the probe+write job) — unpersisted, the shuffle and
        # the dedup re-ran per job (r13, guide §5; batch-bounded)
        fresh = fresh.persist()
        try:
            if seen is None:
                seen = self._pruned(spark, fresh)
            self.probe_plan(seen.select(*keys), fresh, keys).write.mode(
                "append"
            ).partitionBy(self.BUCKET_COL).parquet(self.path)
        finally:
            fresh.unpersist()

    def _stage(self, df: DataFrame) -> str:
        """Step 1 of :func:`swap_dirs`: write ``df`` (BUCKET_COL set)
        bucket-partitioned to the store's staging sibling — a different
        path, so Spark's read-and-overwrite restriction never applies."""
        staged = self.path.rstrip("/") + ".staging"
        df.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(staged)
        return staged

    def resplit(self, spark: SparkSession, n_buckets: int) -> None:
        """Offline bucket-count evolution (VERDICT r10 #6): rewrite the
        store under a new bucket count. At 100 TB a fixed count
        eventually leaves each bucket too large for a bounded probe;
        doubling the count is the standard growth step (Iceberg
        bucket-spec evolution, Delta OPTIMIZE ZORDER re-layout — same
        full-rewrite cost, amortized over the store's lifetime).

        Every row re-routes to its bucket under the new count — a key's
        old and new bucket differ, so this is a full rewrite: the new
        layout is staged with the meta sidecar recording the new count
        written INTO the staged directory, so the count travels with the
        data (ADVICE r11: writing it after the swap let a fresh sink
        probe a resplit store at the old count and duplicate keys), and
        the whole store is replaced by :func:`swap_dirs`. A crash at any
        step reopens as either the old store with its old count or the
        new store with its new count. Must run with the owning stream
        stopped. The staged rows are shuffled once on the new bucket, so
        the new layout holds one file per bucket.
        """
        from pyspark.sql import functions as F

        if not self.exists(spark):
            raise RuntimeError(f"no bucketed store at {self.path}")
        if n_buckets == self.n_buckets:
            return
        rows = self._read_store(spark).drop(self.BUCKET_COL)
        self.n_buckets = int(n_buckets)
        staged = self._stage(
            rows.withColumn(self.BUCKET_COL, self._bucket_expr()).repartition(
                F.col(self.BUCKET_COL)
            )
        )
        self._write_meta(staged)
        swap_dirs(self.path, staged)
        self._store_schema = None


class KeyedParquetSink(BucketedStore):
    """Append-only parquet table that behaves like a keyed KV store.

    Contract: ``key_col`` is a non-null content hash (the reference's
    DynamoDB PK, signer/index.js:229-242). A NULL key does get a bucket
    (``xxhash64(NULL)`` is the seed, 42, so bucket 10 of 16), but it
    bypasses the probe: NULL never equals NULL in the probe's semi join,
    so the anti join keeps the row and every redelivery appends another
    copy. The sign path cannot produce one: its key is
    ``sha2(concat_ws(...))``, which is never NULL.

    Layout: hash-bucketed by key — every row lands in partition
    ``__bucket = pmod(xxhash64(key), n_buckets)``. The put-if-absent
    probe then reads ONLY the buckets the batch's keys can live in
    (hive partition pruning), so per-batch probe cost is
    O(store/n_buckets × affected buckets), not O(store) — the same
    layout lever ``Scd2ParquetSink`` uses for its MERGE, applied to the
    read side. At 100 TB this is the difference between a full store
    scan per micro-batch and a bounded bucket probe. The bucket count
    lives in the store's meta sidecar and changes offline by
    :meth:`resplit`, exactly like an Iceberg bucket-spec evolution.
    """

    def __init__(self, path: str, key_col: str, n_buckets: int | None = None):
        super().__init__(path, n_buckets)
        self.key_col = key_col
        # test seam for the compact() concurrent-append guard
        self._compact_pre_swap = None

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(
            F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets)
        ).cast("int")

    def upsert_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: put-if-absent per key.

        Within-batch duplicates collapse first (last write wins is
        irrelevant here: same key ⇒ same payload, PK = content hash);
        cross-batch and cross-run duplicates drop via the bucket-pruned
        probe (:meth:`probe_plan`) — affected buckets are a bounded
        driver collect (≤ n_buckets values), the store read prunes to
        those hive partitions, and only batch-sized key sets ever ride
        a broadcast.
        """
        self._put_if_absent(batch_df, [self.key_col])

    def fetch(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Bucket-pruned point lookup (r13, for the streaming near-dup
        gate): the store rows whose key appears in ``keys`` (a single
        ``key_col`` column, batch-bounded). Read cost is |affected
        buckets| partitions — the put-if-absent probe's read path, exposed
        for callers that need the matched rows' PAYLOAD (e.g. fetching
        candidate docs' shingle sets for Jaccard verification) rather
        than the absence set."""
        return self._semi_join(spark, keys, [self.key_col])

    def _bucket_files(self, b: int) -> list[str]:
        import glob

        return sorted(
            glob.glob(
                os.path.join(self.path, f"{self.BUCKET_COL}={b}", "*.parquet")
            )
        )

    def compact(
        self, spark: SparkSession, max_files_per_bucket: int = 8
    ) -> list[int]:
        """Bucket-local small-file compaction.

        An append-only bucketed store accrues one file per (batch,
        bucket) (:meth:`_routed` sends each bucket of a batch to one write
        task); after B batches every probe of a bucket opens ~B tiny
        files — the classic streaming-sink small-files problem (at
        100 TB: footer reads and NameNode/listing pressure dominate).
        Rewrite each bucket whose file count exceeds the threshold into
        a single file, bucket-locally: rows only move WITHIN their
        bucket (one exchange keyed on the bucket column routes each
        bucket to one task — the same job shape as a Delta OPTIMIZE
        over selected partitions), and only those bucket directories are
        swapped in (:func:`swap_dirs`); untouched buckets are not
        rewritten. The put-if-absent contract is unchanged — same keys,
        same buckets, fewer files.

        Bucket file counts come from a driver-side directory listing
        (bounded: n_buckets entries); at warehouse scale that listing
        is the table manifest. Returns the compacted bucket ids.

        Concurrency contract (ADVICE r10): compact() must run with the
        owning streaming query STOPPED — the swap replaces a todo bucket
        wholesale, so a row appended between the read and the swap would
        be silently deleted. Enforced, not just documented: each todo
        bucket's file listing is re-checked after the rewrite is staged
        and immediately before the swap; any change aborts the whole
        compaction (nothing swapped, the appended files intact). The
        residual check-swap window is a few milliseconds vs the
        unguarded read-to-commit seconds; a production deployment closes
        it entirely with a metadata-commit table format (Delta/Iceberg
        OPTIMIZE) or the manifest pattern
        ``sources/manifest_datasource.py`` demonstrates.

        Crash tolerance: a crash at any step of the swap reopens as
        either every todo bucket's old files or every one's compacted
        file. Compaction is safe to re-run (idempotent given the same
        inputs).
        """
        from pyspark.sql import functions as F

        self._sync_meta()
        listing = {b: self._bucket_files(b) for b in range(self.n_buckets)}
        todo = [
            b for b, fs in listing.items() if len(fs) > max_files_per_bucket
        ]
        if not todo:
            return []
        staged = self._stage(
            self._read_store(spark)
            .filter(F.col(self.BUCKET_COL).isin(todo))
            .repartition(F.col(self.BUCKET_COL))
        )
        if self._compact_pre_swap is not None:  # test seam
            self._compact_pre_swap()
        changed = [b for b in todo if self._bucket_files(b) != listing[b]]
        if changed:
            shutil.rmtree(staged, ignore_errors=True)
            raise RuntimeError(
                f"compact() aborted: buckets {changed} changed during the "
                f"rewrite — a streaming query is still appending to "
                f"{self.path}; stop it before compacting."
            )
        swap_dirs(self.path, staged, [f"{self.BUCKET_COL}={b}" for b in todo])
        return todo


class BandIndexSink(BucketedStore):
    """Bucketed MinHash band inverted index — the streaming near-dup
    gate's standing state (r13, VERDICT r12 #2): rows ``(band INT,
    bv STRING, doc_id BIGINT)``, hash-bucketed on the BAND KEY
    ``(band, bv)`` so a micro-batch's probe reads only the buckets its
    own band values can live in — the ``KeyedParquetSink`` bucket-pruning
    lever applied to an index whose band key is legitimately NON-unique
    (many documents share a band bucket; that collision IS the candidate
    signal), which is why its put-if-absent key is the full composite.

    Idempotence contract: :meth:`append_batch` is put-if-absent on the
    full composite ``(band, bv, doc_id)`` — a redelivered batch re-derives
    identical band rows and every one drops in the anti-join, so the
    index converges under at-least-once delivery exactly like the
    reference's keyed store (signer/index.js:229-242), generalized from
    content-equality to content-similarity.

    Scale shape: per batch, the probe collects ≤ n_buckets distinct
    bucket ids (bounded driver list), reads those hive partitions only,
    and semi-joins them against the BROADCAST batch band keys; the store
    is never shuffled, never broadcast, never scanned whole. At 100 TB
    the store is the corpus's band table (4 rows/doc here) — bucket
    count evolves offline through :meth:`resplit`."""

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(
            F.xxhash64(
                F.concat_ws(
                    ":", F.col("band").cast("string"), F.col("bv")
                )
            ),
            F.lit(self.n_buckets),
        ).cast("int")

    def append_batch(
        self, bands_df: DataFrame, seen: DataFrame | None = None
    ) -> None:
        """Put-if-absent append of ``(band, bv, doc_id)`` rows (see the
        class docstring). Within-batch duplicates collapse first; the
        cross-run probe prunes to the batch's buckets and anti-joins on
        the composite — only batch-sized sets ride broadcasts.

        ``seen`` (r14, guide §5): a caller that already probed the store
        this batch can pass the probe result — any ``(band, bv, doc_id)``
        superset of the store rows matching the batch's band keys, taken
        BEFORE any same-batch append — and the absence check reuses it
        instead of reading the store a second time. Sound because a
        store row colliding with an appended row on the full composite
        necessarily matches its ``(band, bv)`` key, so it is in the
        probe result; the near-dup gate's appended rows are a subset of
        the batch band rows it probed with."""
        key = ["band", "bv", "doc_id"]
        self._put_if_absent(bands_df.select(*key), key, seen)

    def probe(self, spark: SparkSession, bands_df: DataFrame) -> DataFrame:
        """Store rows whose ``(band, bv)`` key appears in the batch's
        band set: bucket-pruned read, semi-join against the BROADCAST
        batch keys. The result is the candidate postings list — every
        indexed doc sharing a band bucket with some batch doc."""
        return self._semi_join(spark, bands_df, ["band", "bv"])


class Scd2ParquetSink(BucketedStore):
    """Streaming CDC → type-2 history MERGE (SURVEY §2.1 S8 extended).

    The reference's keyed sink keeps only the LATEST value per key
    (DynamoDB put, signer/index.js:229-242); this sink is that write path
    upgraded to history-keeping: each micro-batch of change records is
    merged into a bucket-partitioned parquet SCD2 table (one row per
    (user, attribute-run) with ``valid_from_s``/``valid_to_s``/
    ``is_current`` — the exact semantics ``lake_scd2_build`` pins in
    batch), maintained incrementally instead of rebuilt from the full
    changelog.

    MERGE algorithm per batch (copy-on-write over AFFECTED BUCKETS only —
    the plain-parquet rendition of a Delta/Iceberg MERGE):
      1. affected buckets = distinct ``pmod(user_id, n_buckets)`` in the
         batch (bounded driver collect: ≤ n_buckets values);
      2. the existing history rows of those buckets are read back as
         change records — a version row IS its opening change
         ``(user_id, attr, valid_from_s, event_id)``;
      3. the out-of-order GUARD (below) splits the batch into mergeable
         records and quarantined violators;
      4. union with the read-back history, absorb at-least-once
         redelivery by exact-key dedup on ``(user_id, ts_s, event_id)``;
      5. run-collapse (LAG) drops consecutive same-value records, then
         ROW_NUMBER/LEAD rebuild version numbers and validity intervals —
         every window partitions on ``user_id``, one hash exchange;
      6. the merge result is written once to a staging sibling and ONLY
         the affected bucket directories are swapped in
         (:func:`swap_dirs`).

    Delivery contract and the out-of-order GUARD (VERDICT r10 #1): the
    merge is exact under per-key in-order delivery of NEW change records
    plus arbitrary exact-duplicate redelivery — what a binlog/stream-shard
    CDC source provides per key. A genuinely novel record OLDER than a
    key's already-delivered maximum can land between a version row and a
    record the collapse dropped, whose reappearance the changes-only
    history cannot reconstruct. Rather than documenting the hazard, the
    sink DETECTS it per batch, reusing the history already read back for
    the merge (no extra I/O).

    Soundness requires one piece of merge metadata: every history row
    carries its key's MAX DELIVERED position (``seen_ts_s`` /
    ``seen_event_id``), maintained per merge. The retained version head
    is NOT enough — the run-collapse erases evidence: after delivering
    A@10 then A@20 (one version, head 10), a late B@15 compares newer
    than the retained head and would silently merge into a history
    (A[10,15), B[15,∞)) that is missing the A@20 reversion; against the
    delivered maximum (20) it is correctly old (found r11 while writing
    the guard's closed-form oracle, ``stream_cdc_scd2_ooo``).

    The rule, exact under this metadata: a batch record at ``(ts_s,
    event_id)`` ≤ the key's last-seen position is a violation iff the
    attribute in force at its position differs from the record's (or
    nothing is in force — a pre-history record). An old record whose
    value matches the in-force run is a no-op under the merge whether it
    is a redelivered collapsed duplicate or a coincidental novel record
    (so at-least-once replay NEVER quarantines), while any old record
    that would change the history is caught. Violators are excluded from
    the merge (history stays byte-identical), land in
    ``<path>_quarantine/batch_id=<id>`` (overwrite per batch id —
    idempotent under replay, the DLQ pattern ``streaming/dlq.py``), and
    flag their keys for a full-changelog rebuild: :meth:`needs_rebuild`
    lists them, :meth:`rebuild_keys` recomputes exactly those keys from
    the authoritative changelog and clears the flag. After a rebuild the
    quarantined record IS history, so a replay of the offending batch
    re-adjudicates it as a safe duplicate — the quarantine self-heals.

    Idempotence: the merge is a deterministic function of
    (existing history ∪ batch records), and redelivered batches dedup to
    a no-op — so a restart that replays a committed batch, or a full
    replay over a populated table with a fresh checkpoint, converges to
    the same table (pinned in ``tests/test_cdc_scd2.py``).

    Scale: each batch touches |affected buckets| partitions, reads back
    only those buckets' history (at 100 TB: partition-pruned scan; the
    read-back is persisted for the batch because the guard and the merge
    both consume it), and shuffles once on ``user_id``. Bucket count
    trades write amplification against small files exactly like Delta
    MERGE file sizing and evolves offline via :meth:`resplit`; the
    merge result is materialized exactly once, into a staging sibling
    directory, then swapped in per affected bucket
    (:meth:`_swap_affected_buckets`)."""

    N_BUCKETS = 8
    BUCKET_COL = "bucket"

    @property
    def quarantine_path(self) -> str:
        return self.path.rstrip("/") + "_quarantine"

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod("user_id", F.lit(self.n_buckets)).cast("int")

    @staticmethod
    def merge_plan(cand: DataFrame) -> DataFrame:
        """The MERGE's pure plan: change records (columns ``user_id,
        attr, ts_s, event_id, bucket`` — new candidates already unioned
        with the affected buckets' read-back history) → rebuilt version
        rows. Exposed separately from :meth:`merge_batch` so its shape
        is plan-lintable like every registered query: exact-duplicate
        dedup, LAG run-collapse, and ROW_NUMBER/LEAD reversioning ALL
        partition on ``user_id`` — one hash exchange end to end, no
        global window (pinned in ``tests/test_cdc_scd2.py``).

        The dedup is LAG-based rather than ``dropDuplicates``: exact
        copies share the full ``(user_id, ts_s, event_id)`` key, so in
        the user-partitioned (ts_s, event_id) ordering every copy is
        ADJACENT to another and a lag-equality filter removes all but
        one (k identical rows: each of rows 2..k sees an identical
        predecessor — lag reads the pre-filter sequence). A
        ``dropDuplicates`` would shuffle on the 3-column key and the
        windows would shuffle AGAIN on user_id; the lag form rides the
        windows' own exchange (plan-pinned: exactly one
        hashpartitioning — found when the shape test caught the
        two-exchange version)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
        deduped = (
            cand.withColumn(
                "same_key",
                F.lag("ts_s").over(w).eqNullSafe(F.col("ts_s"))
                & F.lag("event_id").over(w).eqNullSafe(F.col("event_id")),
            )
            .filter(~F.col("same_key"))
            .drop("same_key")
        )
        collapsed = (
            deduped.withColumn("prev_attr", F.lag("attr").over(w))
            .filter(
                F.col("prev_attr").isNull()
                | (F.col("prev_attr") != F.col("attr"))
            )
            .drop("prev_attr")
        )
        return collapsed.select(
            "user_id",
            "attr",
            F.row_number().over(w).cast("bigint").alias("version_n"),
            F.col("ts_s").alias("valid_from_s"),
            F.lead("ts_s").over(w).alias("valid_to_s"),
            "event_id",
            "bucket",
        ).withColumn("is_current", F.col("valid_to_s").isNull())

    @staticmethod
    def guard_plan(hist: DataFrame, cand: DataFrame) -> DataFrame:
        """The out-of-order guard's pure plan: given the affected
        buckets' existing history and the batch's change records, return
        the VIOLATORS — records at or before their key's head whose merge
        would change the history (see the class docstring for the exact
        rule and why redelivered duplicates are never violators).

        Shape: one aggregate over the (bucket-pruned) history for the
        per-key head, a batch-sized equi-join to tag old records, then a
        user_id equi-join with a range predicate back to the history to
        find the in-force version at each old record's position — the
        standard point-in-interval lookup, batch-sized on the left. Every
        join keys on user_id; nothing store-sized is ever broadcast or
        collected."""
        from pyspark.sql import functions as F

        pos = F.struct(
            F.col("ts_s").alias("t"), F.col("event_id").alias("e")
        )
        # per-key max DELIVERED position
        head_pos = F.struct(
            F.col("seen_ts_s").alias("t"), F.col("seen_event_id").alias("e")
        )
        head = hist.groupBy("user_id").agg(F.max(head_pos).alias("__head"))
        old = (
            cand.join(head, "user_id")
            .filter(pos <= F.col("__head"))
            .drop("__head")
        )
        r, h = old.alias("r"), hist.alias("h")
        inforce = r.join(
            h,
            (F.col("r.user_id") == F.col("h.user_id"))
            & (
                (F.col("h.valid_from_s") < F.col("r.ts_s"))
                | (
                    (F.col("h.valid_from_s") == F.col("r.ts_s"))
                    & (F.col("h.event_id") <= F.col("r.event_id"))
                )
            ),
            "left",
        ).groupBy("r.user_id", "r.attr", "r.ts_s", "r.event_id", "r.bucket").agg(
            F.max(
                F.struct(
                    F.col("h.valid_from_s").alias("t"),
                    F.col("h.event_id").alias("e"),
                    F.col("h.attr").alias("a"),
                )
            ).alias("__inforce")
        )
        # a record with NO in-force version (older than the key's first
        # version) left-joins to an all-null h row, and max(struct) of it
        # is a struct with null FIELDS, not a null struct — test the field
        return inforce.filter(
            F.col("__inforce.t").isNull()
            | (F.col("__inforce.a") != F.col("attr"))
        ).select(
            "user_id",
            "attr",
            "ts_s",
            "event_id",
            "bucket",
            F.when(F.col("__inforce.t").isNull(), "pre_history")
            .otherwise("out_of_order")
            .alias("reason"),
        )

    @classmethod
    def _versioned(cls, cand: DataFrame, seen_src: DataFrame) -> DataFrame:
        """:meth:`merge_plan` over ``cand``, each row carrying its key's
        max delivered position over ``seen_src`` (columns ``user_id,
        ts_s, event_id``) as ``seen_ts_s``/``seen_event_id`` — the stored
        row layout shared by the merge and the rebuild."""
        from pyspark.sql import functions as F

        seen = seen_src.groupBy("user_id").agg(
            F.max(
                F.struct(F.col("ts_s").alias("t"), F.col("event_id").alias("e"))
            ).alias("__seen")
        )
        return cls.merge_plan(cand).join(seen, "user_id").select(
            "user_id",
            "attr",
            "version_n",
            "valid_from_s",
            "valid_to_s",
            "event_id",
            "bucket",
            "is_current",
            F.col("__seen.t").alias("seen_ts_s"),
            F.col("__seen.e").alias("seen_event_id"),
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        present = self.exists()  # syncs n_buckets from meta BEFORE bucketing
        # cand persists (batch-bounded): unpersisted, the source slice was
        # re-read and re-bucketed for every consumer — the bucket collect,
        # the guard, the seen aggregate and the merge union (three to four
        # evaluations per batch, r14 phase profile; guide §5)
        cand = batch_df.select(
            "user_id", "attr", "ts_s", "event_id"
        ).withColumn("bucket", self._bucket_expr()).persist()
        released = [cand]
        buckets = [
            r.bucket for r in cand.select("bucket").distinct().collect()
        ]
        if not buckets:
            cand.unpersist()
            return
        hist = None
        if present:
            hist = (
                self._read_store(spark)
                .filter(F.col("bucket").isin(buckets))
                .persist()
            )
        try:
            if hist is not None:
                # violators persist (violation-sized, normally empty): the
                # emptiness check, the quarantine write and the merge's
                # anti-join each re-ran the whole guard otherwise
                violators = self.guard_plan(hist, cand).persist()
                released.append(violators)
                if not violators.isEmpty():
                    violators.write.mode("overwrite").parquet(
                        f"{self.quarantine_path}/batch_id={batch_id}"
                    )
                    cand = cand.join(
                        violators.select("user_id", "ts_s", "event_id"),
                        ["user_id", "ts_s", "event_id"],
                        "left_anti",
                    )
                    # violators may have been a bucket's only records —
                    # re-derive so untouched buckets stay byte-identical
                    buckets = [
                        r.bucket
                        for r in cand.select("bucket").distinct().collect()
                    ]
                    if not buckets:
                        return
            # per-key max DELIVERED position: safe batch records ∪ the
            # read-back rows' recorded positions (guard soundness — see
            # class docstring; quarantined records never advance it)
            seen_src = cand.select("user_id", "ts_s", "event_id")
            if hist is not None:
                seen_src = seen_src.unionByName(
                    hist.select(
                        "user_id",
                        F.col("seen_ts_s").alias("ts_s"),
                        F.col("seen_event_id").alias("event_id"),
                    )
                )
                old = hist.filter(F.col("bucket").isin(buckets)).select(
                    "user_id",
                    "attr",
                    F.col("valid_from_s").alias("ts_s"),
                    "event_id",
                    "bucket",
                )
                cand = cand.unionByName(old)
            self._swap_affected_buckets(
                self._versioned(cand, seen_src), buckets
            )
        finally:
            if hist is not None:
                hist.unpersist()
            for df in released:
                df.unpersist()
        if not present:
            self._write_meta()

    def _swap_affected_buckets(
        self, versioned: DataFrame, buckets: list[int]
    ) -> None:
        """Materialize the merge result ONCE and swap it in (r14,
        guide §5): one write job per batch, partitioned-by-bucket to the
        staging sibling (:meth:`_stage` — a different path, so no extra
        materialization pass is needed to cut lineage from the store),
        then only the affected bucket directories are replaced through
        :func:`swap_dirs` (local fs / HDFS: O(1) metadata ops per
        bucket).

        Crash tolerance: a crash at any step of the swap reopens as
        exactly the pre-merge buckets (any backup's live directory still
        missing ⇒ every bucket rolls back) or exactly the merged ones;
        either way the idempotent batch replay converges."""
        swap_dirs(
            self.path,
            self._stage(versioned),
            [f"bucket={b}" for b in buckets],
        )

    def needs_rebuild(self, spark: SparkSession) -> DataFrame:
        """Keys whose history is incomplete: distinct user_ids in the
        quarantine table. Empty DataFrame when nothing is flagged."""
        import glob

        if not glob.glob(os.path.join(self.quarantine_path, "batch_id=*")):
            return spark.createDataFrame([], "user_id BIGINT")
        return (
            spark.read.parquet(self.quarantine_path)
            .select("user_id")
            .distinct()
        )

    def rebuild_keys(self, spark: SparkSession, changelog: DataFrame) -> int:
        """Full-changelog rebuild of the flagged keys (VERDICT r10 #1):
        recompute exactly the quarantined users' histories from the
        authoritative changelog (columns ``user_id, attr, ts_s,
        event_id`` — the raw-event retention the delivery contract
        assumes for this case), splice them into the affected buckets,
        and clear the quarantine. Returns the number of rebuilt keys
        (bounded driver count — the flagged-key set, not the store).

        The rebuild IS :meth:`merge_plan` over the flagged keys' full
        changelogs — the same plan the ``lake_scd2_build`` batch query
        pins — so one code path defines the SCD2 semantics. Unflagged
        users sharing a bucket are carried over untouched."""
        from pyspark.sql import functions as F

        self.exists()  # sync n_buckets from meta before bucketing
        flagged = self.needs_rebuild(spark).persist()
        try:
            n = flagged.count()
            if n == 0:
                return 0
            recs = (
                changelog.select("user_id", "attr", "ts_s", "event_id")
                .join(F.broadcast(flagged), "user_id", "left_semi")
                .withColumn("bucket", self._bucket_expr())
            )
            buckets = [
                r.bucket for r in recs.select("bucket").distinct().collect()
            ]
            rebuilt = self._versioned(recs, recs)
            keep = (
                self._read_store(spark)
                .filter(F.col("bucket").isin(buckets))
                .join(F.broadcast(flagged), "user_id", "left_anti")
            )
            self._swap_affected_buckets(keep.unionByName(rebuilt), buckets)
        finally:
            flagged.unpersist()
        shutil.rmtree(self.quarantine_path)
        return n

    def read(self, spark: SparkSession) -> DataFrame:
        self._sync_meta()
        return self._read_store(spark)
