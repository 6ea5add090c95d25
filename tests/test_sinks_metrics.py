"""Keyed-sink convergence (put-if-absent without checkpoint help) and the
StreamingQueryListener metrics pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_DIR


def _final_plan_nodes(df):
    """The executed plan's nodes, walking the AQE-final tree (planfp's
    rules) through query stages to the real operators."""
    stack, nodes = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        nodes.append(node)
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return nodes


def _keyed(ids):
    """``ids`` (a DataFrame with column ``id``) as a keyed-sink batch."""
    return ids.select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )


def _files_per_bucket(sink) -> list[int]:
    return [len(sink._bucket_files(b)) for b in range(sink.n_buckets)]


def test_keyed_sink_converges_without_checkpoint(spark, tmp_path):
    """Re-delivering overlapping batches — with NO shared checkpoint —
    leaves exactly one row per key (DynamoDB-put convergence, S8/T2)."""
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    keyed = ev.select(
        F.sha2(F.concat_ws("|", "event_id", "event_type"), 256).alias("k"),
        "event_id",
        "value",
    )
    sink = KeyedParquetSink(str(tmp_path / "kv"), "k")
    first_half = keyed.filter(F.col("event_id") % 2 == 0)
    overlap = keyed.filter(F.col("event_id") % 3 == 0)  # overlaps both halves
    sink.upsert_batch(first_half, 0)
    sink.upsert_batch(overlap, 1)
    sink.upsert_batch(keyed, 2)  # full redelivery
    sink.upsert_batch(keyed, 3)  # and again
    out = sink.read(spark)
    assert out.count() == keyed.count()
    assert out.select("k").distinct().count() == keyed.count()


def test_streaming_metrics_listener(spark):
    """Per-batch telemetry lands in the metrics table and the reference's
    minute-rollup shape applies to it."""
    from aws_localstack_stream_processing_spark.streaming.metrics import (
        MetricsListener,
        metrics_df,
    )
    from aws_localstack_stream_processing_spark.streaming.source import events_stream

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            events_stream(spark, SF_DIR)
            .groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is asynchronous; give the bus a moment
        import time

        for _ in range(20):
            if listener.rows:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    assert listener.rows, "no progress events captured"
    mdf = metrics_df(spark, listener)
    total_rows = mdf.agg(F.sum("num_input_rows")).collect()[0][0]
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert total_rows == n_events
    # the reference's A1 rollup shape applies directly to engine telemetry
    rollup = mdf.groupBy("query_id").agg(
        F.sum("num_input_rows").alias("rows"),
        F.avg("process_ms").alias("avg_ms"),
    )
    assert rollup.count() >= 1


def test_keyed_sink_never_broadcasts_the_store(spark, tmp_path):
    """r10 plan audit: the put-if-absent anti-join must broadcast only
    batch-sized key sets — a plan that broadcasts the STORE's key column
    (the naive LeftAnti BuildRight) grows its broadcast without bound as
    the sink fills. Pin: every BroadcastExchange in the upsert plan is
    fed by the batch/hits side, never by the store's parquet scan."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    seed = spark.range(2000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    sink.upsert_batch(seed, 0)

    # rebuild the exact upsert plan for a second batch and inspect it
    batch = spark.range(1990, 2100).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    # persisted as in the sink: the cache keeps the anti join above the
    # routing shuffle (unpersisted, Spark pushes it below)
    fresh = sink._routed(batch, ["key"]).persist()
    seen = spark.read.parquet(sink.path).select("key")
    new = KeyedParquetSink.probe_plan(seen, fresh, "key")
    new.collect()
    plan = new._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    import re

    depth = [re.match(r"^[\s:+\-]*", ln).end() for ln in lines]
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        # the broadcast subtree must not contain the store scan
        j = i + 1
        subtree = []
        while j < len(lines) and depth[j] > depth[i]:
            subtree.append(lines[j])
            j += 1
        scan_lines = [
            s for s in subtree if "FileScan parquet" in s or "Scan parquet" in s
        ]
        # the semi-probe broadcast carries only the batch keys (built
        # from spark.range, no parquet scan); the anti broadcast carries
        # `hits`, whose lineage includes the store scan BUT only after
        # the semi join bounded it to batch size — so a store scan may
        # appear under a broadcast ONLY together with that semi join
        if scan_lines:
            assert any("LeftSemi" in s for s in subtree), (
                "store scan broadcast without a batch-key semi bound:\n"
                + "\n".join(subtree[:10])
            )
    # and the store itself is never the BUILD side of the final anti join
    anti = [ln for ln in lines if "LeftAnti" in ln]
    assert anti, plan
    fresh.unpersist()
    # convergence semantics unchanged: replay the same batch, count stable
    sink.upsert_batch(batch, 1)
    n1 = sink.read(spark).count()
    sink.upsert_batch(batch, 1)
    assert sink.read(spark).count() == n1 == 2100


def test_keyed_sink_probe_prunes_to_affected_buckets(spark, tmp_path):
    """r10 layout lever: the store is hash-bucketed by key, so a batch
    that touches k buckets must probe ONLY those k hive partitions — the
    probe's store scan carries a __bucket partition filter and its input
    files stay inside the affected bucket directories. Without pruning
    the per-batch probe is a full store scan, which at 100 TB is the
    sink's entire cost."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    seed = spark.range(4000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    sink.upsert_batch(seed, 0)
    store = spark.read.parquet(sink.path)
    all_buckets = {
        r[0] for r in store.select(sink.BUCKET_COL).distinct().collect()
    }
    assert len(all_buckets) == sink.N_BUCKETS  # 4000 keys fill all 16

    # a 3-key batch touches ≤3 buckets; rebuild the sink's pruned probe
    batch = spark.range(3).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    fresh = sink._routed(batch, ["key"]).persist()
    buckets = [r[0] for r in fresh.select(sink.BUCKET_COL).distinct().collect()]
    assert 1 <= len(buckets) <= 3
    seen = (
        spark.read.parquet(sink.path)
        .filter(F.col(sink.BUCKET_COL).isin(buckets))
        .select("key")
    )
    probe = KeyedParquetSink.probe_plan(seen, fresh, "key")
    probe.collect()
    # partition pruning is visible in BOTH the plan and the scan metric:
    # the store scan's PartitionFilters carry the __bucket IN (...) and
    # numFiles counts only the affected buckets' files
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{sink.BUCKET_COL}" in plan, plan
    import glob
    import os

    files_in = lambda pat: len(  # noqa: E731
        glob.glob(os.path.join(sink.path, pat, "*.parquet"))
    )
    total_files = files_in(f"{sink.BUCKET_COL}=*")
    affected_files = sum(
        files_in(f"{sink.BUCKET_COL}={b}") for b in buckets
    )
    scanned = [
        int(node.metrics().apply("numFiles").value())
        for node in _final_plan_nodes(probe)
        if node.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert affected_files in scanned, (scanned, affected_files, total_files)
    assert all(s < total_files for s in scanned)
    # and the pruned probe still answers correctly: all 3 keys are dups
    assert probe.count() == 0
    fresh.unpersist()
    # a genuinely new key in an already-probed bucket still lands
    sink.upsert_batch(
        spark.range(4000, 4001).select(
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("v").alias("payload"),
        ),
        1,
    )
    assert sink.read(spark).count() == 4001


def test_keyed_sink_bucket_compaction(spark, tmp_path):
    """Append-only bucketed stores accrue one file per (batch, bucket);
    compact() must rewrite ONLY the over-threshold buckets down to one
    file each, leave other buckets' files untouched, and preserve both
    the read view and the put-if-absent contract."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    # 12 batches x ~200 keys: every bucket collects ~12 small files
    for b in range(12):
        sink.upsert_batch(
            spark.range(b * 200, (b + 1) * 200).select(
                F.sha2(F.col("id").cast("string"), 256).alias("key"),
                F.lit(f"v{b}").alias("payload"),
            ),
            b,
        )
    files = lambda b: sorted(  # noqa: E731
        glob.glob(os.path.join(sink.path, f"{sink.BUCKET_COL}={b}", "*.parquet"))
    )
    before_view = sorted(
        (r.key, r.payload) for r in sink.read(spark).collect()
    )
    assert len(before_view) == 2400
    pre_counts = {b: len(files(b)) for b in range(sink.N_BUCKETS)}
    assert max(pre_counts.values()) > 8  # small-files problem is real

    compacted = sink.compact(spark, max_files_per_bucket=8)
    assert compacted  # something was over threshold
    untouched = [b for b in range(sink.N_BUCKETS) if b not in compacted]
    for b in compacted:
        assert len(files(b)) == 1, f"bucket {b} not compacted"
    for b in untouched:
        assert len(files(b)) == pre_counts[b], f"bucket {b} was rewritten"
    # the read view is byte-identical
    after_view = sorted(
        (r.key, r.payload) for r in sink.read(spark).collect()
    )
    assert after_view == before_view
    # and the put-if-absent contract still holds over the compacted store
    sink.upsert_batch(
        spark.range(0, 300).select(  # 200 dups + 100 new (2400..2499 absent)
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("vX").alias("payload"),
        ),
        99,
    )
    assert sink.read(spark).count() == 2400  # all 300 were dups of batch 0+1
    sink.upsert_batch(
        spark.range(2400, 2500).select(
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("vN").alias("payload"),
        ),
        100,
    )
    assert sink.read(spark).count() == 2500


# -- round 11: compaction concurrency guard, legacy layout, resplit ---------


def test_compact_aborts_on_concurrent_append(spark, tmp_path):
    """ADVICE r10 (medium): dynamic partition overwrite would silently
    delete rows appended to a todo bucket between the read and the swap.
    compact() must re-list each todo bucket after materializing the
    rewrite and ABORT on any change — nothing written, the concurrently
    appended rows intact."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    for b in range(10):
        sink.upsert_batch(
            spark.range(b * 100, (b + 1) * 100).select(
                F.sha2(F.col("id").cast("string"), 256).alias("key"),
                F.lit(f"v{b}").alias("payload"),
            ),
            b,
        )
    racer = spark.range(5000, 5050).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("raced").alias("payload"),
    )

    def _concurrent_append():
        sink._compact_pre_swap = None  # the racer's upsert must not recurse
        sink.upsert_batch(racer, 999)

    sink._compact_pre_swap = _concurrent_append
    n_before = 1000
    with pytest.raises(RuntimeError, match="changed during the rewrite"):
        sink.compact(spark, max_files_per_bucket=8)
    # nothing lost: original rows AND the raced batch both readable
    assert sink.read(spark).count() == n_before + 50
    assert sink.read(spark).filter("payload = 'raced'").count() == 50
    # with the stream quiet, the same compaction succeeds
    compacted = sink.compact(spark, max_files_per_bucket=8)
    assert compacted
    for b in compacted:
        assert (
            len(glob.glob(os.path.join(
                sink.path, f"{sink.BUCKET_COL}={b}", "*.parquet"
            ))) == 1
        )
    assert sink.read(spark).count() == n_before + 50


def test_legacy_flat_store_fails_loudly(spark, tmp_path):
    """ADVICE r10: a store written by the pre-bucketing flat layout must
    not silently read as absent (probe skipped → duplicate keys). The
    sink fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    path = str(tmp_path / "kv")
    legacy = spark.range(500).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("old").alias("payload"),
    )
    legacy.write.mode("overwrite").parquet(path)  # flat layout
    sink = KeyedParquetSink(path, "key")
    batch = spark.range(400, 600).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("new").alias("payload"),
    )
    with pytest.raises(RuntimeError, match="legacy flat-layout"):
        sink.upsert_batch(batch, 0)


def test_keyed_sink_resplit_doubles_buckets(spark, tmp_path):
    """VERDICT r10 #6 done-criterion: store built at 16 buckets, resplit
    to 32 — redelivery still converges (put-if-absent preserved), probes
    prune to the NEW bucket layout, and a fresh sink instance adopts the
    on-disk count from the meta sidecar."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    seed = spark.range(4000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    sink.upsert_batch(seed, 0)
    assert sink.n_buckets == 16
    sink.resplit(spark, 32)
    assert sink.n_buckets == 32
    dirs = {
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(sink.path, f"{sink.BUCKET_COL}=*"))
    }
    assert max(dirs) >= 16 and len(dirs) == 32  # 4000 keys fill all 32
    assert sink.read(spark).count() == 4000
    # redelivery convergence over the resplit store
    sink.upsert_batch(seed, 1)
    assert sink.read(spark).count() == 4000
    # a fresh instance (constructed with the DEFAULT count) adopts 32
    # from the meta sidecar and probes the right buckets
    sink2 = KeyedParquetSink(sink.path, "key")
    batch = spark.range(3990, 4010).select(  # 10 dups + 10 new
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v2").alias("payload"),
    )
    sink2.upsert_batch(batch, 2)
    assert sink2.n_buckets == 32
    assert sink2.read(spark).count() == 4010
    # and the pruned probe still reads only affected buckets
    fresh = sink2._routed(batch, ["key"]).persist()
    buckets = [
        r[0] for r in fresh.select(sink2.BUCKET_COL).distinct().collect()
    ]
    seen = (
        spark.read.parquet(sink2.path)
        .filter(F.col(sink2.BUCKET_COL).isin(buckets))
        .select("key")
    )
    probe = KeyedParquetSink.probe_plan(seen, fresh, "key")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{sink2.BUCKET_COL}" in plan, plan
    assert probe.count() == 0  # every key already present
    fresh.unpersist()


def test_store_schema_cache_survives_batches_and_resets_on_resplit(
    spark, tmp_path
):
    """r13 (OPTIMIZATION_r13.md): the sink caches the store schema after
    the first read so later per-batch probes skip Spark's
    schema-inference job. The cached-schema read must return the same
    rows as a fresh inferred read, stay correct across further upserts,
    and reset through resplit (the one rewrite that mutates layout
    state)."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "k", n_buckets=4)
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink.upsert_batch(b0, 0)
    assert sink._store_schema is None  # first write probes nothing
    rows0 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert sink._store_schema is not None  # populated by the read
    # second batch: probe path runs entirely on the cached schema
    b1 = spark.createDataFrame([("b", 9), ("c", 3)], "k string, v int")
    sink.upsert_batch(b1, 1)
    rows1 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert rows1 == [("a", 1), ("b", 2), ("c", 3)]  # put-if-absent kept b=2
    assert rows0 == [("a", 1), ("b", 2)]
    # resplit rewrites the store and resets the cache; rows unchanged
    sink.resplit(spark, 8)
    assert sink._store_schema is None
    rows2 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert rows2 == rows1


# -- one shuffle per batch: routed on the bucket, one file per bucket -------


def test_keyed_sink_writes_one_file_per_bucket_per_batch(spark, tmp_path):
    """Each bucket of a batch goes to one write task, so every batch —
    the first write and the probe path alike — adds exactly one file to
    each bucket it touches, however many partitions the batch arrives
    in. Per-(task, bucket) files made every later probe open tasks x
    batches files per bucket."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    # 12k-key batches in 8 input partitions: the first write, then a
    # probe-path batch half present (6k dups, 6k new), then all new
    batches = [(0, 12_000), (6_000, 18_000), (18_000, 30_000)]
    before = [0] * sink.N_BUCKETS
    for i, (lo, hi) in enumerate(batches):
        batch = _keyed(spark.range(lo, hi, numPartitions=8))
        assert batch.rdd.getNumPartitions() == 8
        sink.upsert_batch(batch, i)
        after = _files_per_bucket(sink)
        # 6k+ new keys touch all 16 buckets
        assert [a - b for a, b in zip(after, before)] == [1] * sink.N_BUCKETS, (
            i,
            before,
            after,
        )
        before = after
    assert sink.read(spark).count() == 30_000


def test_routed_batch_shuffles_once_on_the_bucket(spark, tmp_path):
    """Plan lint: the routed batch (what every put-if-absent write takes)
    has exactly ONE shuffle exchange, hash-partitioned on the bucket
    column — the within-batch dedup needs no exchange of its own, since
    the bucket is a function of the key. A dedup on the key alone shuffles
    on the key and leaves the write one file per (task, bucket)."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    routed = sink._routed(
        _keyed(spark.range(0, 12_000, numPartitions=8)), ["key"]
    )
    routed.collect()
    exchanges = [
        node.outputPartitioning().toString()
        for node in _final_plan_nodes(routed)
        if node.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith(f"hashpartitioning({sink.BUCKET_COL}#"), (
        exchanges
    )


def test_keyed_sink_dedups_copies_across_input_partitions(spark, tmp_path):
    """Within-batch copies of one key that sit in DIFFERENT input
    partitions are stored once — the dedup runs after the bucket shuffle
    brings them together — and a later batch that redelivers them
    appends nothing."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    # ids k, k+5000, k+10000, k+15000 carry one key; range partitions
    # hold contiguous id blocks, so each key's 4 copies span 4 partitions
    batch = _keyed(
        spark.range(0, 20_000, numPartitions=8).select(
            (F.col("id") % 5_000).alias("id")
        )
    )
    spread = (
        batch.withColumn("part", F.spark_partition_id())
        .groupBy("key")
        .agg(F.countDistinct("part").alias("parts"))
    )
    assert spread.filter("parts < 4").count() == 0
    sink.upsert_batch(batch, 0)
    out = sink.read(spark)
    assert out.count() == 5_000
    assert out.select("key").distinct().count() == 5_000
    files = _files_per_bucket(sink)
    sink.upsert_batch(batch, 1)  # redelivery, copies and all
    assert sink.read(spark).count() == 5_000
    assert _files_per_bucket(sink) == files


def test_resplit_writes_one_file_per_bucket(spark, tmp_path):
    """resplit routes its staged rows on the new bucket, so after a
    resplit every bucket directory holds exactly one file — however many
    per-batch files each old bucket had accrued."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    for i in range(4):
        sink.upsert_batch(
            _keyed(spark.range(i * 1_000, (i + 1) * 1_000, numPartitions=4)),
            i,
        )
    assert min(_files_per_bucket(sink)) > 1  # old buckets hold many files
    rows = sorted(r.key for r in sink.read(spark).collect())
    sink.resplit(spark, 32)
    assert _files_per_bucket(sink) == [1] * 32
    assert sorted(r.key for r in sink.read(spark).collect()) == rows
