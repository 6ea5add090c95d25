"""Streaming near-duplicate dedup — the ingest-time sibling of
``dedup_incremental_lsh`` (r13, VERDICT r12 #2).

At 100 TB corpus dedup is not a batch job: ingest runs continuously, and
every arriving micro-batch must be gated against the RETAINED corpus —
MinHash the new documents, probe the standing band index (bucket-pruned
store read, never a corpus scan), verify exact Jaccard on the candidate
pairs only, and append the SURVIVORS (docs + bands) so the next batch
probes an index that already contains them. This is the reference's keyed
put-if-absent sink (signer/index.js:229-242) generalized from
content-equality to content-similarity: the "key" is the document's band
set, collisions are candidates, and the convergence contract under
at-least-once delivery is carried by the stores' composite-key
put-if-absent semantics (``BandIndexSink`` / ``KeyedParquetSink``).

Delivery plan (``_staged_doc_batches``): 3 mtime-ordered micro-batches —
held-out originals, planted near-dups of CORPUS docs per batch, and (batch
2 only) planted near-dups of BATCH-0 held-out docs, which can only match
if batch 0's survivors really entered the index: the retained-index growth
path is exercised, not just the static corpus probe.

Semantics, pinned by the oracle (exact, not approximate-vs-approximate:
both sides run the SAME minhash/band functions, so the verdict is
bit-for-bit):

- index before batch b = corpus ∪ shingled survivors of batches < b;
- a batch doc matches an index doc iff they share a band bucket AND
  exact Jaccard ≥ the family threshold (``llm_ops._JACCARD_THRESHOLD``);
- within-batch pairs do NOT match each other (the probe excludes the
  current batch's own doc ids — which is also exactly what makes a
  redelivered batch idempotent: the re-probe sees the pre-batch index);
- docs with < 3 words carry no shingles: never matched, never indexed
  (the batch family's rule).

The oracle unrolls the 3-batch survivorship chain as CTE stages — the
non-recursive closed form of the streaming process, exactly like
``stream_watermark_late_drop`` unrolls the watermark trajectory.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing, text
from ..streaming.resilience import run_bounded
from ..streaming.source import cached_stage, replay_stream
from .dialect import (
    arr_distinct,
    arr_intersect_len,
    arr_len,
    arr_union_len,
    intdiv,
    tbl,
    views,
)
from .llm_ops import _BAND_ROWS, _JACCARD_THRESHOLD, _N_SEEDS
from .registry import query

_N_BANDS = _N_SEEDS // _BAND_ROWS
_N_STORE_BUCKETS = 8  # fresh per-run stores; harness-sized bucket count


def _corpus_sql(d: str) -> str:
    """The standing corpus: same retained slice as the batch family."""
    return f"SELECT doc_id, text FROM {tbl('documents', d)} WHERE doc_id % 5 <> 0"


def _incoming_sql(d: str) -> str:
    """Incoming docs with their micro-batch assignment ``b`` ∈ {0,1,2}:

    - held-out originals (``doc_id % 5 = 0``, new id +4e6) spread over the
      3 batches by ``(doc_id % 15) // 5``;
    - near-dups of CORPUS docs (``doc_id % 20 = 1``, id +3e6, the batch
      family's 'near dup marker' plant) spread by ``((doc_id-1) % 60) // 20``;
    - near-dups of BATCH-0 HELD-OUT docs (``doc_id % 15 = 0``, id +5e6),
      all in batch 2 — matchable only through index growth."""
    docs = tbl("documents", d)
    b1 = intdiv("(doc_id % 15)", "5", d)
    b2 = intdiv("((doc_id - 1) % 60)", "20", d)
    return f"""
  SELECT doc_id + 4000000 AS doc_id, text, CAST({b1} AS INT) AS b
  FROM {docs} WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, concat('near dup marker ', text) AS text,
         CAST({b2} AS INT) AS b
  FROM {docs} WHERE doc_id % 20 = 1
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, concat('near dup marker ', text) AS text,
         2 AS b
  FROM {docs} WHERE doc_id % 15 = 0
"""


def _stream_dedup_lsh_sql(d: str) -> str:
    """Closed form of the 3-batch streaming gate (module docstring):
    shingle/sign/band EVERY doc once, then unroll the survivorship chain
    — stage b probes ``idx{b}`` (corpus ∪ earlier survivors), verified
    matches accumulate, survivors extend the index."""
    sig_cols = ", ".join(
        f"{hashing.minhash_sig('sh', i, d)} AS m{i}" for i in range(_N_SEEDS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" md5(concat(m{2 * b}, m{2 * b + 1})) AS bv FROM sig"
        for b in range(_N_BANDS)
    )
    stages = []
    for b in range(3):
        stages.append(
            f"""cand{b} AS (
  SELECT DISTINCT ib.doc_id AS in_doc, cb.doc_id AS corpus_doc
  FROM bands ib
  JOIN inc i ON i.doc_id = ib.doc_id AND i.b = {b}
  JOIN bands cb ON cb.band = ib.band AND cb.bv = ib.bv
  JOIN idx{b} c ON c.doc_id = cb.doc_id
),
mt{b} AS (
  SELECT * FROM (
    SELECT c.in_doc, c.corpus_doc,
           CAST({arr_intersect_len('si.sh', 'sc.sh', d)} AS DOUBLE)
             / {arr_union_len('si.sh', 'sc.sh', d)} AS jaccard
    FROM cand{b} c
    JOIN shing si ON si.doc_id = c.in_doc
    JOIN shing sc ON sc.doc_id = c.corpus_doc
  ) v WHERE jaccard >= {_JACCARD_THRESHOLD}
),
idx{b + 1} AS (
  SELECT doc_id FROM idx{b}
  UNION ALL
  SELECT s.doc_id FROM shing s
  JOIN inc i ON i.doc_id = s.doc_id AND i.b = {b}
  WHERE s.doc_id NOT IN (SELECT in_doc FROM mt{b})
)"""
        )
    stage_sql = ",\n".join(stages)
    return f"""
WITH corpus AS ({_corpus_sql(d)}),
inc AS ({_incoming_sql(d)}),
alldocs AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT doc_id, text FROM inc
),
shing AS (
  SELECT doc_id, {arr_distinct(text.shingles('w', 3, d), d)} AS sh
  FROM (SELECT doc_id, {text.words('text', d)} AS w FROM alldocs) tw
  WHERE {arr_len('w', d)} >= 3
),
sig AS (SELECT doc_id, {sig_cols} FROM shing),
bands AS (
{bands}
),
idx0 AS (SELECT doc_id FROM corpus),
{stage_sql}
SELECT in_doc,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(corpus_doc) AS first_match_doc,
       round(MAX(jaccard), 6) AS best_jaccard
FROM (
  SELECT * FROM mt0
  UNION ALL SELECT * FROM mt1
  UNION ALL SELECT * FROM mt2
) m
GROUP BY in_doc
"""


def _staged_doc_batches(sf_dir: str) -> str:
    """Stage the incoming docs (``_incoming_sql``) as 3 single-parquet
    files (batch k = rows with ``b = k``), replayed as a deterministic
    micro-batch sequence by ``streaming.source.replay_stream`` (the
    ``staged_cdc_slices`` harness pattern)."""

    def build(out: str, src: str) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')"
        )
        for k in range(3):
            con.execute(
                f"COPY (SELECT doc_id, text FROM ({_incoming_sql('duck')}) t "
                f"WHERE b = {k} ORDER BY doc_id) "
                f"TO '{out}/f{k}.parquet' (FORMAT PARQUET)"
            )
        con.close()

    return cached_stage("lshdocs", sf_dir, "documents", build)


def _shingled(df: DataFrame) -> DataFrame:
    """Word-3-gram shingle sets — the batch family's exact expressions
    (``llm_ops._dedup_incremental_sql``), so streaming and batch verdicts
    are bit-identical."""
    toks = df.select("doc_id", F.split("text", " ").alias("w"))
    return toks.filter(F.expr("size(w) >= 3")).select(
        "doc_id",
        F.expr(f"array_distinct({text.shingles('w', 3, 'spark')})").alias(
            "sh"
        ),
    )


def _banded(shing: DataFrame) -> DataFrame:
    """(doc_id, band, bv) rows from the shingle sets — same MinHash
    signature and banding as the batch family."""
    sig = shing.select(
        "doc_id",
        *[
            F.expr(hashing.minhash_sig("sh", i, "spark")).alias(f"m{i}")
            for i in range(_N_SEEDS)
        ],
    )
    band_arr = F.array(
        *[
            F.md5(F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}")))
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_arr).alias("band", "bv"))


def _seeded_corpus_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per testdata state, through the stage cache like the
    CDC staging) the corpus-seeded stores — ``shingles/``
    (KeyedParquetSink, doc_id → shingle set) and ``bands/``
    (BandIndexSink) — that every run copies fresh: the stream MUTATES its
    stores, so trials must not share them, but the corpus seeding pass
    (the expensive part at bench SF) need only ever run once."""
    from ..streaming.sinks import BandIndexSink, KeyedParquetSink

    def build(out: str, src: str) -> None:
        views(spark, sf_dir, "documents")
        csh = _shingled(spark.sql(_corpus_sql("spark"))).localCheckpoint(
            eager=True
        )  # one shingle pass feeds both stores
        KeyedParquetSink(
            f"{out}/shingles", "doc_id", n_buckets=_N_STORE_BUCKETS
        ).upsert_batch(csh, 0)
        BandIndexSink(
            f"{out}/bands", n_buckets=_N_STORE_BUCKETS
        ).append_batch(_banded(csh))

    return cached_stage("lshidx", sf_dir, "documents", build)


def make_gate(shstore, bstore, matches_path: str):
    """The per-micro-batch near-dup gate as a ``foreachBatch`` hook —
    module-level so the redelivery-idempotence and store-growth tests can
    drive individual batches through the EXACT code path the stream runs
    (``tests/test_stream_dedup_lsh.py``). Steps documented on
    :func:`stream_dedup_lsh`."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        from ..session import concurrent_jobs

        sp = batch_df.sparkSession
        bsh = _shingled(batch_df).persist()
        cached = [bsh]
        try:
            # bands_b persists (batch-bounded, 4 rows/doc): unpersisted,
            # the 8-seed MinHash signature re-ran for every consumer —
            # the probe's key collect, the probe semi-join's broadcast,
            # the candidate join, the survivor band append and its
            # internal dedup/collect/write: six signature passes per
            # batch (r14 phase profile; guide §5)
            bands_b = _banded(bsh).persist()
            cached.append(bands_b)
            batch_ids = bsh.select("doc_id")
            # the RAW probe result persists (r14, guide §5): it feeds the
            # candidate build below AND stands in for the band-store
            # re-read in the tail append's put-if-absent check (the rows
            # it could collide with are exactly store rows matching batch
            # band keys — all in this probe) — one store read per batch
            # instead of two
            probed = bstore.probe(sp, bands_b).persist()
            cached.append(probed)
            # cand persists (candidate-bounded, ≤ |batch| × matches rows):
            # the fetch's key collect AND the verification join both read
            # it — unpersisted, each consumer re-ran the store probe read
            # (r13, measured ~1 s/batch of pure recompute)
            cand = (
                probed
                .withColumnRenamed("doc_id", "corpus_doc")
                .join(
                    F.broadcast(
                        bands_b.withColumnRenamed("doc_id", "in_doc")
                    ),
                    ["band", "bv"],
                )
                .select("in_doc", "corpus_doc")
                .dropDuplicates(["in_doc", "corpus_doc"])
                # a crash-replayed batch finds its OWN earlier append in
                # the store: excluding the batch's ids restores the
                # pre-batch index view (and defines within-batch
                # semantics: same-batch docs never match each other)
                .join(
                    F.broadcast(
                        batch_ids.withColumnRenamed("doc_id", "corpus_doc")
                    ),
                    "corpus_doc",
                    "left_anti",
                )
                .persist()
            )
            cached.append(cand)
            csh = shstore.fetch(
                sp, cand.select(F.col("corpus_doc").alias("doc_id"))
            )
            jac = F.expr(
                "CAST(size(array_intersect(si, sc)) AS DOUBLE)"
                " / size(array_union(si, sc))"
            )
            (
                cand.join(
                    bsh.select(
                        F.col("doc_id").alias("in_doc"),
                        F.col("sh").alias("si"),
                    ),
                    "in_doc",
                )
                .join(
                    csh.select(
                        F.col("doc_id").alias("corpus_doc"),
                        F.col("sh").alias("sc"),
                    ),
                    "corpus_doc",
                )
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
                .select("in_doc", "corpus_doc", "jaccard")
                .write.mode("overwrite")
                .parquet(f"{matches_path}/batch_id={batch_id}")
            )
            # the idempotent per-batch write above IS the materialization:
            # reading it back cuts lineage from the mutable stores with no
            # extra job (r13 — replaces two eager localCheckpoints that
            # each cost a per-batch materialization pass)
            matched = sp.read.parquet(f"{matches_path}/batch_id={batch_id}")
            # survivors persist (batch-bounded): the shingle upsert AND the
            # band append both consume them — unpersisted, each re-ran the
            # anti-join and its broadcasts
            survivors = bsh.join(
                matched.select(
                    F.col("in_doc").alias("doc_id")
                ).dropDuplicates(["doc_id"]),
                "doc_id",
                "left_anti",
            ).persist()
            cached.append(survivors)
            # reuse the batch's banding: survivors' band rows are the
            # batch band rows restricted to surviving doc ids
            surv_bands = bands_b.join(
                F.broadcast(survivors.select("doc_id")),
                "doc_id",
                "left_semi",
            )
            # the two tail store writes touch DIFFERENT stores and both
            # read only persisted batch-bounded inputs — submit them as
            # concurrent driver jobs so the second write's tasks backfill
            # the first's straggler tail (guide §2.6); the band append
            # reuses the probe snapshot taken before any same-batch write
            concurrent_jobs(
                sp,
                lambda: shstore.upsert_batch(survivors, batch_id),
                lambda: bstore.append_batch(surv_bands, probed),
            )
        finally:
            for df in cached:
                df.unpersist()

    return _gate


@query(
    "stream_dedup_lsh",
    oracle=_stream_dedup_lsh_sql("duck"),
    tags=("streaming", "dedup", "incremental", "sink"),
    # the corpus-seeded band/shingle stores carry real MinHash compute
    # across runs: banned from every wall-clock bench lane (the lint in
    # tests/test_bench_guard.py); the opsec lane is safe — it sums only
    # triggerExecution durations and the seeding runs before the stream
    # starts, with each run copying then mutating a fresh store
    staged_cache="derived",
)
def stream_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup gate (module docstring; VERDICT r12 #2): per
    micro-batch inside ``foreachBatch`` —

    1. shingle + MinHash-band the batch's docs (batch-sized work);
    2. probe the standing ``BandIndexSink`` — bucket-pruned read,
       semi-joined against the BROADCAST batch band keys; the corpus is
       never scanned, shuffled, or broadcast;
    3. drop candidates pointing at the batch's own doc ids (within-batch
       pairs never match; a REDELIVERED batch therefore probes exactly
       the pre-batch index — replay idempotence, pinned in
       ``tests/test_stream_dedup_lsh.py``);
    4. fetch only the candidate index docs' shingle sets
       (``KeyedParquetSink.fetch``, bucket-pruned point lookup) and
       verify exact Jaccard ≥ threshold — candidate-bounded, the LSH
       contract;
    5. record matches idempotently (overwrite per ``batch_id`` — the DLQ
       pattern) and append survivors' shingles + bands put-if-absent.

    The final match table must equal the unrolled batch closed form —
    the cumulative-equivalence oracle: every survivor admitted, every
    duplicate dropped, across the growing index, exactly as if the three
    batches had been adjudicated by three consecutive runs of the batch
    incremental gate.

    At 100 TB: per-batch cost is O(batch) shingling + O(affected
    buckets) store reads + candidate-bounded verification — ingest cost
    scales with the ARRIVAL rate, not corpus size; store bucket counts
    evolve offline (``resplit``) as the corpus grows."""
    from ..session import apply_runtime_confs
    from ..streaming.sinks import BandIndexSink, KeyedParquetSink

    apply_runtime_confs(spark)
    src = _staged_doc_batches(sf_dir)
    seeded = _seeded_corpus_index(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="slsp_streamlsh_")
    shutil.copytree(f"{seeded}/shingles", f"{work}/shingles")
    shutil.copytree(f"{seeded}/bands", f"{work}/bands")
    shstore = KeyedParquetSink(
        f"{work}/shingles", "doc_id", n_buckets=_N_STORE_BUCKETS
    )
    bstore = BandIndexSink(f"{work}/bands", n_buckets=_N_STORE_BUCKETS)
    matches_path = f"{work}/matches"
    _gate = make_gate(shstore, bstore, matches_path)

    stream = replay_stream(spark, src)
    # 4 shuffle partitions: the _to_memory harness discipline — per-batch
    # fixed store-IO costs dominate data parallelism at harness volume
    run_bounded(
        spark,
        lambda ckpt: stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        shuffle_partitions=4,
    )
    return (
        spark.read.parquet(matches_path)
        .groupBy("in_doc")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("corpus_doc").alias("first_match_doc"),
            F.round(F.max("jaccard"), 6).alias("best_jaccard"),
        )
    )
