"""LLM-training-data-pipeline operators (the north-star extension surface):

- deduplication: exact hash, word-n-gram Jaccard, MinHash+LSH, SimHash,
  embedding-cosine near-dup
- similarity search: brute-force cosine top-k (baseline) and
  random-hyperplane LSH buckets (the ANN scale path)
- text analysis: quality stats, language-ID heuristic, token counting,
  rolling-hash fingerprinting
- multimodal: binary columns + Arrow-batched decode stubs

Every query is deterministic and (except where noted) replicated in the
DuckDB oracle dialect; test corpora inject duplicates/near-duplicates so the
operators have non-trivial output.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing, text
from .dialect import (
    arr_distinct,
    arr_intersect_len,
    arr_len,
    arr_union_len,
    dec_sum,
    dot,
    dot_const,
    intdiv,
    qsample,
    s,
    tbl,
    to_double_arr,
    unnest_fn,
    views,
    xor,
)
from .registry import query

DIM = 64  # embedding dimensionality of the test corpus (constant at all SFs)

# ---------------------------------------------------------------------------
# Corpora with injected (near-)duplicates — deterministic so both engines
# build the identical corpus.
# ---------------------------------------------------------------------------


def _doc_corpus(d: str) -> str:
    docs = tbl("documents", d)
    return f"""
  SELECT doc_id, text FROM {docs}
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, concat('near dup marker ', text) AS text
  FROM {docs} WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM {docs} WHERE doc_id % 25 = 0
"""


def _emb_corpus(d: str) -> str:
    emb = tbl("embeddings", d)
    if d == "spark":
        perturbed = "transform(embedding, x -> CAST(x AS DOUBLE) * 0.9 + 0.01)"
    else:
        perturbed = "list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.9 + 0.01)"
    return f"""
  SELECT vec_id, {to_double_arr('embedding', d)} AS emb FROM {emb}
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {perturbed} AS emb
  FROM {emb} WHERE vec_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy (the sha256-keyed sink of the reference,
# signer/index.js:229-242, generalized to a corpus-dedup operator).
# ---------------------------------------------------------------------------


def _dedup_exact_sql(d: str) -> str:
    return f"""
WITH corpus AS ({_doc_corpus(d)}),
hashed AS (SELECT doc_id, {hashing.sha256_hex('text', d)} AS content_hash FROM corpus)
SELECT content_hash,
       MIN(doc_id) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM hashed
GROUP BY content_hash
HAVING COUNT(*) > 1
"""


@query("dedup_exact", oracle=_dedup_exact_sql("duck"), tags=("llm", "dedup"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: sha256 content hash → hash-partitioned groupBy,
    keep the minimum id as canonical. One shuffle on the hash key; partial
    aggregation makes it skew-tolerant at 100 TB."""
    views(spark, sf_dir, "documents")
    return spark.sql(_dedup_exact_sql("spark"))


# ---------------------------------------------------------------------------
# Word n-gram Jaccard dedup (exact) — inverted-index join on shared shingles,
# |A∩B| from the join, sizes from per-doc distinct counts.
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.5


def _ngram_postings_sql(d: str) -> str:
    """corpus → distinct (doc, 3-gram shingle) postings — the diamond-
    reused subplan of the exact Jaccard verify. Postings are keyed by the
    60-bit shingle hash (dialect.hash64): the self-join and size
    aggregations shuffle 8-byte integers, not shingle text."""
    from .dialect import hash64

    return f"""
corpus AS ({_doc_corpus(d)}),
toks AS (SELECT doc_id, {text.words('text', d)} AS w FROM corpus),
shing AS (
  SELECT doc_id, {arr_distinct(text.shingles('w', 3, d), d)} AS sh
  FROM toks WHERE {arr_len('w', d)} >= 3
),
exploded AS (
  SELECT doc_id, {hash64('s_raw', d)} AS s FROM (
    SELECT doc_id, {unnest_fn(d)}(sh) AS s_raw FROM shing
  ) x
)"""


def _ngram_jaccard_scoring_sql(postings_src: str) -> str:
    return f"""
WITH sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM {postings_src} GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM {postings_src} a JOIN {postings_src} b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= {_JACCARD_THRESHOLD}
"""


def _ngram_jaccard_sql(d: str) -> str:
    return _ngram_jaccard_scoring_sql("exploded").replace(
        "WITH sizes AS (", f"WITH {_ngram_postings_sql(d)},\nsizes AS (", 1
    )


@query("dedup_ngram_jaccard", oracle=_ngram_jaccard_sql("duck"), tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted-index join
    (explode shingles → equi-join on shingle → count shared). The join is a
    shuffle on the shingle key — the scalable exact-verification backend for
    MinHash candidates. The postings table heads a diamond (self-join +
    two size joins): the Spark path persists it once and the scoring is
    DataFrame ops over the SAME DataFrame object — SQL through a temp
    view was measured to miss the plan cache for the aggregated legs and
    re-shingle the corpus per leg (the dedup_containment finding); the
    oracle's flat WITH lets DuckDB materialize it. Output is unchanged —
    this is purely an execution-shape refinement."""
    views(spark, sf_dir, "documents")
    postings = spark.sql(
        f"WITH {_ngram_postings_sql('spark')} SELECT * FROM exploded"
    ).persist()
    sizes = postings.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    a = postings.select(F.col("doc_id").alias("doc_a"), "s")
    b = postings.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, (a["s"] == b["s"]) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")))
    sb = F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH dedup — signature as array_min of seeded md5 over shingles
# (narrow map, no explode), banding join for candidates, exact Jaccard verify.
# ---------------------------------------------------------------------------

_N_SEEDS = 8
_BAND_ROWS = 2  # 4 bands of 2 rows


def _minhash_sql(d: str) -> str:
    sig_cols = ", ".join(
        f"{hashing.minhash_sig('sh', i, d)} AS m{i}" for i in range(_N_SEEDS)
    )
    band_branches = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat(m{2 * b}, m{2 * b + 1})) AS bv FROM sig"
        for b in range(_N_SEEDS // _BAND_ROWS)
    )
    return f"""
WITH corpus AS ({_doc_corpus(d)}),
toks AS (SELECT doc_id, {text.words('text', d)} AS w FROM corpus),
shing AS (
  SELECT doc_id, {arr_distinct(text.shingles('w', 3, d), d)} AS sh
  FROM toks WHERE {arr_len('w', d)} >= 3
),
sig AS (SELECT doc_id, {sig_cols} FROM shing),
bands AS (
{band_branches}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST({arr_intersect_len('sa.sh', 'sb.sh', d)} AS DOUBLE)
           / {arr_union_len('sa.sh', 'sb.sh', d)} AS jaccard
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.doc_a
  JOIN shing sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= {_JACCARD_THRESHOLD}
"""


def _doc_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "documents")
    return spark.sql(f"SELECT * FROM ({_doc_corpus('spark')}) c")


@query("dedup_minhash_lsh", oracle=_minhash_sql("duck"), tags=("llm", "dedup"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection. Signatures are an
    ``array_min`` over seeded md5 of the shingle array — a narrow
    (shuffle-free) map per document; only the (doc, band-bucket) pairs
    shuffle. Candidates sharing any band verify with exact Jaccard. This is
    the 100 TB dedup path: cost scales with collisions, not with |corpus|².

    Plan shape for scale: the shingle table and the slim (doc_id, band,
    bucket) table are materialized once (``persist``; at petabyte scale this
    would be a temp-table write) so the expensive signature subtree is not
    recomputed on each side of the self-join, and no array payload rides the
    band shuffle — candidates join back to the shingle table only for the
    final Jaccard verify.
    """
    corpus = _doc_corpus_df(spark, sf_dir)
    toks = corpus.select("doc_id", F.split("text", " ").alias("w"))
    shing = (
        toks.filter(F.expr("size(w) >= 3"))
        .select(
            "doc_id",
            F.expr(f"array_distinct({text.shingles('w', 3, 'spark')})").alias("sh"),
        )
        .persist()
    )
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
            for b in range(_N_SEEDS // _BAND_ROWS)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_arr).alias("band", "bv")
    ).persist()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sha = shing.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = shing.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    jac = F.expr(
        "CAST(size(array_intersect(sha, shb)) AS DOUBLE) "
        "/ size(array_union(sha, shb))"
    )
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash dedup — 64-bit fingerprint (16 hex digits × 4 majority bits from
# per-word md5), block-quarter candidate join + exact Hamming verify.
# ---------------------------------------------------------------------------

_HAMMING_MAX = 8


def _simhash_sum_exprs(d: str) -> list[str]:
    """64 majority-vote accumulators (16 hex digits × 4 bits) over per-word
    md5 column ``h`` — identical arithmetic in both dialects."""

    def dv(p: int) -> str:
        return hashing.hexdigit_val(f"substr(h, {p + 1}, 1)", d)

    out = []
    for p in range(16):
        for b in range(4):
            cond = f"(({dv(p)} {'DIV' if d == 'spark' else '//'} {1 << b}) % 2) = 1"
            out.append(f"SUM(CASE WHEN {cond} THEN 1 ELSE -1 END)")
    return out


def _simhash_digit_expr() -> str:
    """Recombine the 64 sums (columns s_<p>_<b>) into a 16-hex-char
    fingerprint (dialect-neutral)."""
    digit_exprs = []
    for p in range(16):
        bits = " + ".join(
            f"(CASE WHEN s_{p}_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(4)
        )
        digit_exprs.append(f"substr('0123456789abcdef', ({bits}) + 1, 1)")
    return "concat(" + ", ".join(digit_exprs) + ")"


def _simhash_hamming_expr(d: str) -> str:
    """Exact Hamming distance between fingerprints ``sa`` and ``sb``."""

    def dvs(col: str, p: int) -> str:
        return hashing.hexdigit_val(f"substr({col}, {p + 1}, 1)", d)

    return " + ".join(
        hashing.popcount4(xor(dvs("sa", p), dvs("sb", p), d)) for p in range(16)
    )


def _simhash_sql(d: str) -> str:
    sums_sql = ",\n         ".join(
        f"{e} AS s_{p}_{b}"
        for (p, b), e in zip(
            [(p, b) for p in range(16) for b in range(4)], _simhash_sum_exprs(d)
        )
    )
    simhash_expr = _simhash_digit_expr()
    ham_terms = _simhash_hamming_expr(d)

    quarter_branches = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {qi} AS qi, substr(simhash, {qi * 4 + 1}, 4) AS qv FROM fp"
        for qi in range(4)
    )

    return f"""
WITH corpus AS ({_doc_corpus(d)}),
wordsrc AS (
  SELECT doc_id, {unnest_fn(d)}({text.words('text', d)}) AS w FROM corpus
),
wordbits AS (
  SELECT doc_id, md5(w) AS h FROM wordsrc
),
sums AS (
  SELECT doc_id,
         {sums_sql}
  FROM wordbits GROUP BY doc_id
),
fp AS (SELECT doc_id, {simhash_expr} AS simhash FROM sums),
quarters AS (
{quarter_branches}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM quarters a JOIN quarters b ON a.qi = b.qi AND a.qv = b.qv AND a.doc_id < b.doc_id
),
withfp AS (
  SELECT c.doc_a, c.doc_b, fa.simhash AS sa, fb.simhash AS sb
  FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a JOIN fp fb ON fb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST({ham_terms} AS BIGINT) AS hamming
FROM withfp
WHERE {ham_terms} <= {_HAMMING_MAX}
"""


@query("dedup_simhash", oracle=_simhash_sql("duck"), tags=("llm", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 64-bit majority fingerprint from per-word
    md5 bits, candidates via the 4-block pigeonhole trick (hamming ≤ 8 ⇒ at
    least one identical 16-bit quarter), exact Hamming verify. Fingerprints
    are one aggregation; the candidate join touches only block collisions.

    Spark-side physical plan: the md5 hex is parsed once per word into four
    32-bit integers (``conv``), so the 64 majority accumulators are integer
    shift/mask sums instead of per-digit string searches; the Hamming verify
    is ``bit_count`` over XORed chunks. The quartered fingerprint table
    persists so the aggregation runs once; the 16-char fingerprint itself
    rides the band shuffle, so the Hamming verify happens inline in the
    self-join output and no join-backs are needed — identical
    votes/results to the string-arithmetic DuckDB oracle."""
    corpus = _doc_corpus_df(spark, sf_dir)
    wordsrc = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    # the fingerprint votes use the first 16 hex chars of md5(word): two
    # 8-hex-char chunks as 32-bit ints (the vote bit for hex digit p, bit b
    # lives at chunk p DIV 8, shift 4*(7 - p%8) + b)
    wordbits = wordsrc.select("doc_id", F.md5("word").alias("h")).select(
        "doc_id",
        *[
            F.expr(f"CAST(conv(substr(h, {8 * c + 1}, 8), 16, 10) AS BIGINT)").alias(
                f"w{c}"
            )
            for c in range(2)
        ],
    )
    accs = []
    for p in range(16):
        c, j = p // 8, p % 8
        for b in range(4):
            s = 4 * (7 - j) + b
            accs.append(
                F.expr(
                    f"SUM(CASE WHEN (shiftright(w{c}, {s}) & 1) = 1 "
                    f"THEN 1 ELSE -1 END)"
                ).alias(f"s_{p}_{b}")
            )
    sums = wordbits.groupBy("doc_id").agg(*accs)
    fp = sums.select("doc_id", F.expr(_simhash_digit_expr()).alias("simhash"))
    quarter_arr = F.array(
        *[F.substring("simhash", qi * 4 + 1, 4) for qi in range(4)]
    )
    # the 16-char fingerprint rides the band shuffle (it IS the payload —
    # unlike minhash there is no separate feature array), so candidates
    # verify inline and the two fingerprint join-backs disappear: one
    # self-join + one distinct is the whole post-agg plan
    quarters = fp.select(
        "doc_id", "simhash", F.posexplode(quarter_arr).alias("qi", "qv")
    ).persist()
    a, b = quarters.alias("a"), quarters.alias("b")
    # the fingerprint is 16 hex chars = two 32-bit chunks
    ham = F.expr(
        " + ".join(
            f"bit_count(CAST(conv(substr(sa, {8 * c + 1}, 8), 16, 10) AS BIGINT)"
            f" ^ CAST(conv(substr(sb, {8 * c + 1}, 8), 16, 10) AS BIGINT))"
            for c in range(2)
        )
    )
    return (
        a.join(
            b,
            (F.col("a.qi") == F.col("b.qi"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .withColumn("hamming_raw", ham)
        .filter(F.col("hamming_raw") <= _HAMMING_MAX)
        # dup collisions (same pair in several quarters) carry identical
        # hamming, so distinct-after-verify equals verify-after-distinct
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a", "doc_b", F.col("hamming_raw").cast("bigint").alias("hamming")
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup + brute-force top-k + LSH ANN.
# ---------------------------------------------------------------------------

_COSINE_DUP_THRESHOLD = 0.95


def _emb_cosine_sql(d: str) -> str:
    return f"""
WITH corpus AS ({_emb_corpus(d)}),
normed AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm FROM corpus),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot('a.emb', 'b.emb', DIM, d)} / (a.nrm * b.nrm) AS cos_sim
  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cosine
FROM pairs WHERE cos_sim >= {_COSINE_DUP_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=_emb_cosine_sql("duck"), tags=("llm", "dedup", "similarity"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.95), brute-force all-pairs —
    the exact baseline; ``sim_ann_lsh`` is the bucketed scale path. The dot
    product is a sequential fold over the double arrays (JVM codegen,
    bit-exact vs the oracle)."""
    views(spark, sf_dir, "embeddings")
    return spark.sql(_emb_cosine_sql("spark"))


def _topk_sql(d: str) -> str:
    return f"""
WITH base AS (SELECT vec_id, {to_double_arr('embedding', d)} AS emb FROM {tbl('embeddings', d)}),
normed AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm FROM base),
q AS (SELECT * FROM normed WHERE vec_id < 5),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {dot('q.emb', 'n.emb', DIM, d)} / (q.nrm * n.nrm) AS cos_sim
  FROM q JOIN normed n ON q.vec_id <> n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, round(cos_sim, 6) AS cosine
FROM ranked WHERE rnk <= 10
"""


@query("sim_cosine_topk", oracle=_topk_sql("duck"), tags=("llm", "similarity", "topk"))
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k nearest neighbors for a query set — the
    exact ANN baseline. The normalized table materializes once (norms are
    not recomputed per side); the tiny query side broadcasts, so the scan of
    the corpus is a single pass with no shuffle; per-query top-k is a
    windowed rank over |q|·k rows."""
    views(spark, sf_dir, "embeddings")
    normed = spark.sql(
        f"""
SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, 'spark')}) AS nrm
FROM (SELECT vec_id, {to_double_arr('embedding', 'spark')} AS emb
      FROM {tbl('embeddings', 'spark')})
"""
    ).persist()
    q = F.broadcast(
        normed.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    pairs = q.join(normed, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.expr(dot("qemb", "emb", DIM, "spark"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.round("cos_sim", 6).alias("cosine"),
        )
    )


def _hyperplane_signs(p: int) -> list[int]:
    """Deterministic ±1 hyperplane components from md5 — computed at
    query-build time (Python) and inlined as literals in both dialects."""
    hx = (
        hashlib.md5(f"hp_{p}_0".encode()).hexdigest()
        + hashlib.md5(f"hp_{p}_1".encode()).hexdigest()
    )
    return [1 if int(c, 16) >= 8 else -1 for c in hx]


_N_PLANES = 8
_ANN_THRESHOLD = 0.9


def _ann_lsh_sql(d: str) -> str:
    bucket_bits = ", ".join(
        f"(CASE WHEN {dot_const('emb', _hyperplane_signs(p), d)} >= 0 THEN '1' ELSE '0' END)"
        for p in range(_N_PLANES)
    )
    return f"""
WITH corpus AS ({_emb_corpus(d)}),
normed AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm FROM corpus),
buckets AS (
  SELECT vec_id, emb, nrm, concat({bucket_bits}) AS bucket FROM normed
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot('a.emb', 'b.emb', DIM, d)} / (a.nrm * b.nrm) AS cos_sim
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cosine
FROM cand WHERE cos_sim >= {_ANN_THRESHOLD}
"""


@query("sim_ann_lsh", oracle=_ann_lsh_sql("duck"), tags=("llm", "similarity"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor via random-hyperplane LSH: 8 signed
    projections → 8-bit bucket → equi-join within buckets → exact cosine
    verify. The all-pairs O(n²) of the brute-force path becomes a shuffle on
    the bucket key; recall trades off against bucket width. The bucketed
    table (projections are 8 × 64-term folds) materializes once instead of
    once per self-join side."""
    views(spark, sf_dir, "embeddings")
    bucket_bits = ", ".join(
        f"(CASE WHEN {dot_const('emb', _hyperplane_signs(p), 'spark')} >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in range(_N_PLANES)
    )
    buckets = spark.sql(
        f"""
SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, 'spark')}) AS nrm,
       concat({bucket_bits}) AS bucket
FROM ({_emb_corpus('spark')})
"""
    ).persist()
    a = buckets.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    cand = a.join(b, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    cos = F.expr(dot("ea", "eb", DIM, "spark")) / (F.col("na") * F.col("nb"))
    return (
        cand.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= _ANN_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------


def _text_stats_sql(d: str) -> str:
    nw = text.n_words("text", d)
    dw = text.distinct_words("text", d)
    sw = text.stopword_hits("text", d)
    return f"""
SELECT doc_id, lang, n_chars,
       CAST({nw} AS BIGINT) AS n_words,
       CAST({dw} AS BIGINT) AS n_distinct_words,
       round((CAST(n_chars AS DOUBLE) - ({nw} - 1)) / {nw}, 6) AS avg_word_len,
       round(CAST({sw} AS DOUBLE) / {nw}, 6) AS stopword_ratio,
       round(CAST({dw} AS DOUBLE) / {nw}, 6) AS uniq_ratio,
       round(0.5 * (CAST({dw} AS DOUBLE) / {nw})
             + 0.3 * (1.0 - CAST({sw} AS DOUBLE) / {nw})
             + 0.2 * LEAST(1.0, {nw} / 100.0), 6) AS quality_score
FROM {tbl('documents', d)}
"""


@query("text_stats_quality", oracle=_text_stats_sql("duck"), tags=("llm", "text"))
def text_stats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: word/char stats, stopword ratio,
    vocabulary uniqueness, composite quality score — all built-in array/
    string expressions (whole-stage codegen; no UDF)."""
    views(spark, sf_dir, "documents")
    return spark.sql(_text_stats_sql("spark"))


def _langid_sql(d: str) -> str:
    hits = {lang: text.marker_hits("text", lang, d) for lang in sorted(text.LANG_MARKERS)}
    score_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    langs = sorted(text.LANG_MARKERS)
    others = lambda l: ", ".join(f"h_{o}" for o in langs if o != l)  # noqa: E731
    pred = " ".join(
        f"WHEN h_{l} >= GREATEST({others(l)}) THEN '{l}'" for l in langs
    )
    return f"""
WITH scored AS (SELECT doc_id, lang AS actual_lang, {score_cols} FROM {tbl('documents', d)})
SELECT doc_id, actual_lang,
       CASE {pred} ELSE 'und' END AS predicted_lang,
       CAST(GREATEST(h_de, h_en, h_es, h_fr, h_zh) AS BIGINT) AS marker_hits
FROM scored
"""


@query("text_langid", oracle=_langid_sql("duck"), tags=("llm", "text"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (argmax over per-language hit
    counts, alphabetical tie-break). Real language ID swaps the marker
    profiles for char-n-gram profiles in the same expression shape."""
    views(spark, sf_dir, "documents")
    return spark.sql(_langid_sql("spark"))


def _token_count_sql(d: str) -> str:
    nw = text.n_words("text", d)
    tc = text.token_count("text", d)
    return f"""
SELECT doc_id,
       CAST({nw} AS BIGINT) AS ws_tokens,
       CAST({tc} AS BIGINT) AS bpe_ish_tokens,
       round(CAST(n_chars AS DOUBLE) / {tc}, 6) AS chars_per_token
FROM {tbl('documents', d)}
"""


@query("text_token_count", oracle=_token_count_sql("duck"), tags=("llm", "text"))
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex tokenizer
    (letter runs / digits / punctuation), plus chars-per-token."""
    views(spark, sf_dir, "documents")
    return spark.sql(_token_count_sql("spark"))


def _fingerprint_sql(d: str) -> str:
    return f"""
WITH corpus AS ({_doc_corpus(d)}),
fps AS (SELECT doc_id, {hashing.rolling_fingerprint('text', d)} AS fingerprint FROM corpus)
SELECT fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM fps
GROUP BY fingerprint
HAVING COUNT(*) > 1
"""


@query("text_fingerprint", oracle=_fingerprint_sql("duck"), tags=("llm", "text", "dedup"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (order-sensitive polynomial fold
    over characters) grouped to find identical-content clusters."""
    views(spark, sf_dir, "documents")
    return spark.sql(_fingerprint_sql("spark"))


# ---------------------------------------------------------------------------
# Multimodal binary columns.
# ---------------------------------------------------------------------------


def _mm_oracle(d: str) -> str:
    blob_len = "octet_length(CAST(text AS BLOB))"
    return f"""
SELECT doc_id,
       CAST({blob_len} AS BIGINT) AS byte_len,
       sha256(text) AS content_sha,
       CAST({blob_len} % 640 + 1 AS BIGINT) AS width,
       CAST(({blob_len} * 31) % 480 + 1 AS BIGINT) AS height,
       CAST({blob_len} % 7 + 1 AS BIGINT) AS n_frames,
       CAST(({blob_len} + 255) // 256 AS BIGINT) AS n_chunks
FROM {tbl('documents', d)}
"""


@query("mm_decode_features", oracle=_mm_oracle("duck"), tags=("llm", "multimodal"))
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents as opaque binary blobs → Arrow-batched
    mapInPandas 'decoder' producing typed feature rows. The decode arithmetic
    is a deterministic stand-in (real codecs absent in this container); the
    schema/batching/partition-parallel shape is the real operator."""
    from ..catalog import load_table
    from ..operators.multimodal import stub_decode_features

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.col("text").cast("binary").alias("blob"))
    return stub_decode_features(blobs)


# ---------------------------------------------------------------------------
# IVF ANN — inverted-file index: coarse quantize every vector to its nearest
# centroid, probe the query's top-2 cells only.
# ---------------------------------------------------------------------------

_IVF_CENT_MOD = 50  # centroids = vec_id % 50 == 0 (deterministic "training")
_IVF_QUERY_MOD = 25
_IVF_NPROBE = 2
_IVF_TOPK = 5
# recall-eval exact-pass cohort: fixed k drawn by hash rank FROM the serving
# cohort above, so the brute-force side stays k·N at any corpus size while
# the approximate side remains the real operator's output
_IVF_EVAL_NQ = 20


def _ann_ivf_sql(d: str) -> str:
    return f"""
WITH base AS (SELECT vec_id, {to_double_arr('embedding', d)} AS emb FROM {tbl('embeddings', d)}),
normed AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm FROM base),
cents AS (
  SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM normed
  WHERE vec_id % {_IVF_CENT_MOD} = 0
),
assign AS (
  SELECT vec_id, emb, nrm, cid FROM (
    SELECT n.vec_id, n.emb, n.nrm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {dot('n.emb', 'c.cemb', DIM, d)} / (n.nrm * c.cnrm) DESC, c.cid
           ) AS crnk
    FROM normed n CROSS JOIN cents c
  ) a WHERE crnk = 1
),
qprobe AS (
  SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm, cid FROM (
    SELECT n.vec_id, n.emb, n.nrm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {dot('n.emb', 'c.cemb', DIM, d)} / (n.nrm * c.cnrm) DESC, c.cid
           ) AS crnk
    FROM normed n CROSS JOIN cents c
    WHERE n.vec_id % {_IVF_QUERY_MOD} = 0
  ) p WHERE crnk <= {_IVF_NPROBE}
),
cand AS (
  SELECT q.qid, a.vec_id AS neighbor_id,
         {dot('q.qemb', 'a.emb', DIM, d)} / (q.qnrm * a.nrm) AS cos_sim
  FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
),
ranked AS (
  SELECT qid AS query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM cand
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, round(cos_sim, 6) AS cosine
FROM ranked WHERE rnk <= {_IVF_TOPK}
"""


@query("sim_ann_ivf", oracle=_ann_ivf_sql("duck"), tags=("llm", "similarity"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: every vector is coarse-quantized
    to its nearest centroid (the centroid set broadcasts — it is ~sqrt(N)
    rows); queries probe only their top-2 cells, so search cost is
    |q| * N/cells * nprobe instead of |q| * N — the standard billion-scale
    ANN layout (FAISS IVF) expressed relationally.

    The assignment argmax is an aggregation ``max(struct(cos, -cid))`` —
    map-side combinable, no sort, no shuffle of the (vector × centroid)
    product (unlike a window rank, which would sort all N·C rows). Windows
    remain only on the tiny query side. Identical winner to the oracle's
    ROW_NUMBER (cos DESC, cid ASC): cosines are bit-exact across engines."""
    views(spark, sf_dir, "embeddings")
    normed = spark.sql(
        f"""
SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, 'spark')}) AS nrm
FROM (SELECT vec_id, {to_double_arr('embedding', 'spark')} AS emb
      FROM {tbl('embeddings', 'spark')})
"""
    ).persist()
    cents = F.broadcast(
        normed.filter(F.col("vec_id") % _IVF_CENT_MOD == 0).select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )
    cos = F.expr(dot("emb", "cemb", DIM, "spark")) / (F.col("nrm") * F.col("cnrm"))
    scored = normed.join(cents).withColumn("ccos", cos)
    assign = (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("ccos"), (-F.col("cid")).alias("nc"))).alias("b"))
        .select("vec_id", (-F.col("b.nc")).alias("cid"))
    )
    # cell members with payloads (assign is slim; join back to normed)
    members = assign.join(normed, "vec_id")
    # query side: top-nprobe cells by the same ordering (tiny: window is fine)
    qscored = scored.filter(F.col("vec_id") % _IVF_QUERY_MOD == 0)
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cid")
    )
    qprobe = (
        qscored.withColumn("crnk", F.row_number().over(wq))
        .filter(F.col("crnk") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cid",
        )
    )
    qcos = F.expr(dot("qemb", "emb", DIM, "spark")) / (
        F.col("qnrm") * F.col("nrm")
    )
    # qprobe is |queries| * nprobe rows but window-derived (no stats), so
    # Catalyst's initial plan falls back to a sort-merge join on cid; pin
    # the broadcast — the probe list is always the tiny side of IVF search
    cand = (
        F.broadcast(qprobe).join(members, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cos_sim", qcos)
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("bigint").alias("rnk"),
            F.round("cos_sim", 6).alias("cosine"),
        )
    )


def _mm_frame_oracle() -> str:
    # DuckDB replica of the deterministic frame-sampling arithmetic
    blen = "octet_length(CAST(text AS BLOB))"
    return f"""
WITH base AS (
  SELECT doc_id, {blen} AS blen, sha256(text) AS sha,
         {blen} % 7 + 1 AS n_frames
  FROM documents
),
frames AS (
  SELECT doc_id, blen, sha, n_frames,
         unnest(generate_series(0, n_frames - 1)) AS frame_idx
  FROM base
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * (blen // n_frames) AS BIGINT) AS frame_offset,
       sha256(concat(sha, '|', CAST(frame_idx AS VARCHAR))) AS frame_sha
FROM frames
"""


@query("mm_frame_sample", oracle=_mm_frame_oracle(), tags=("llm", "multimodal"))
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1→N: video-style frame sampling as a UDTF-shaped
    mapInPandas (one blob in, n_frames rows out). Emitted offsets/ids are
    deterministic so the oracle replicates them; the row-explosion contract
    (schema, Arrow batching, partition parallelism) is the real operator."""
    from ..catalog import load_table
    from ..operators.multimodal import stub_frame_sample

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.col("text").cast("binary").alias("blob"))
    return stub_frame_sample(blobs)


def _mm_resize_oracle() -> str:
    blen = "octet_length(CAST(text AS BLOB))"
    return f"""
WITH dims AS (
  SELECT doc_id,
         {blen} % 640 + 1 AS w,
         ({blen} * 31) % 480 + 1 AS h
  FROM documents
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(greatest(w * 224 // greatest(w, h), 1) AS BIGINT) AS out_width,
       CAST(greatest(h * 224 // greatest(w, h), 1) AS BIGINT) AS out_height,
       CAST(greatest(w * 224 // greatest(w, h), 1)
            * greatest(h * 224 // greatest(w, h), 1) * 3 AS BIGINT) AS est_bytes
FROM dims
"""


@query("mm_resize", oracle=_mm_resize_oracle(), tags=("llm", "multimodal"))
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal scalar transform: aspect-preserving resize planning
    (integer-exact 224-box fit) over decoded dimensions, Arrow-batched.
    Composes with mm_decode_features: decode → resize is two mapInPandas
    stages with no shuffle between them (narrow pipeline)."""
    from ..catalog import load_table
    from ..operators.multimodal import stub_resize

    docs = load_table(spark, sf_dir, "documents")
    dims = docs.selectExpr(
        "doc_id",
        "octet_length(CAST(text AS BINARY)) % 640 + 1 AS width",
        "(octet_length(CAST(text AS BINARY)) * 31) % 480 + 1 AS height",
    )
    return stub_resize(dims)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — corpus-wide document frequency join, top terms
# per document. The idf uses the log-free rational form (N+1)/(df+1) so
# scores are bit-exact across engines (no libm ln differences).
# ---------------------------------------------------------------------------

_TFIDF_TOPN = 3


def _tfidf_sql(d: str) -> str:
    docs = tbl("documents", d)
    uw = unnest_fn(d)
    return f"""
WITH toks AS (
  SELECT doc_id, {uw}({text.words('text', d)}) AS term FROM {docs}
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk, round(score, 6) AS tfidf
FROM ranked WHERE rnk <= {_TFIDF_TOPN} AND doc_id % 10 = 0
"""


@query("text_tfidf", oracle=_tfidf_sql("duck"), tags=("llm", "text"))
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per-doc term frequency ⋈ corpus document
    frequency (one shuffle each on the term key), rational smoothed idf,
    windowed top-3 per document. The df table is tiny relative to the corpus
    (vocabulary-sized) — at 100 TB it broadcasts; Catalyst picks that
    automatically from stats."""
    views(spark, sf_dir, "documents")
    return spark.sql(_tfidf_sql("spark"))


# ---------------------------------------------------------------------------
# Near-dup clustering — connected components over the MinHash pair graph
# (pairs → clusters → canonical doc). Spark side: iterative min-label
# propagation (operators/graph.py); oracle: recursive CTE fixpoint.
# ---------------------------------------------------------------------------


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql('duck')}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, MIN(lab) AS cluster_id
FROM reach GROUP BY node
"""


@query("dedup_cc_clusters", oracle=_cc_oracle(), tags=("llm", "dedup", "iterative"))
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH pair
    graph by iterative min-label propagation (one join + one agg per round,
    driver checks only a convergence counter). cluster_id = min doc_id in
    the component — the canonical document every member dedupes to. The
    oracle computes the same fixpoint with a recursive CTE; the iterative
    DataFrame loop is the shape that scales (the CTE's transitive closure
    does not)."""
    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Flagship composed pipeline — the full training-data prep pass: quality
# gate → language gate → exact dedup (keep canonical) → per-language corpus
# stats. One declarative plan; Catalyst fuses the scalar stages into a
# single codegen'd pass over the corpus, the dedup is the only shuffle.
# ---------------------------------------------------------------------------


def _prep_pipeline_sql(d: str) -> str:
    nw = text.n_words("text", d)
    dw = text.distinct_words("text", d)
    sw = text.stopword_hits("text", d)
    tc = text.token_count("text", d)
    quality = (
        f"(0.5 * (CAST({dw} AS DOUBLE) / {nw})"
        f" + 0.3 * (1.0 - CAST({sw} AS DOUBLE) / {nw})"
        f" + 0.2 * LEAST(1.0, {nw} / 100.0))"
    )
    return f"""
WITH corpus AS ({_doc_corpus(d)}),
scored AS (
  SELECT doc_id, text,
         {quality} AS q,
         CAST({tc} AS BIGINT) AS n_tokens,
         {hashing.sha256_hex('text', d)} AS content_hash
  FROM corpus
),
gated AS (SELECT * FROM scored WHERE q >= 0.5 AND n_tokens >= 10),
canonical AS (
  SELECT content_hash, MIN(doc_id) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM gated GROUP BY content_hash
),
kept AS (
  SELECT g.doc_id, g.n_tokens, g.q, c.n_copies
  FROM gated g JOIN canonical c
    ON c.content_hash = g.content_hash AND c.doc_id = g.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dupes_removed,
       round({dec_sum('q')} / COUNT(*), 6) AS avg_quality
FROM kept
"""


@query("llm_prep_pipeline", oracle=_prep_pipeline_sql("duck"), tags=("llm", "pipeline"))
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pass: quality score + token gate →
    sha256 exact dedup keeping the canonical (minimum-id) copy → corpus
    yield stats. All scalar stages fuse into one codegen'd scan; the
    content-hash groupBy is the single shuffle. At 100 TB this is the
    shape of a nightly corpus build: gate cheap, dedup once, account for
    everything removed."""
    views(spark, sf_dir, "documents")
    return spark.sql(_prep_pipeline_sql("spark"))


# ---------------------------------------------------------------------------
# Canonicalization dedup — normalize (case/punctuation/whitespace) before
# hashing: the standard first stage of LLM corpus dedup, catching copies
# that exact-hash misses. Regexes restricted to character classes that
# behave identically in Java regex (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------------


def _canon_expr(col: str, d: str) -> str:
    if d == "spark":
        inner = f"regexp_replace(lower({col}), '[^a-z0-9 ]+', ' ')"
        collapsed = f"regexp_replace({inner}, ' +', ' ')"
    else:
        inner = f"regexp_replace(lower({col}), '[^a-z0-9 ]+', ' ', 'g')"
        collapsed = f"regexp_replace({inner}, ' +', ' ', 'g')"
    return f"trim({collapsed})"


def _canon_dedup_sql(d: str) -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM {tbl('documents', d)}
  UNION ALL
  SELECT doc_id + 3000000, concat(upper(substr(text, 1, 5)), substr(text, 6), '!!')
  FROM {tbl('documents', d)} WHERE doc_id % 7 = 0
),
canon AS (
  SELECT doc_id, {hashing.sha256_hex(_canon_expr('text', d), d)} AS canon_hash
  FROM corpus
)
SELECT canon_hash, MIN(doc_id) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM canon GROUP BY canon_hash HAVING COUNT(*) > 1
"""


@query("dedup_canonicalized", oracle=_canon_dedup_sql("duck"), tags=("llm", "dedup", "text"))
def dedup_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-then-hash dedup: lowercase, strip non-alphanumerics,
    collapse whitespace, sha256 — catches case/punctuation variants that
    byte-exact hashing misses (the corpus injects such variants). All
    JVM-side regex/string ops in one codegen'd scan + one hash shuffle."""
    views(spark, sf_dir, "documents")
    return spark.sql(_canon_dedup_sql("spark"))


# ---------------------------------------------------------------------------
# Array-function surface — per-vector statistics over ArrayType(Double):
# norms (fixed-order folds), extrema, sorted top components.
# ---------------------------------------------------------------------------


def _vector_stats_sql(d: str) -> str:
    emb = tbl("embeddings", d)
    arr = to_double_arr("embedding", d)
    l1_terms = " + ".join(f"abs(emb[{i}])" for i in range(DIM))
    if d == "spark":
        l1 = f"(CAST(0 AS DOUBLE) + {l1_terms})"
        srt = "sort_array(emb, false)"
        top = [f"{srt}[{i}]" for i in range(3)]
        vmax, vmin = "array_max(emb)", "array_min(emb)"
    else:
        l1 = (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            "list_transform(emb, x -> abs(x))), (a, b) -> a + b)"
        )
        srt = "list_sort(emb, 'DESC')"
        top = [f"{srt}[{i + 1}]" for i in range(3)]
        vmax, vmin = "list_max(emb)", "list_min(emb)"
    return f"""
WITH base AS (SELECT vec_id, {arr} AS emb FROM {emb})
SELECT vec_id,
       round(sqrt({dot('emb', 'emb', DIM, d)}), 6) AS l2_norm,
       round({l1}, 6) AS l1_norm,
       round({vmax}, 6) AS v_max,
       round({vmin}, 6) AS v_min,
       round({top[0]}, 6) AS top1,
       round({top[1]}, 6) AS top2,
       round({top[2]}, 6) AS top3
FROM base
"""


@query("emb_vector_stats", oracle=_vector_stats_sql("duck"), tags=("llm", "similarity", "array"))
def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column statistics per embedding: L2/L1 norms as fixed-order
    folds (bit-exact both engines), extrema, and the three largest
    components via array sort — the array-function surface
    (sort/index/fold) the reference never needed but embeddings do."""
    views(spark, sf_dir, "embeddings")
    return spark.sql(_vector_stats_sql("spark"))


# ---------------------------------------------------------------------------
# Corpus mixing — deterministic stratified sampling: per-language keep rates
# via a content-stable hash bucket (djb2, proven bit-identical across
# engines), so the sample is reproducible, engine-independent, and needs no
# RNG state. The standard "data mixture" op of LLM corpus construction.
# ---------------------------------------------------------------------------

_MIX_RATES = {"en": 50, "zh": 80, "es": 80, "de": 100, "fr": 100}  # percent


def _mix_sample_sql(d: str) -> str:
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(_MIX_RATES.items())
    ) + " ELSE 100 END"
    bucket = f"({hashing.djb2(s('doc_id', d), d)} % 100)"
    return f"""
WITH sampled AS (
  SELECT doc_id, lang, n_chars
  FROM {tbl('documents', d)}
  WHERE {bucket} < {rate}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM sampled GROUP BY lang
"""


@query("llm_mix_sample", oracle=_mix_sample_sql("duck"), tags=("llm", "pipeline", "sampling"))
def llm_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus mixing: per-language keep rates
    applied through a stable hash bucket of the document id — reproducible
    across engines, runs, and partitionings (no RNG), embarrassingly
    parallel (pure filter; no shuffle before the stats rollup)."""
    views(spark, sf_dir, "documents")
    return spark.sql(_mix_sample_sql("spark"))


# ---------------------------------------------------------------------------
# Retained-corpus dedup: keep ONE representative per duplicate group
# (newest copy = highest doc_id), emit the full retained corpus with copy
# counts — the shape a production dedup stage actually writes back out.
# ---------------------------------------------------------------------------


def _keep_best_sql(d: str) -> str:
    return f"""
WITH corpus AS ({_doc_corpus(d)}),
hashed AS (
  SELECT doc_id, {hashing.sha256_hex('text', d)} AS content_hash FROM corpus
),
ranked AS (
  SELECT doc_id, content_hash,
         ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
  FROM hashed
)
SELECT content_hash, doc_id AS kept_doc_id, CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
"""


@query("dedup_keep_best", oracle=_keep_best_sql("duck"), tags=("llm", "dedup"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained-corpus exact dedup: unlike ``dedup_exact`` (which reports
    duplicate groups), this emits the corpus a dedup stage keeps — one
    representative per content hash (policy: newest copy wins, i.e. highest
    doc_id; swap the ORDER BY for any quality score), singletons included.
    One shuffle on the content hash; the window argmax and the group count
    share that single partitioning — no second exchange. At 100 TB the hash
    key is uniform by construction (sha256), so no skew handling is needed."""
    views(spark, sf_dir, "documents")
    return spark.sql(_keep_best_sql("spark"))


# ---------------------------------------------------------------------------
# Context-window sequence packing: assign documents to fixed token-budget
# packs (the step that turns a deduped corpus into training sequences).
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


def _context_pack_sql(d: str) -> str:
    docs = tbl("documents", d)
    pack = intdiv("(cum_tokens - n_tokens)", str(_PACK_BUDGET), d)
    return f"""
WITH toks AS (
  SELECT doc_id, lang, CAST({text.token_count('text', d)} AS BIGINT) AS n_tokens
  FROM {docs}
),
running AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
)
SELECT lang,
       CAST({pack} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM running
GROUP BY lang, CAST({pack} AS BIGINT)
"""


@query("llm_context_pack", oracle=_context_pack_sql("duck"), tags=("llm", "pipeline"))
def llm_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: tokenize (BPE-ish regex, pure codegen
    expression), then assign each document to a 512-token pack via
    a windowed prefix sum in stable doc_id order, partitioned by language so
    packs are language-homogeneous AND the sort parallelizes across
    partitions (never a single global sort — at 100 TB each language's
    window is itself range-partitioned by Spark's window exec). Pack id =
    tokens-before DIV budget: deterministic boundary-crossing packing, not
    bin packing — documents straddling a boundary start the next pack."""
    views(spark, sf_dir, "documents")
    return spark.sql(_context_pack_sql("spark"))


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: top-k word bigrams per language.
# ---------------------------------------------------------------------------

_NGRAM_TOPK = 5


def _ngram_topk_sql(d: str) -> str:
    docs = tbl("documents", d)
    w = text.words("text", d)
    # Spark arrays index 0-based, DuckDB lists 1-based — the generated index
    # ranges differ so the bigrams produced are identical.
    if d == "spark":
        bigrams = f"transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"
    else:
        bigrams = f"list_transform(generate_series(1, len(w) - 1), i -> concat(w[i], ' ', w[i + 1]))"
    return f"""
WITH tokenized AS (
  SELECT lang, {w} AS w FROM {docs} WHERE {text.n_words('text', d)} >= 2
),
grams AS (
  SELECT lang, {unnest_fn(d)}({bigrams}) AS bigram FROM tokenized
),
counted AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n
  FROM grams GROUP BY lang, bigram
),
ranked AS (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
  FROM counted
)
SELECT lang, bigram, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_NGRAM_TOPK}
"""


@query("text_ngram_topk", oracle=_ngram_topk_sql("duck"), tags=("llm", "text", "topk"))
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language: tokenize → indexed-transform bigram
    generation (pure codegen-free higher-order fn but no Python) → explode →
    count → per-group top-k window. At 100 TB: the count's partial
    aggregation collapses the exploded rows map-side before the (lang,
    bigram) shuffle, and the top-k window shuffles only the counted
    distincts on lang — the explosion itself never crosses the wire.
    Deterministic rank: ties broken lexicographically."""
    views(spark, sf_dir, "documents")
    return spark.sql(_ngram_topk_sql("spark"))


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) near-dup detection — the ingest-time dedup
# gate: a small incoming batch is checked against the standing corpus WITHOUT
# ever reshuffling the corpus for the join (the incoming band index
# broadcasts). This is the production shape at 100 TB: the corpus band index
# is a standing table; each ingest batch only pays for its own signatures
# plus a broadcast probe.
# ---------------------------------------------------------------------------


def _inc_corpus(d: str) -> str:
    docs = tbl("documents", d)
    return f"SELECT doc_id, text FROM {docs} WHERE doc_id % 5 <> 0"


def _inc_incoming(d: str) -> str:
    docs = tbl("documents", d)
    return f"""
  SELECT doc_id + 4000000 AS doc_id, text FROM {docs} WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, concat('near dup marker ', text) AS text
  FROM {docs} WHERE doc_id % 20 = 1
"""


def _inc_shingle_sql(src: str, d: str) -> str:
    return f"""
  SELECT doc_id, {arr_distinct(text.shingles('w', 3, d), d)} AS sh
  FROM (SELECT doc_id, {text.words('text', d)} AS w FROM ({src}) t) tw
  WHERE {arr_len('w', d)} >= 3
"""


def _dedup_incremental_sql(d: str) -> str:
    sig_cols = ", ".join(
        f"{hashing.minhash_sig('sh', i, d)} AS m{i}" for i in range(_N_SEEDS)
    )

    def bands(src_cte: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band, md5(concat(m{2 * b}, m{2 * b + 1})) AS bv"
            f" FROM {src_cte}"
            for b in range(_N_SEEDS // _BAND_ROWS)
        )

    return f"""
WITH cshing AS ({_inc_shingle_sql(_inc_corpus(d), d)}),
ishing AS ({_inc_shingle_sql(_inc_incoming(d), d)}),
csig AS (SELECT doc_id, {sig_cols} FROM cshing),
isig AS (SELECT doc_id, {sig_cols} FROM ishing),
cbands AS (
{bands('csig')}
),
ibands AS (
{bands('isig')}
),
cand AS (
  SELECT DISTINCT i.doc_id AS in_doc, c.doc_id AS corpus_doc
  FROM ibands i JOIN cbands c ON i.band = c.band AND i.bv = c.bv
),
verified AS (
  SELECT cand.in_doc, cand.corpus_doc,
         CAST({arr_intersect_len('si.sh', 'sc.sh', d)} AS DOUBLE)
           / {arr_union_len('si.sh', 'sc.sh', d)} AS jaccard
  FROM cand
  JOIN ishing si ON si.doc_id = cand.in_doc
  JOIN cshing sc ON sc.doc_id = cand.corpus_doc
)
SELECT in_doc,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(corpus_doc) AS first_match_doc,
       round(MAX(jaccard), 6) AS best_jaccard
FROM verified WHERE jaccard >= {_JACCARD_THRESHOLD}
GROUP BY in_doc
"""


@query("dedup_incremental_lsh", oracle=_dedup_incremental_sql("duck"), tags=("llm", "dedup", "incremental"))
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup gate: the incoming batch's MinHash band index is
    BROADCAST against the standing corpus band index, so the corpus never
    reshuffles for an ingest batch (plan-asserted: the band join is a
    BroadcastHashJoin with the incoming side as the build side). Candidates
    verify with exact Jaccard against the corpus shingle table. Incoming =
    the held-out 20% of documents plus planted near-dups of corpus docs;
    matches are exactly the planted ones plus any natural dups."""
    views(spark, sf_dir, "documents")
    corpus = spark.sql(_inc_corpus("spark"))
    incoming = spark.sql(f"SELECT * FROM ({_inc_incoming('spark')}) t")

    def shingled(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", F.split("text", " ").alias("w"))
        return toks.filter(F.expr("size(w) >= 3")).select(
            "doc_id",
            F.expr(f"array_distinct({text.shingles('w', 3, 'spark')})").alias("sh"),
        )

    def banded(shing: DataFrame) -> DataFrame:
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
                for b in range(_N_SEEDS // _BAND_ROWS)
            ]
        )
        return sig.select("doc_id", F.posexplode(band_arr).alias("band", "bv"))

    cshing = shingled(corpus).persist()
    ishing = shingled(incoming).persist()
    cand = (
        banded(cshing)
        .withColumnRenamed("doc_id", "corpus_doc")
        .join(
            F.broadcast(
                banded(ishing).withColumnRenamed("doc_id", "in_doc")
            ),
            ["band", "bv"],
        )
        .select("in_doc", "corpus_doc")
        .dropDuplicates(["in_doc", "corpus_doc"])
    )
    si = ishing.select(F.col("doc_id").alias("in_doc"), F.col("sh").alias("si"))
    sc = cshing.select(
        F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sc")
    )
    jac = F.expr(
        "CAST(size(array_intersect(si, sc)) AS DOUBLE) / size(array_union(si, sc))"
    )
    return (
        cand.join(F.broadcast(si), "in_doc")
        .join(sc, "corpus_doc")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .groupBy("in_doc")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("corpus_doc").alias("first_match_doc"),
            F.round(F.max("jaccard"), 6).alias("best_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (hamming) near-dup over the binary modality: Arrow-batched
# phash extraction from blobs, then pigeonhole candidate join + bit_count
# verify — SimHash's machinery applied to the image/audio dedup problem.
# ---------------------------------------------------------------------------

_PHASH_MAX_HAM = 3
_PHASH_Q = 4  # 16-bit quarters; hamming <= 3 pairs share >= 1 exact quarter


def _phash_sql(d: str, ph_src: str | None = None) -> str:
    """Candidate join + verify over (doc_id, phash). ``ph_src`` names the
    Spark-side materialized phash view (computed in Python from the blobs);
    the oracle recomputes the identical phash relationally — possible
    because the stub codec's blob is byte-equal to the document text."""
    if ph_src:
        ph = f"SELECT doc_id, phash FROM {ph_src}"
    elif d == "spark":
        h = "sha2(concat(text, ''), 256)"
        ph = f"""
  SELECT doc_id, CAST(conv(substring({h}, 1, 15), 16, 10) AS BIGINT) AS phash
  FROM {tbl('documents', 'spark')} WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 5000000,
         CAST(conv(substring({h}, 1, 15), 16, 10) AS BIGINT) ^ shiftleft(1L, CAST(doc_id % 4 AS INT))
  FROM {tbl('documents', 'spark')} WHERE doc_id % 12 = 0
"""
    else:
        h = "sha256(text)"
        base = f"CAST(('0x' || substring({h}, 1, 15)) AS BIGINT)"
        ph = f"""
  SELECT doc_id, {base} AS phash
  FROM {tbl('documents', d)} WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 5000000, xor({base}, (1::BIGINT << CAST(doc_id % 4 AS INTEGER)))
  FROM {tbl('documents', d)} WHERE doc_id % 12 = 0
"""
    if d == "spark":
        quarter = "CAST(shiftrightunsigned(phash, q * 16) & 65535 AS BIGINT)"
        qgen = "LATERAL VIEW explode(sequence(0, 3)) t AS q"
        ham = "bit_count(a.phash ^ b.phash)"
    else:
        quarter = "CAST((phash >> (q * 16)) & 65535 AS BIGINT)"
        qgen = ", (SELECT unnest(generate_series(0, 3)) AS q) qt"
        ham = "bit_count(xor(a.phash, b.phash))"
    return f"""
WITH ph AS ({ph}),
quarters AS (
  SELECT doc_id, phash, q, {quarter} AS qv FROM ph {qgen}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS pa, b.doc_id AS doc_b, b.phash AS pb
  FROM quarters a JOIN quarters b
    ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham.replace('a.phash', 'pa').replace('b.phash', 'pb')} AS BIGINT) AS hamming
FROM cand
WHERE {ham.replace('a.phash', 'pa').replace('b.phash', 'pb')} <= {_PHASH_MAX_HAM}
"""


@query("mm_phash_near_dup", oracle=_phash_sql("duck"), tags=("llm", "multimodal", "dedup"))
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over the binary modality: a 60-bit
    perceptual-hash stand-in is computed per blob inside an Arrow-batched
    ``mapInPandas`` (the phash algorithm is a deterministic sha-prefix of
    the blob bytes — the real DCT codec slots into the same UDF), plus
    planted 1-bit-flipped variants; candidates come from a 16-bit
    pigeonhole quarter join (hamming <= 3 implies one exact quarter), then
    ``bit_count`` verifies. The oracle recomputes the identical pipeline
    relationally, byte-equal because the stub blob IS the document text."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.filter("doc_id % 3 = 0").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )

    def phash_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            hashes = [
                int(hashlib.sha256(b).hexdigest()[:15], 16)
                for b in pdf["blob"]
            ]
            base = pd.DataFrame({"doc_id": ids, "phash": pd.array(hashes, dtype="int64")})
            dup_mask = ids % 12 == 0
            dups = pd.DataFrame(
                {
                    "doc_id": ids[dup_mask] + 5_000_000,
                    "phash": [
                        h ^ (1 << int(i % 4))
                        for h, i in zip(base["phash"][dup_mask], ids[dup_mask])
                    ],
                }
            )
            yield pd.concat([base, dups], ignore_index=True)

    ph = blobs.mapInPandas(phash_batches, "doc_id bigint, phash bigint").persist()
    ph.createOrReplaceTempView("slsp_phash")
    return spark.sql(_phash_sql("spark", ph_src="slsp_phash"))


# ---------------------------------------------------------------------------
# Audio energy-envelope near-dup — the audio leg of the modality triangle
# (VERDICT r8 #8). Real RIFF/WAVE containers round-trip through the engine;
# the fingerprint is codec-free PCM arithmetic (frame RMS → 2-bit quantized
# envelope), so the whole pipeline is exact and SQL-replayable.
# ---------------------------------------------------------------------------

_AFP_MAX_L1 = 3  # verify cutoff: ≤3 total level flips across 16 frames
_AFP_BANDS = 4  # 4 bands × 4 frames; L1 ≤ 3 ⇒ ≥1 band exact (pigeonhole)


def _audio_fp_sql(d: str, lvl_src: str | None = None) -> str:
    """Band-join + verify over the quantized energy envelope (track_id, f,
    lvl). ``lvl_src`` names the Spark-side view materialized by the real
    WAV-parsing UDF; the oracle recomputes the identical envelope
    relationally — possible because the synthetic PCM is closed-form
    integer arithmetic (operators/multimodal.py: LCG noise × sha-seeded
    per-frame gain, all samples even so the planted re-encode's halving is
    exact in both dialects' integer division).

    Pigeonhole candidates: the 16-frame envelope splits into 4 bands of 4
    frames, each packed into a base-4 code; an L1 distance ≤ 3 flips at
    most 3 frames, leaving ≥1 band byte-identical — candidate pairs come
    from the (band, code) equi-join, never all-pairs. Buckets are
    collision-bounded (largest 43 of 2750 tracks at sf0.1-scale sigs); at
    100 TB the same shape holds with more frames/levels per band."""
    from ..functions import hashing
    from .dialect import intdiv

    mat = "AS MATERIALIZED" if d == "duck" else "AS"
    if lvl_src:
        lvl_cte = f"lv {mat} (SELECT track_id, f, lvl FROM {lvl_src})"
    else:
        sha = hashing.sha256_hex(s("doc_id", d), d)
        hx = hashing.hexdigit_val(f"substr({sha}, f + 1, 1)", d)
        if d == "spark":
            fspine = "LATERAL VIEW explode(sequence(0, 15)) ft AS f"
            ispine = "LATERAL VIEW explode(sequence(0, 1023)) it AS i"
        else:
            fspine = ", (SELECT unnest(generate_series(0, 15)) AS f) ft"
            ispine = ", (SELECT unnest(generate_series(0, 1023)) AS i) it"
        lvl_cte = f"""corpus AS (
  SELECT doc_id FROM {tbl('documents', d)} WHERE doc_id % 2 = 0
),
gains AS (
  SELECT doc_id, f, 1 + ({hx} % 5) AS g FROM corpus {fspine}
),
samples AS (
  SELECT doc_id, {intdiv('i', '64', d)} AS f, i,
         ((doc_id * 1103515245 + i * 12345) % 2048) - 1024 AS c0
  FROM corpus {ispine}
),
sig {mat} (
  SELECT sm.doc_id, sm.f,
         SUM((2 * sm.c0 * g.g) * (2 * sm.c0 * g.g)) AS e,
         SUM((sm.c0 * g.g + (sm.i % 3) - 1)
           * (sm.c0 * g.g + (sm.i % 3) - 1)) AS e2
  FROM samples sm JOIN gains g ON g.doc_id = sm.doc_id AND g.f = sm.f
  GROUP BY sm.doc_id, sm.f
),
tracks AS (
  SELECT doc_id AS track_id, f, e FROM sig
  UNION ALL
  SELECT doc_id + 5000000, f, e2 FROM sig WHERE doc_id % 8 = 0
),
lv {mat} (
  SELECT track_id, f,
         CASE WHEN 2 * e >= mx THEN 1 ELSE 0 END
         + CASE WHEN 4 * e >= mx THEN 1 ELSE 0 END
         + CASE WHEN 8 * e >= mx THEN 1 ELSE 0 END AS lvl
  FROM (SELECT track_id, f, e,
               MAX(e) OVER (PARTITION BY track_id) AS mx
        FROM tracks) t
)"""
    return f"""
WITH {lvl_cte},
bands AS (
  SELECT track_id, {intdiv('f', '4', d)} AS band,
         SUM(lvl * CASE f % 4 WHEN 0 THEN 1 WHEN 1 THEN 4
                              WHEN 2 THEN 16 ELSE 64 END) AS bcode
  FROM lv GROUP BY track_id, {intdiv('f', '4', d)}
),
cand AS (
  SELECT DISTINCT a.track_id AS ta, b.track_id AS tb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bcode = b.bcode AND a.track_id < b.track_id
)
SELECT c.ta AS track_a, c.tb AS track_b,
       CAST(SUM(ABS(la.lvl - lb.lvl)) AS BIGINT) AS l1_distance,
       CAST(MAX(CASE WHEN c.tb = c.ta + 5000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS is_planted
FROM cand c
JOIN lv la ON la.track_id = c.ta
JOIN lv lb ON lb.track_id = c.tb AND lb.f = la.f
GROUP BY c.ta, c.tb
HAVING SUM(ABS(la.lvl - lb.lvl)) <= {_AFP_MAX_L1}
"""


@query(
    "mm_audio_fingerprint_dedup",
    oracle=_audio_fp_sql("duck"),
    tags=("llm", "multimodal", "dedup"),
)
def mm_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection, codec-free (VERDICT r8 #8 —
    completes the text/image/audio modality triangle): tracks are REAL
    RIFF/WAVE blobs (16-bit mono PCM) synthesized per document id, the
    fingerprint UDF PARSES the container and computes a 16-frame RMS
    energy envelope quantized to 2 bits against the track's own peak —
    self-normalization makes it gain-invariant, so the planted 'lossy
    re-encodes' (half volume + dither, doc_id % 8) keep their envelope
    (measured L1 ≤ 1 of a ≤3 cutoff) while their bytes differ entirely.
    Candidates come from a 4-band pigeonhole join (L1 ≤ 3 ⇒ one exact
    band), then a 16-row-per-pair L1 verify — never all-pairs; the
    oracle replays the identical integer arithmetic relationally. At
    100 TB the envelope UDF is the decode pass (chromaprint slots into
    the same mapInPandas contract) and the band join shuffles only
    (track, band-code) pairs."""
    from ..catalog import load_table
    from ..operators.multimodal import audio_envelope_levels, synth_wav_tracks

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.filter("doc_id % 2 = 0").select("doc_id")
    lvls = audio_envelope_levels(synth_wav_tracks(ids)).persist()
    lvls.createOrReplaceTempView("slsp_audio_lvl")
    return spark.sql(_audio_fp_sql("spark", lvl_src="slsp_audio_lvl"))


# ---------------------------------------------------------------------------
# int8 embedding quantization — the storage/serving format for billion-scale
# vector corpora (4x smaller than f32, SIMD-friendly dot products).
# ---------------------------------------------------------------------------


def _quantize_sql(d: str) -> str:
    # floor(x + 0.5), not round(): dialects disagree on rounding mode at
    # exact .5 boundaries; floor arithmetic is identical IEEE in both
    if d == "spark":
        e = "transform(embedding, x -> CAST(x AS DOUBLE))"
        max_abs = f"array_max(transform({e}, x -> abs(x)))"
        q = "transform(ev, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))"

        err = (
            "array_max(zip_with(ev, qv, (x, qq) -> abs(x - qq * ma / 127.0)))"
        )
        nsat = "size(filter(qv, v -> abs(v) = 127))"
    else:
        e = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
        max_abs = f"list_max(list_transform({e}, x -> abs(x)))"
        q = "list_transform(ev, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))"

        err = (
            "list_max(list_transform(generate_series(1, 64), "
            "i -> abs(ev[i] - qv[i] * ma / 127.0)))"
        )
        nsat = "len(list_filter(qv, v -> abs(v) = 127))"
    return f"""
WITH base AS (
  SELECT vec_id, {e} AS ev, {max_abs} AS ma FROM {tbl('embeddings', d)}
  WHERE vec_id % 5 = 0
),
quant AS (
  SELECT vec_id, ev, ma, {q} AS qv FROM base
)
SELECT vec_id, round(ma, 6) AS max_abs,
       CAST({nsat} AS BIGINT) AS n_saturated,
       round({err}, 6) AS max_recon_err
FROM quant
"""


@query("emb_quantize_int8", oracle=_quantize_sql("duck"), tags=("llm", "embedding", "quantize"))
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors: per-vector
    absmax scale, ``floor(x*127/ma + 0.5)`` codes (floor form — engines
    disagree on round()'s half-way mode, floor arithmetic is identical
    IEEE), saturation count, and the max reconstruction error — which the
    absmax scheme bounds at ma/254 per element. A narrow projection; the
    quantized codes are what a 100 TB corpus stores and serves, cutting
    vector bytes 4x before any index is built."""
    views(spark, sf_dir, "embeddings")
    return spark.sql(_quantize_sql("spark"))


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd) — iterative clustering with exact arithmetic:
# components integerized to micro-units, centroids carried as (sum, count)
# rationals, distances compared via the integer identity
# argmin_j dist(x, s_j/c_j) = argmin_j sum_i (c_j*x_i - s_ji)^2 / c_j^2
# computed in DOUBLE from exact BIGINT terms — bit-identical in any engine.
# ---------------------------------------------------------------------------

_KM_K_MOD = 50
_KM_K_LIM = 500  # 10 initial centroids at every SF
_KM_ITERS = 2


def _km_idx(i: int, d: str) -> str:
    return f"xi[{i}]" if d == "spark" else f"xi[{i + 1}]"


def _km_dist(d: str) -> str:
    """Sum of squared residuals scaled by cnt^2: fixed-order flat sum of 64
    double terms, each exact (|cnt*x - s| < 2^53)."""
    terms = []
    for i in range(DIM):
        t = f"CAST(c.cnt * v.{_km_idx(i, d)} - c.s{i} AS DOUBLE)"
        terms.append(f"{t} * {t}")
    # divide by cnt^2 once at the end: monotone per-centroid scaling must
    # NOT be dropped — cnt differs per centroid, so the raw sum is not
    # comparable across centroids
    return ("(" + " + ".join(terms) + ") / (CAST(c.cnt AS DOUBLE) * CAST(c.cnt AS DOUBLE))")


def _kmeans_sql(d: str, ints_src: str | None = None) -> str:
    e = (
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        if d == "spark"
        else "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )
    ints = (
        f"SELECT vec_id, xi FROM {ints_src}"
        if ints_src
        else f"SELECT vec_id, {e} AS xi FROM {tbl('embeddings', d)}"
    )
    c0_cols = ", ".join(f"{_km_idx(i, d)} AS s{i}" for i in range(DIM))
    sql = f"""
WITH ints AS ({ints}),
c0 AS (
  SELECT vec_id AS cid, CAST(1 AS BIGINT) AS cnt, {c0_cols}
  FROM ints WHERE vec_id % {_KM_K_MOD} = 0 AND vec_id < {_KM_K_LIM}
)"""
    for k in range(1, _KM_ITERS + 1):
        dist = _km_dist(d)
        if d == "spark":
            assign = f"""
  SELECT v.vec_id,
         min_by(c.cid, named_struct('d', {dist}, 'c', c.cid)) AS cid
  FROM ints v CROSS JOIN c{k - 1} c
  GROUP BY v.vec_id"""
        else:
            assign = f"""
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rnk
    FROM ints v CROSS JOIN c{k - 1} c
  ) z WHERE rnk = 1"""
        sums = ", ".join(f"SUM(v.{_km_idx(i, d)}) AS s{i}" for i in range(DIM))
        sql += f""",
a{k} AS ({assign}),
c{k} AS (
  SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS cnt, {sums}
  FROM a{k} a JOIN ints v ON v.vec_id = a.vec_id
  GROUP BY a.cid
)"""
    norm_terms = " + ".join(
        f"(CAST(s{i} AS DOUBLE) / cnt) * (CAST(s{i} AS DOUBLE) / cnt)"
        for i in range(DIM)
    )
    sql += f"""
SELECT cid, cnt AS n_members,
       round(sqrt({norm_terms}) / 1000000.0, 6) AS centroid_norm
FROM c{_KM_ITERS}
"""
    return sql


@query("emb_kmeans_lloyd", oracle=_kmeans_sql("duck"), tags=("llm", "clustering", "iterative"))
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=10, deterministic data-point
    init): components integerized to micro-units so centroid state is the
    exact rational (sum, count); the assignment argmin compares
    sum_i (cnt*x_i - s_i)^2 / cnt^2 — every term an exact BIGINT widened to
    DOUBLE, so both engines pick identical centroids (ties break to the
    lowest centroid id: min_by-struct on Spark, ROW_NUMBER in the oracle).
    Assignment is a broadcast of the 10-row centroid table against the
    vector scan with a map-side-combinable argmin aggregate — no window
    sort over the N*K product; the update is one 64-column exact-sum
    aggregation. The integerized vector table is persisted once across
    both iterations."""
    views(spark, sf_dir, "embeddings")
    e = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    ints = spark.sql(
        f"SELECT vec_id, {e} AS xi FROM {tbl('embeddings', 'spark')}"
    ).persist()
    ints.createOrReplaceTempView("slsp_km_ints")
    return spark.sql(_kmeans_sql("spark", ints_src="slsp_km_ints"))


# ---------------------------------------------------------------------------
# Semantic dedup — the composed embedding-space pipeline: hyperplane-LSH
# candidates -> exact cosine verify -> connected components -> keep the
# canonical member per cluster.
# ---------------------------------------------------------------------------


def _semantic_cc_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_ann_lsh_sql('duck')}),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (
  SELECT node AS vec_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT c.vec_id, c.cluster_id, s.cluster_size,
       (c.vec_id = c.cluster_id) AS keep
FROM comp c JOIN sizes s ON s.cluster_id = c.cluster_id
ORDER BY c.cluster_id, c.vec_id
"""


@query(
    "emb_semantic_dedup_cc",
    oracle=_semantic_cc_oracle(),
    tags=("llm", "dedup", "similarity", "iterative"),
)
def emb_semantic_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup, end to end: hyperplane-LSH
    bucketing generates candidates, exact cosine >= 0.9 verifies them,
    connected components glue overlapping pairs into clusters, and the
    minimum vec_id in each cluster is kept as the canonical member —
    the production near-dup pass for embedding-indexed corpora (the
    text-space siblings are ``dedup_minhash_lsh`` + ``dedup_cc_clusters``).
    Every stage is bucketed or frontier-bounded: candidates scale with
    bucket collisions (never |corpus|²) and the component loop is one
    join + one agg per round. The oracle runs the identical pair
    predicate through a recursive-CTE fixpoint."""
    pairs = sim_ann_lsh(spark, sf_dir)
    from ..operators.graph import connected_components

    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    sizes = comp.groupBy("comp").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("node").alias("vec_id"),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("comp")).alias("keep"),
        )
        .orderBy("cluster_id", "vec_id")
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation — recall@k of the LSH index vs the exact ranking,
# as a driver-checked query (the IVF variant is covered by the recall-floor
# test in tests/; this surfaces the metric itself).
# ---------------------------------------------------------------------------

_RECALL_K = 10
_ANN_EVAL_NQ = 8  # fixed-size hash-rank query cohort (k·N exact pass)


def _ann_recall_sql(d: str) -> str:
    bucket_bits = ", ".join(
        f"(CASE WHEN {dot_const('emb', _hyperplane_signs(p), d)} >= 0 THEN '1' ELSE '0' END)"
        for p in range(_N_PLANES)
    )
    return f"""
WITH corpus AS ({_emb_corpus(d)}),
normed AS (
  SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm,
         concat({bucket_bits}) AS bucket
  FROM corpus
),
qs AS ({qsample('normed', 'vec_id', _ANN_EVAL_NQ)}),
q AS (SELECT n.* FROM normed n JOIN qs ON qs.vec_id = n.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {dot('q.emb', 'n.emb', DIM, d)} / (q.nrm * n.nrm) DESC,
                      n.vec_id
           ) AS rnk
    FROM q JOIN normed n ON q.vec_id <> n.vec_id
  ) r WHERE rnk <= {_RECALL_K}
),
approx AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM q JOIN normed n
    ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
)
SELECT {"/*+ BROADCAST(a) */" if d == "spark" else ""} e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST({_RECALL_K} AS BIGINT) AS k,
       round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / {_RECALL_K}, 6)
         AS recall_at_k
FROM exact e
LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@query(
    "sim_ann_recall_eval",
    oracle=_ann_recall_sql("duck"),
    tags=("llm", "similarity", "evaluation"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH index against the exact cosine
    ranking, per query — an ANN index you haven't measured is an ANN
    index you can't trust, so the evaluation is itself a first-class
    query. The exact side reuses the brute-force plan (broadcast query
    rows, single corpus pass); the approximate side is the bucket
    equi-join; recall is the intersection count over k. On a 100 TB
    corpus the same query runs over a sampled query set — the shape
    (two rankings + anti-joinable overlap) is unchanged."""
    views(spark, sf_dir, "embeddings")
    return spark.sql(_ann_recall_sql("spark"))


def _ivf_recall_sql(d: str) -> str:
    # The IVF pipeline verbatim (same CTEs as _ann_ivf_sql) plus the exact
    # ranking for the same query set and the per-query overlap count.
    return f"""
WITH base AS (SELECT vec_id, {to_double_arr('embedding', d)} AS emb FROM {tbl('embeddings', d)}),
normed AS (SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, d)}) AS nrm FROM base),
cents AS (
  SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM normed
  WHERE vec_id % {_IVF_CENT_MOD} = 0
),
assign AS (
  SELECT vec_id, emb, nrm, cid FROM (
    SELECT n.vec_id, n.emb, n.nrm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {dot('n.emb', 'c.cemb', DIM, d)} / (n.nrm * c.cnrm) DESC, c.cid
           ) AS crnk
    FROM normed n CROSS JOIN cents c
  ) a WHERE crnk = 1
),
qprobe AS (
  SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm, cid FROM (
    SELECT n.vec_id, n.emb, n.nrm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {dot('n.emb', 'c.cemb', DIM, d)} / (n.nrm * c.cnrm) DESC, c.cid
           ) AS crnk
    FROM normed n CROSS JOIN cents c
    WHERE n.vec_id % {_IVF_QUERY_MOD} = 0
  ) p WHERE crnk <= {_IVF_NPROBE}
),
cand AS (
  SELECT q.qid, a.vec_id AS neighbor_id,
         {dot('q.qemb', 'a.emb', DIM, d)} / (q.qnrm * a.nrm) AS cos_sim
  FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
),
ivf AS (
  SELECT qid AS query_id, neighbor_id FROM (
    SELECT qid, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM cand
  ) r WHERE rnk <= {_IVF_TOPK}
),
qs AS ({qsample('normed', 'vec_id', _IVF_EVAL_NQ, f'vec_id % {_IVF_QUERY_MOD} = 0')}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {dot('q.emb', 'n.emb', DIM, d)} / (q.nrm * n.nrm) DESC,
                      n.vec_id
           ) AS rnk
    FROM normed q JOIN qs ON qs.vec_id = q.vec_id
    JOIN normed n ON q.vec_id <> n.vec_id
  ) r WHERE rnk <= {_IVF_TOPK}
)
SELECT e.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST({_IVF_TOPK} AS BIGINT) AS k,
       round(CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_IVF_TOPK}, 6)
         AS recall_at_k
FROM exact e
LEFT JOIN ivf i
  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@query(
    "sim_ann_ivf_recall_eval",
    oracle=_ivf_recall_sql("duck"),
    tags=("llm", "similarity", "evaluation"),
)
def sim_ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index at nprobe=2 against the exact cosine
    ranking — the quality metric the LSH index already carries
    (``sim_ann_recall_eval``), now for the FAISS-style coarse quantizer.
    The approximate side runs the REAL :func:`sim_ann_ivf` operator (not
    a SQL re-rendering); the exact side brute-forces only a FIXED-k
    hash-rank sample of the query cohort (broadcast, one corpus pass —
    k·N work at any corpus size, where the former %-modulus cohort grew
    ∝N and made the exact pass ~N²); recall is the per-query overlap
    over k. tests/test_approx.py pins a fixed recall floor, so a
    centroid/probe regression fails CI, not production."""
    views(spark, sf_dir, "embeddings")
    approx = sim_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    normed = spark.sql(
        f"""
SELECT vec_id, emb, sqrt({dot('emb', 'emb', DIM, 'spark')}) AS nrm
FROM (SELECT vec_id, {to_double_arr('embedding', 'spark')} AS emb
      FROM {tbl('embeddings', 'spark')})
"""
    )
    # fixed-k hash-rank sample OF the serving cohort (same cohort rule as
    # the oracle's qs CTE): the exact brute-force side is k·N at any
    # corpus size; TakeOrderedAndProject, not a global sort
    q = F.broadcast(
        normed.filter(F.col("vec_id") % _IVF_QUERY_MOD == 0)
        .orderBy(F.expr("(vec_id * 2654435761) % 1048576"), "vec_id")
        .limit(_IVF_EVAL_NQ)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    cos = F.expr(dot("qemb", "emb", DIM, "spark")) / (
        F.col("qnrm") * F.col("nrm")
    )
    we = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    exact = (
        q.join(normed, F.col("qid") != F.col("vec_id"))
        .withColumn("cos_sim", cos)
        .withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .select(F.col("qid").alias("query_id"), F.col("vec_id").alias("neighbor_id"))
    )
    # both sides are |queries| * k rows but window-derived (no stats) —
    # without the hint the overlap join falls back to sort-merge
    hits = F.broadcast(approx.withColumn("hit", F.lit(1)))
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("bigint").alias("n_hits"))
        .withColumn("k", F.lit(_IVF_TOPK).cast("bigint"))
        .withColumn(
            "recall_at_k", F.round(F.col("n_hits") / F.lit(_IVF_TOPK), 6)
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap against a held-out eval set.
# ---------------------------------------------------------------------------

_DECON_EVAL_MOD = 37  # deterministic eval split: doc_id % 37 = 0
_DECON_K = 5  # word n-gram size (the Brown et al. 13-gram idea at corpus scale)


def _decontaminate_sql(d: str) -> str:
    """GPT-3-style training-set decontamination (Brown et al. 2020 App. C,
    public): a training document is CONTAMINATED if it shares any word
    n-gram with a held-out evaluation set. Eval = the deterministic
    ``doc_id % 37`` slice of the dup-injected corpus; train = the rest.
    The provenance breakdown proves the mechanism: planted exact copies
    (+2M ids) and prefix-marked near-dups (+1M ids) of eval-slice
    originals MUST flag, organic overlap is the base rate. Postings are
    60-bit shingle hashes (8-byte join keys); the eval shingle set is
    DISTINCT and ~1/37th of the corpus, so the probe is one
    broadcast-sized semi-join — at 100 TB the eval set (benchmarks are
    MBs, corpora are TBs) broadcasts and the corpus never shuffles."""
    from .dialect import hash64

    return f"""
WITH corpus AS ({_doc_corpus(d)}),
toks AS (SELECT doc_id, {text.words('text', d)} AS w FROM corpus),
shing AS (
  SELECT doc_id, {arr_distinct(text.shingles('w', _DECON_K, d), d)} AS sh
  FROM toks WHERE {arr_len('w', d)} >= {_DECON_K}
),
exploded AS (
  SELECT doc_id, {hash64('s_raw', d)} AS s FROM (
    SELECT doc_id, {unnest_fn(d)}(sh) AS s_raw FROM shing
  ) x
),
eval_sh AS (
  SELECT DISTINCT s FROM exploded WHERE doc_id % {_DECON_EVAL_MOD} = 0
),
flagged AS (
  SELECT DISTINCT p.doc_id
  FROM exploded p JOIN eval_sh e ON p.s = e.s
  WHERE p.doc_id % {_DECON_EVAL_MOD} <> 0
),
train AS (
  SELECT doc_id,
         CASE WHEN doc_id >= 2000000 THEN 'exact_copy'
              WHEN doc_id >= 1000000 THEN 'near_dup'
              ELSE 'organic' END AS provenance
  FROM corpus WHERE doc_id % {_DECON_EVAL_MOD} <> 0
)
SELECT t.provenance,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(f.doc_id) AS BIGINT) AS n_flagged
FROM train t LEFT JOIN flagged f ON f.doc_id = t.doc_id
GROUP BY t.provenance
ORDER BY t.provenance
"""


@query(
    "llm_decontaminate_eval",
    oracle=_decontaminate_sql("duck"),
    tags=("llm", "dedup", "governance"),
)
def llm_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination by shared word-5-grams — the standard
    pre-training hygiene step the dedup family was missing: near-dup
    dedup removes train-train redundancy, `data_split_leakage` catches
    same-content split straddles, and THIS flags training documents that
    would leak evaluation data into the training mix (Brown et al. 2020's
    n-gram decontamination, run relationally). See
    :func:`_decontaminate_sql` for the scale shape."""
    views(spark, sf_dir, "documents")
    return spark.sql(_decontaminate_sql("spark"))
