"""Physical-plan assertions — the scale properties that row-count checks
can't see: predicate pushdown reaching the parquet scan, column pruning,
broadcast join selection, and shuffle budgets."""

from __future__ import annotations

from .conftest import SF_DIR


import re as _re


def _scan_count(executed: str, table: str) -> int:
    """Count FileScan references to a table, layout-cache aware: the cache
    serves `<table>.<N>g.<srcid>.parquet` (srcid = 8-hex source
    fingerprint), the raw source `<table>.parquet`. Plan strings may
    truncate long paths, so a cache-style prefix counts even without the
    `.parquet` suffix."""
    return len(
        _re.findall(
            rf"{table}(?:\.\d+g\.[0-9a-f]{{8}})?\.parquet|{table}\.\d+g\.",
            executed,
        )
    )


def _plan(spark, name):
    from aws_localstack_stream_processing_spark.plans import all_queries

    df = all_queries()[name].fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    return qe.sparkPlan().toString(), qe.executedPlan().toString()


def test_q6_pushdown_and_pruning(spark):
    plan, _ = _plan(spark, "tpch_q6_forecast_revenue")
    # every predicate reaches the parquet reader
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    # column pruning: only the 4 referenced columns are read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_extendedprice", "l_discount", "l_quantity", "l_shipdate"):
        assert col in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_broadcasts_small_sides(spark):
    plan, _ = _plan(spark, "tpch_q3_shipping_priority")
    # customer and orders sides broadcast; lineitem never shuffles for a join
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_dedup_exact_single_shuffle(spark):
    plan, executed = _plan(spark, "dedup_exact")
    # partial agg -> one exchange on the hash key -> final agg
    # (sparkPlan is pre-EnsureRequirements; exchanges appear in executedPlan)
    assert executed.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_range_band_join_broadcast_nested_loop(spark):
    plan, executed = _plan(spark, "ts_range_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    # the only exchanges are the band broadcast and the final agg shuffle —
    # the orders fact side itself never hash-shuffles for the join
    assert executed.count("ShuffleExchange") + executed.count(
        "Exchange hashpartitioning"
    ) <= 1


def test_asof_join_single_shuffle_no_cartesian(spark):
    plan, executed = _plan(spark, "ts_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union + window: one exchange for the purchases (user_id, ts) pre-agg,
    # one on user_id feeding the window sort — and nothing else (no join
    # shuffle, no range explosion)
    assert executed.count("Exchange hashpartitioning") == 2


def test_global_sort_uses_range_partitioning(spark):
    """A full ORDER BY (no limit) must sample-and-range-partition, not
    funnel through one task."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .orderBy("o_totalprice", "o_orderkey")
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in executed.lower()


def test_topk_avoids_global_sort(spark):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    heaps), never a full range-partitioned sort."""
    plan, executed = _plan(spark, "ref_topk_orders")
    assert "TakeOrderedAndProject" in executed
    assert "rangepartitioning" not in executed.lower()


def test_scalar_fn_surface_is_pure_map(spark):
    """The §2.8 builtin-function query must be one codegen'd projection over
    the scan: no shuffle, no Python, full column read limited to the 5
    referenced columns."""
    plan, executed = _plan(spark, "sql_scalar_fn_surface")
    assert "Exchange" not in executed
    assert "BatchEvalPython" not in executed and "ArrowEvalPython" not in executed
    # '*(1)' is the whole-stage-codegen marker: one fused stage
    assert "*(1) Project" in executed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_custkey" not in read_schema  # unreferenced column pruned


def test_context_pack_single_shuffle(spark):
    """Window (partition by lang) and the pack rollup (group by lang, pack)
    must share one hash exchange — the grouping keys are a superset of the
    window partitioning, so EnsureRequirements reuses it."""
    _, executed = _plan(spark, "llm_context_pack")
    assert executed.count("Exchange hashpartitioning") == 1


def test_salted_hot_key_agg_no_set_state(spark):
    """Exact COUNT(DISTINCT) via two-level aggregation: every aggregation
    state in the plan must be a scalar (counter/sum) — no collect_set /
    collect_list, whose per-group state grows with key heat and OOMs on
    exactly the hot keys the salting is there to survive."""
    plan, executed = _plan(spark, "scale_salted_hot_key_agg")
    assert "collect_set" not in executed and "collect_list" not in executed
    # distinct leg: partial agg on (event_type, user_id) then count
    assert executed.count("HashAggregate") >= 4  # two two-phase aggs


def test_chunking_is_narrow_codegen_map(spark):
    """RAG chunking must be scan-parallel: one Generate (explode), zero
    exchanges, zero Python — chunking cost scales with input splits."""
    _, executed = _plan(spark, "doc_chunk_overlap")
    assert "Exchange" not in executed
    assert "EvalPython" not in executed
    assert executed.count("Generate") == 1


def test_funnel_single_fact_shuffle(spark):
    """All three funnel stages (window MINs over the same user_id
    partitioning) plus the per-user rollup must share ONE hash exchange;
    the only other exchange is the 1-row global count."""
    _, executed = _plan(spark, "funnel_conversion")
    assert executed.count("Exchange hashpartitioning") == 1
    assert executed.count("Exchange") == 2


def test_arrow_stats_is_narrow_arrow_map(spark):
    """mapInArrow rides the zero-copy Arrow path (no pandas conversion
    node) and stays a narrow map."""
    _, executed = _plan(spark, "mm_arrow_stats")
    assert "Exchange" not in executed
    assert "MapInArrow" in executed


def test_incremental_dedup_corpus_never_shuffles_for_join(spark):
    """The ingest-time dedup gate must probe the corpus with a broadcast of
    the (small) incoming band index: every join is a BroadcastHashJoin,
    and the only hash exchanges carry candidate pairs (dedup + final
    rollup), never the corpus tables."""
    _, executed = _plan(spark, "dedup_incremental_lsh")
    assert "SortMergeJoin" not in executed
    assert executed.count("BroadcastHashJoin") >= 3
    assert executed.count("Exchange hashpartitioning") <= 2


def test_q11_scans_prune_to_referenced_columns(spark):
    """Both passes over lineitem (group-by and global-sum subquery) read
    only the 3 referenced columns."""
    plan, _ = _plan(spark, "tpch_q11_important_stock")
    for rs in plan.split("ReadSchema:")[1:]:
        line = rs.splitlines()[0]
        if "l_suppkey" in line:
            assert "l_shipdate" not in line and "l_orderkey" not in line


def test_gopher_rules_is_narrow_codegen_map(spark):
    """All five quality gates fuse into one codegen projection: no
    shuffle, no Python, one scan of documents."""
    _, executed = _plan(spark, "text_gopher_rules")
    assert "Exchange" not in executed
    assert "Python" not in executed and "ArrowEval" not in executed
    assert executed.count("FileScan parquet") == 1


def test_profiler_single_scan(spark):
    """The vertical reshape rides a lateral inline over the 1-row
    aggregate — orders is scanned once, not once per profiled column."""
    _, executed = _plan(spark, "profile_table_stats")
    assert executed.count("FileScan parquet") == 1
    assert "Expand" in executed  # exact multi-distinct path


def test_edit_distance_bucketed_not_cartesian(spark):
    """Candidate generation is an equi-join on (lang, band): Levenshtein
    runs only as a post-join verify predicate, never as a cross-product
    filter."""
    plan, _ = _plan(spark, "dedup_edit_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_single_window_exchange(spark):
    """All eight weighted lags share one window spec: a single hash
    exchange on user_id, one sort, one Window operator."""
    _, executed = _plan(spark, "ts_ewma")
    assert executed.count("Exchange hashpartitioning") == 1
    assert executed.count("Window") == 1


def test_bloom_runtime_filter_hash_existence_joins(spark):
    """The bloom probes must plan as broadcast-hash ExistenceJoins on the
    once-projected position columns — never a nested-loop join with the
    hash recomputed inside the join condition (the null-aware `IN`
    projection trap), and never a shuffle of the fact side."""
    plan, executed = _plan(spark, "scale_bloom_runtime_filter")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 4  # 3 bloom probes + exact verify
    # the fact table is scanned exactly once and never hash-shuffles for a
    # join; dim/occupied tables come from the persisted build (InMemory),
    # not from re-inlined scans
    assert _scan_count(executed, "lineitem") == 1
    assert "InMemoryTableScan" in executed


def test_bloom_one_sided_error(spark):
    """A bloom filter can false-positive but never false-negative: every
    exact hit must pass the gate, so no 4th outcome class exists."""
    from aws_localstack_stream_processing_spark.plans import all_queries

    df = all_queries()["scale_bloom_runtime_filter"].fn(spark, SF_DIR)
    outcomes = {r["outcome"] for r in df.collect()}
    assert outcomes <= {"pruned", "hit", "false_positive"}
    assert "hit" in outcomes


def test_mv_refresh_merge_side_is_state_sized(spark):
    """The merged MV consumes the persisted base partials (InMemory state),
    not a recompute of the full history — the only live parquet read is
    the delta partition's."""
    _, executed = _plan(spark, "mv_incremental_refresh")
    assert "InMemoryTableScan" in executed


def test_expectations_one_scan_per_table_metrics(spark):
    """The constraint suite computes its metric rows in single scans —
    4 orders constraints share one metrics row via the lateral-inline
    reshape, so each table is scanned exactly twice (metrics pass +
    referential-integrity join), never once per constraint."""
    _, executed = _plan(spark, "profile_expectations")
    assert _scan_count(executed, "orders") == 2
    assert _scan_count(executed, "lineitem") == 2


def test_interval_overlap_join_is_equi_join(spark):
    """The large-x-large interval join must be a hash equi-join on
    (user_id, bin) — never an inequality-only nested-loop or cartesian;
    the inequality predicates run as post-join filters."""
    plan, _ = _plan(spark, "ts_interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_pit_join_no_interval_join(spark):
    """The point-in-time join must ride the as-of union+window machinery:
    no nested-loop/cartesian interval join anywhere in the plan."""
    plan, executed = _plan(spark, "sql_scd2_pit_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # dim build (2 window layers + rollup) and the probe/union window all
    # partition on user_id; the only other exchange feeds the daily rollup
    assert executed.count("Exchange hashpartitioning") <= 3


def test_seq_pattern_match_layered_windows_one_exchange(spark):
    plan, executed = _plan(spark, "seq_pattern_match")
    # both carry-forward window layers share the (user_id) partitioning:
    # one hash exchange feeds two Window operators, no join anywhere
    assert "Join" not in plan
    assert plan.count("Window") >= 2
    assert executed.count("Exchange hashpartitioning") == 1


def test_m4_downsample_single_exchange(spark):
    plan, executed = _plan(spark, "ts_m4_downsample")
    # four rankings + the final group-by all run on one (event_type,
    # bucket) hash partitioning — the group-by collapses in place
    assert executed.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_vocab_oov_broadcasts_vocabulary(spark):
    plan, _ = _plan(spark, "text_vocab_oov")
    # the V-row vocab side broadcasts; the exploded corpus never
    # re-shuffles for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_modality_router_no_python(spark):
    plan, executed = _plan(spark, "mm_modality_router")
    # magic-byte sniffing is pure codegen: no Python/Arrow eval, no join,
    # and the only exchange is the tiny per-modality aggregation
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas", "InArrow"):
        assert marker not in plan
    assert "Join" not in plan
    assert executed.count("Exchange hashpartitioning") == 1


def _assert_all_windows_partitioned(executed: str, name: str) -> None:
    """Every WindowExec line prints as ``Window [funcs], [partSpec],
    [orderSpec]`` with empty specs omitted. Two separators = partitioned
    and ordered. One separator is ambiguous: partition-only (fine — e.g.
    COUNT(*) OVER (PARTITION BY k)) has no sort directions in its last
    group, while order-only (the "No Partition Defined" single-partition
    case) does. Flag exactly the order-only windows."""
    for line in executed.splitlines():
        if "- Window [" not in line or line.count("], [") >= 2:
            continue
        tail = line.rsplit("], [", 1)[-1]
        assert " ASC" not in tail and " DESC" not in tail, (
            f"{name}: single-partition window: {line.strip()}"
        )


def test_no_single_partition_windows(spark):
    """The two-phase global-numbering rewrites (ref_chunking,
    ref_lru_rotation) and the bucketed null-semantics probe must not fall
    back to a single-partition window anywhere in their physical plans."""
    for name in (
        "ref_chunking",
        "ref_lru_rotation",
        "ref_keyring_lookup_join",
        "sql_null_semantics",
    ):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)


def test_token_bucket_one_exchange_grouped_map(spark):
    plan, executed = _plan(spark, "scale_token_bucket_admit")
    # per-key state machine: one hash partition on user_id feeding the
    # Arrow grouped-map operator — sequential per key, parallel across keys
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan
    assert executed.count("Exchange hashpartitioning") == 1


def test_snapshot_diff_single_join_key_partitioned(spark):
    plan, executed = _plan(spark, "lake_snapshot_diff")
    # one full-outer join on the table key; both snapshot scans shuffle
    # once each onto that key and nothing else moves
    assert plan.count("FullOuter") == 1
    assert "CartesianProduct" not in plan


def test_rrf_rank_windows_sort_candidates_only(spark):
    plan, _ = _plan(spark, "rag_rrf_fusion")
    # corpus stats and df broadcast into the scoring join; the global
    # rank windows sort the candidate set, never the corpus explode
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmv_sketch_bounded_state(spark):
    plan, _ = _plan(spark, "sketch_kmv_distinct")
    # the sketch is a rank-filter + agg — no joins against the raw table
    # after hashing, no Python anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stateful_recurrences_one_exchange_each(spark):
    # holt and cusum: per-series grouped map — exactly one hash exchange
    # feeding the Arrow grouped-map operator, nothing else wide
    for name in ("ts_holt_linear", "ts_cusum_drift"):
        plan, executed = _plan(spark, name)
        assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan
        assert executed.count("Exchange hashpartitioning") == 1, name


def test_drift_chi2_single_scan_no_python(spark):
    plan, executed = _plan(spark, "profile_drift_chi2")
    assert executed.count("FileScan parquet") == 1
    assert "EvalPython" not in executed
    assert "CartesianProduct" not in plan


def test_label_propagation_no_cartesian_no_python(spark):
    plan, _ = _plan(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_domain_quota_window_partitioned(spark):
    """The per-domain quota window must partition on source — a hot
    domain bounds one partition, never the whole corpus."""
    _, executed = _plan(spark, "data_domain_quota")
    _assert_all_windows_partitioned(executed, "data_domain_quota")


def test_pq_codes_broadcast_codebook_no_window(spark):
    """PQ assignment: the codebook broadcasts and every subspace argmin
    is an aggregation — no window or sort over the (vector x centroid)
    product, no corpus shuffle for the join."""
    plan, executed = _plan(spark, "emb_pq_codes")
    assert "SortMergeJoin" not in plan
    assert "Window" not in executed.replace("WindowGroupLimit", "")
    assert "BroadcastNestedLoopJoin" in executed or "BroadcastHashJoin" in executed


def test_mor_delete_read_broadcast_anti_join(spark):
    """The delete vector applies as a broadcast anti-join; the base table
    never shuffles for it."""
    plan, executed = _plan(spark, "lake_mor_delete_read")
    assert "LeftAnti" in executed
    assert "SortMergeJoin" not in plan
    assert executed.count("Exchange hashpartitioning") <= 1  # final rollup only


def test_link_predict_no_cartesian_topk_heap(spark):
    """Candidate generation is the shared-neighbor equi-join (never a
    cross product) and the top-k is a per-partition heap, not a global
    sort."""
    plan, executed = _plan(spark, "graph_jaccard_link_predict")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in executed
    assert "rangepartitioning" not in executed.lower()


def test_ivfpq_broadcast_tables_no_corpus_window(spark):
    """IVF-PQ search: the coarse assignment is an aggregation argmin and
    the ADC distance tables broadcast — every window in the plan is
    partitioned (query-side only), and candidate scoring is equi-joins,
    never a sort-merge shuffle of the corpus."""
    plan, executed = _plan(spark, "emb_ivfpq_search")
    assert "CartesianProduct" not in plan
    # the probe list broadcasts into the cell join; the only join allowed
    # to plan as sort-merge is candidates x codes (corpus-sized right
    # side — AQE converts it from runtime stats when the candidate set
    # is small)
    assert plan.count("SortMergeJoin") <= 1
    _assert_all_windows_partitioned(executed, "emb_ivfpq_search")


def test_benford_single_scan_no_python(spark):
    """The Benford profile is one scan, a 9-row aggregation, and a scalar
    total joined back — no Python, no second pass over events."""
    _, executed = _plan(spark, "profile_benford_check")
    assert _scan_count(executed, "events") == 1
    assert "EvalPython" not in executed


def test_curation_ops_windows_partitioned(spark):
    """Round-4 curation operators: every window carries a partition spec
    (boilerplate ranks on source, recall evals on query id, MAD medians
    on event_type, range boundaries on the value bucket) — nothing in
    the family collapses to a single-partition sort at scale."""
    for name in (
        "text_boilerplate_ngrams",
        "text_dup_span_fraction",
        "emb_matryoshka_recall",
        "emb_ivf_balance_stats",
        "sketch_theta_union",
        "profile_outlier_mad",
        "scale_range_boundaries",
    ):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)


def test_reservoir_sample_heap_topk_no_shuffle(spark):
    """The deterministic hash-rank sample must execute as
    TakeOrderedAndProject (per-partition heap of k rows, driver merge):
    no global sort, no shuffle exchange anywhere in the plan."""
    _, executed = _plan(spark, "sketch_reservoir_sample")
    assert "TakeOrderedAndProject" in executed
    assert "Exchange" not in executed


def test_dup_span_no_python_single_doc_scan(spark):
    """Span expansion is pure codegen (no Python eval) and the documents
    table is scanned once per side of the frequency join."""
    _, executed = _plan(spark, "text_dup_span_fraction")
    assert "EvalPython" not in executed
    assert "InPandas" not in executed


def test_analytics_ops_windows_partitioned(spark):
    """Round-4 analytics operators: every window partitions (islands and
    attribution on user_id, stratified sample on lang, KS ECDF on the
    value bucket)."""
    for name in (
        "sql_gaps_islands",
        "data_stratified_sample",
        "profile_ks_drift",
        "attribution_last_touch",
    ):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)


def test_latest_compact_is_aggregation_not_window(spark):
    """CDC latest-row compaction must plan as a (partial-combinable)
    aggregation on the recency key — no window, no sort of the
    changelog."""
    _, executed = _plan(spark, "cdc_latest_compact")
    assert "Window" not in executed.replace("WindowGroupLimit", "")
    assert "Aggregate" in executed


def test_ks_drift_top1_heap_no_global_sort(spark):
    """The KS argmax is a TakeOrdered top-1 over the ECDF rows; the only
    sorts allowed are the within-bucket window sorts."""
    _, executed = _plan(spark, "profile_ks_drift")
    assert "TakeOrderedAndProject" in executed


def test_bpe_pairs_heap_topk(spark):
    """BPE merge candidates: pair counting is a hash aggregation and the
    ranking is a per-partition heap, never a global sort."""
    _, executed = _plan(spark, "text_bpe_merge_candidates")
    assert "TakeOrderedAndProject" in executed
    assert "EvalPython" not in executed


def test_er_blocking_is_equi_join_not_cartesian(spark):
    """Entity-resolution blocking must candidate-generate through a hash
    equi-join on the blocking key — a cartesian or broadcast-nested-loop
    fallback would be the O(n^2) plan blocking exists to avoid. The
    levenshtein verify runs as a post-join filter in codegen, not Python."""
    plan, executed = _plan(spark, "er_blocking_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in executed
    assert "InPandas" not in executed


def test_markov_and_autocorr_windows_partitioned(spark):
    """The sequence LEAD (per user) and the series LAG (per event type)
    must carry partition specs — neither collapses to a global sort."""
    for name in ("seq_markov_transitions", "ts_autocorr"):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)


def test_correlation_matrix_single_scan_no_window(spark):
    """All sums / squares / cross-products for the correlation matrix
    come from ONE aggregation over one scan of lineitem: no window, no
    join, no second scan."""
    _, executed = _plan(spark, "profile_correlation_matrix")
    assert executed.count("Scan parquet") == 1
    assert "Window" not in executed.replace("WindowGroupLimit", "")
    assert "Join" not in executed


def test_entropy_pure_aggregation_no_python(spark):
    """Entropy profiling is two stacked aggregations per column union —
    no Python eval and no window anywhere."""
    _, executed = _plan(spark, "profile_entropy")
    assert "EvalPython" not in executed
    assert "InPandas" not in executed
    assert "Window" not in executed.replace("WindowGroupLimit", "")


def test_hybrid_rrf_candidate_bounded(spark):
    """Both retrieval sides must end in TakeOrdered candidate heaps
    before any rank window runs, so the single-partition rank windows
    see at most 2 x candidate-depth rows regardless of corpus size."""
    _, executed = _plan(spark, "rag_hybrid_rrf")
    assert executed.count("TakeOrderedAndProject") >= 2
    assert "EvalPython" not in executed
    assert "CartesianProduct" not in executed


def test_quantile_bins_broadcast_boundaries(spark):
    """The one-row quartile boundary table must broadcast into the
    binning scan (never shuffle the fact side for it)."""
    plan, executed = _plan(spark, "profile_quantile_bins")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in executed
    assert "EvalPython" not in executed


# --- registry-wide plan lint ---------------------------------------------
#
# The per-query assertions above pin the plans that earn their shape; this
# sweep pins the three properties EVERY batch query must hold at 100 TB:
# no row-at-a-time Python eval, no cartesian product, and no
# single-partition window — so a future query can't quietly regress one.

# Deliberate exceptions, each with its scale rationale:
_LINT_ALLOW_PYTHON_ROW = {
    # The Python-UDTF SQL-surface showcase: UDTF evaluation is the
    # operator under test (Spark plans it as BatchEvalPythonUDTF).
    "sql_python_udtf",
}
_LINT_ALLOW_GLOBAL_WINDOW = {
    # Global rank over the CANDIDATE set only (never the corpus): BM25/RRF
    # candidates are bounded by query-term selectivity plus the hot-term
    # doc-frequency guard, so the windowed rows are O(candidates), not O(n).
    "rag_rrf_fusion",
    "rag_hybrid_rrf",
    # The Zipf regression ranks the top-100 vocabulary AFTER a TakeOrdered
    # heap bounds it to 100 rows — the window input is a constant-size
    # candidate set at any corpus size (pinned by
    # test_zipf_fit_candidate_bounded).
    "text_zipf_fit",
    # The hot-cell rank runs over the post-aggregation CELL-COUNT table
    # (|cells| = corpus/_IVF_CENT_MOD ≈ √N rows), never the corpus; the
    # |cells|² self-join alternative plans as CartesianProduct, which this
    # lint forbids outright (pinned by
    # test_recluster_rank_candidate_bounded).
    "emb_ivf_recluster_hot_cells",
}


def test_registry_wide_plan_lint(spark):
    from aws_localstack_stream_processing_spark.plans import all_queries

    failures = []
    for name, qd in all_queries().items():
        if name.startswith("stream_"):
            continue  # streaming plans are asserted in test_streaming.py
        executed = qd.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in executed and name not in _LINT_ALLOW_PYTHON_ROW:
            failures.append(f"{name}: row-at-a-time Python eval")
        if "CartesianProduct" in executed:
            failures.append(f"{name}: cartesian product")
        if name not in _LINT_ALLOW_GLOBAL_WINDOW:
            try:
                _assert_all_windows_partitioned(executed, name)
            except AssertionError as exc:
                failures.append(str(exc).splitlines()[0])
    assert not failures, "\n".join(failures)


# --- round-5 wave plan pins -----------------------------------------------


def test_quality_classifier_broadcast_no_window(spark):
    """The linear classifier must be a broadcast weight-table join + grouped
    sum: no window over the corpus, no Python anywhere."""
    plan, executed = _plan(spark, "llm_quality_classifier")
    assert "BroadcastHashJoin" in executed
    assert "Window" not in executed
    assert "InPandas" not in executed and "BatchEvalPython" not in executed


def test_exact_substring_dedup_partitioned_merge(spark):
    """The span-merge windows must partition on doc_id and the span-hash
    aggregation must be a hash shuffle — no cartesian, no global window."""
    _, executed = _plan(spark, "text_exact_substring_dedup")
    assert "CartesianProduct" not in executed
    _assert_all_windows_partitioned(executed, "text_exact_substring_dedup")
    assert "Exchange hashpartitioning" in executed


def test_zipf_fit_candidate_bounded(spark):
    """The only global window runs over the TakeOrdered-bounded top-100
    vocabulary, never the full term table."""
    plan, _ = _plan(spark, "text_zipf_fit")
    assert "TakeOrderedAndProject" in plan


def test_label_evals_windows_partitioned(spark):
    """NDCG and k-NN-accuracy rank windows partition on query_id; the k-NN
    majority vote needs no window at all."""
    for name in ("rag_ndcg_eval", "sim_knn_label_accuracy"):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)
        assert "CartesianProduct" not in executed


def test_burst_and_drawdown_share_series_exchange(spark):
    """The rolling-baseline and running-max/cumsum window stacks must ride
    series-partitioned exchanges (stacked same-partitioning windows)."""
    for name in ("ts_burst_ratio", "ts_drawdown"):
        _, executed = _plan(spark, name)
        _assert_all_windows_partitioned(executed, name)


def test_copurchase_lift_take_ordered_no_cartesian(spark):
    plan, executed = _plan(spark, "graph_copurchase_lift")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in executed


def test_scd2_single_build_exchange(spark):
    """The whole SCD2 build (LAG run-collapse + ROW_NUMBER/LEAD versioning)
    must ride ONE user_id hash exchange — the only other exchange allowed
    is the final presentation-order range sort."""
    _, executed = _plan(spark, "lake_scd2_build")
    assert len(_re.findall(r"Exchange hashpartitioning", executed)) == 1
    assert len(_re.findall(r"Exchange ", executed)) <= 2
    _assert_all_windows_partitioned(executed, "lake_scd2_build")


def test_containment_candidate_bounded(spark):
    """Containment pairs must come only from the shingle equi-join — no
    cartesian product; the only nested-loop join allowed is the 1-row
    corpus-count scalar feeding the df cap. The df-guard window must ride
    the same sg partitioning the self-join uses."""
    _, executed = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in executed
    assert len(_re.findall(r"BroadcastNestedLoopJoin", executed)) <= 1
    _assert_all_windows_partitioned(executed, "dedup_containment")


def test_slo_backtest_lane_partitioned_lindley(spark):
    """Both Lindley windows (running sum, running prefix min) must ride
    the lane partitioning, and the worst-ticks report must come off a
    TakeOrdered heap, not a global sort."""
    plan, executed = _plan(spark, "ref_slo_queue_backtest")
    assert "TakeOrderedAndProject" in plan
    _assert_all_windows_partitioned(executed, "ref_slo_queue_backtest")
    _, ep_exec = _plan(spark, "ref_alarm_episodes")
    _assert_all_windows_partitioned(ep_exec, "ref_alarm_episodes")


def test_centroid_outliers_take_ordered(spark):
    """Top-20 outliers must come off a TakeOrdered heap, and the 64-row
    centroid must broadcast into the distance join."""
    plan, executed = _plan(spark, "emb_centroid_outliers")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in executed


def test_streaming_registry_wide_plan_lint(spark):
    """The streaming edition of the registry-wide lint (VERDICT r4 #3).
    A streaming plan only exists while its query runs, so the surface
    harness records each run's executed plan (metrics.note_run) and this sweep replays every stream_* query and asserts,
    for each, the properties that must hold at 100 TB/day:

    - no row-at-a-time Python eval (BatchEvalPython); the one sanctioned
      Python operator is the Arrow-batched applyInPandasWithState keyring;
    - no cartesian product;
    - every stateful operator whose state only drains via event time —
      streaming dedup, stream-stream joins, session windows, and any
      APPEND-mode state store — carries an event-time watermark. (Complete
      -mode metric aggregations are the documented exception: their state
      is bounded by group cardinality, the reference's CloudWatch metric
      semantics, SURVEY §2.6 T5.)
    """
    from aws_localstack_stream_processing_spark.plans import all_queries
    from aws_localstack_stream_processing_spark.streaming import metrics

    failures = []
    swept = 0
    for name, qd in all_queries().items():
        if not name.startswith("stream_"):
            continue
        metrics.LAST_RUN["plan"] = ""
        qd.fn(spark, SF_DIR)
        plan = metrics.LAST_RUN["plan"]
        if not plan:
            failures.append(f"{name}: no streaming plan captured")
            continue
        swept += 1
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python eval")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: cartesian product")
        needs_wm = (
            "StreamingDeduplicate" in plan
            or "StreamingSymmetricHashJoin" in plan
            # state stores draining in Append mode (incl. session-window
            # stores) need event time to finalize rows; Complete-mode
            # stores are the documented bounded-cardinality exception
            or any(
                "StateStoreSave" in ln and "Append" in ln
                for ln in plan.splitlines()
            )
        )
        if needs_wm and "EventTimeWatermark" not in plan:
            failures.append(f"{name}: event-time-drained state without watermark")
    assert swept >= 10, f"lint swept only {swept} streaming queries"
    assert not failures, "\n".join(failures)


def test_ivf_probe_join_is_broadcast_not_smj(spark):
    """The IVF probe list (|queries| * nprobe rows) must broadcast into the
    cell-member join; without the explicit hint Catalyst's initial plan
    falls back to a sort-merge join because the window-derived probe side
    has no stats (found via the round-4 plan dossier)."""
    plan, executed = _plan(spark, "sim_ann_ivf")
    assert "SortMergeJoin" not in executed
    assert executed.count("Exchange hashpartitioning") <= 3


# --- round-4 wave 3/4: statistical-signal plans ---------------------------


def test_bigram_lm_no_window_no_python(spark):
    """The LM filter must stay a pure join/agg pipeline: corpus-wide
    scoring through count-table equi-joins, never a window or Python."""
    _, executed = _plan(spark, "llm_bigram_lm_score")
    assert "Window" not in executed
    assert "InPandas" not in executed and "BatchEvalPython" not in executed
    assert "CartesianProduct" not in executed


def test_attribution_topk_is_take_ordered(spark):
    """Both attribution rollups end in TakeOrderedAndProject — the top-50
    must never materialize as a global sort of all users."""
    for name in ("attribution_linear_multi_touch", "attribution_time_decay"):
        plan, _ = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_adamic_adar_take_ordered_no_cartesian(spark):
    plan, executed = _plan(spark, "graph_adamic_adar")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in executed


def test_time_range_frames_single_exchange(spark):
    """The interval-RANGE window reuses one series-keyed exchange; the
    filter on the probed day must reach the parquet scan."""
    plan, executed = _plan(spark, "sql_window_time_range_frames")
    assert executed.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [" in plan and "ts" in plan.split("PushedFilters")[1][:200]


def test_clustering_coeff_reuses_persisted_graph(spark):
    """The CC query must read the persisted edge/oriented views (InMemory
    scans), not re-derive the O(E) distinct self-join for every join leg."""
    _, executed = _plan(spark, "graph_clustering_coefficient")
    assert "InMemoryTableScan" in executed


def test_freshness_horizon_broadcasts(spark):
    """The one-row horizon joins via broadcast; the aggregation is one
    exchange of per-series partials."""
    _, executed = _plan(spark, "profile_freshness_lag")
    assert "BroadcastNestedLoopJoin" in executed or "BroadcastExchange" in executed
    assert executed.count("Exchange hashpartitioning") <= 1


# --- round-6 wave plan pins -----------------------------------------------


def test_bpe_encode_pure_codegen_single_doc_fold(spark):
    """The whole merge chain is string intrinsics inside codegen: no
    Python, no join, no window — the only exchange is the per-doc fold."""
    _, executed = _plan(spark, "text_bpe_encode")
    assert "BatchEvalPython" not in executed and "InPandas" not in executed
    assert "Join" not in executed
    assert "Window" not in executed
    assert executed.count("Exchange hashpartitioning") <= 1


def test_registrable_domain_broadcast_suffix_rank_partitioned(spark):
    """The 6-row suffix table broadcasts into the LIKE join (a BNLJ over a
    broadcast literal is 6 compares/row — fine; a shuffled non-equi join
    would not be), and the longest-match rank partitions per doc."""
    _, executed = _plan(spark, "url_registrable_domain")
    assert "BroadcastExchange" in executed
    assert "CartesianProduct" not in executed
    _assert_all_windows_partitioned(executed, "url_registrable_domain")


def test_crossmodal_candidate_bounded_no_cartesian(spark):
    """Token-Jaccard confirmation joins hang off the phash candidate set:
    equi-joins only, no cartesian, no window over the corpus."""
    _, executed = _plan(spark, "mm_crossmodal_joint_dedup")
    assert "CartesianProduct" not in executed
    assert "BroadcastNestedLoopJoin" not in executed
    assert "Window" not in executed


def test_keep_best_single_cluster_exchange(spark):
    """Rank + member count share ONE cluster-key partitioning: exactly one
    hash exchange feeds both windows."""
    _, executed = _plan(spark, "data_dedup_keep_best")
    _assert_all_windows_partitioned(executed, "data_dedup_keep_best")
    assert executed.count("Exchange hashpartitioning") == 1


def test_containment_scoring_reuses_persisted_postings(spark):
    """The scoring diamond must read the persisted postings (InMemory
    scans), never re-shingle the corpus per leg — SQL-over-a-temp-view
    was measured to miss the plan cache for the aggregated legs, so the
    scoring side is DataFrame ops over the same DF object."""
    _, executed = _plan(spark, "dedup_containment")
    assert "InMemoryTableScan" in executed
    assert "CartesianProduct" not in executed


def test_q18_aggregate_reuse_rewrite_equals_textbook():
    """The hand-applied aggregate-reuse rewrite of Q18 must be
    row-identical to the textbook double-scan formulation (checked in
    DuckDB so the comparison is engine-independent)."""
    import duckdb

    from aws_localstack_stream_processing_spark.plans.dialect import dec_sum, ts_str
    from aws_localstack_stream_processing_spark.plans.tpch import _q18_sql

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    textbook = f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       {ts_str('o.o_orderdate', 'duck')} AS orderdate, o.o_totalprice,
       {dec_sum('l.l_quantity')} AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(28,6))) > 150
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey,
         {ts_str('o.o_orderdate', 'duck')}, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""
    a = con.execute(textbook).fetchall()
    b = con.execute(_q18_sql("duck")).fetchall()
    assert a == b and len(a) > 0


def test_recluster_rank_candidate_bounded(spark):
    """The re-cluster responder's only GLOBAL window (the hot-cell rank)
    runs over the post-aggregation cell-count table — |cells| rows, one
    per centroid (corpus/_IVF_CENT_MOD ≈ √N) — never the corpus; and the
    plan carries no CartesianProduct (the self-join alternative would).
    Quantitative bound checked on data: the ranked input has exactly one
    row per occupied cell, ≤ the centroid count."""
    from aws_localstack_stream_processing_spark.plans.responder_ops import (
        _assign_sql,
    )
    from aws_localstack_stream_processing_spark.plans.dialect import views

    _, executed = _plan(spark, "emb_ivf_recluster_hot_cells")
    assert "CartesianProduct" not in executed
    # exactly the global rank windows over 'cells' (AQE may retain the
    # per-vec assignment windows inside reused stages; those partition on
    # vec_id and pass the partitioned-window rule)
    global_windows = [
        line
        for line in executed.splitlines()
        if "- Window [" in line and line.count("], [") < 2
        and (" ASC" in line.rsplit("], [", 1)[-1]
             or " DESC" in line.rsplit("], [", 1)[-1])
    ]
    assert global_windows, "hot-cell rank window missing from the plan"
    assert all("row_number" in line for line in global_windows)
    # the bound, on data: window input = one row per OCCUPIED cell
    views(spark, SF_DIR, "embeddings")
    spark.catalog.clearCache()
    assign = spark.sql(_assign_sql("spark"))
    n_cells = assign.select("cid").distinct().count()
    n_cents = spark.sql(
        "SELECT COUNT(*) FROM slsp_embeddings WHERE vec_id % 50 = 0"
    ).collect()[0][0]
    assert 0 < n_cells <= n_cents
