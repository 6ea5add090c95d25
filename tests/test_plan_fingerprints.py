"""Plan-shape regression gate (VERDICT r7 #5): every registered batch
query's executed-plan fingerprint (counts of exchanges, join strategies,
windows, aggregates, Python nodes, scans) must equal the checked-in
``PLANFP.json``. Wall-clock on this host lies in noisy windows; node
counts never do — a new exchange or a broadcast→sort-merge downgrade
fails here deterministically.

Intentional plan changes: regenerate in the SAME commit with

    SPARK_GRAFT_REGEN_PLANFP=1 python -m pytest tests/test_plan_fingerprints.py

Scope (pinned deliberately, per ADVICE r8): with AQE enabled the
fingerprint is the *static* physical plan (``isFinalPlan=false``) — the
deterministic output of Catalyst's strategy choices plus our explicit
``broadcast()`` hints, before runtime re-optimization. AQE's runtime
join-strategy flips are intentionally NOT pinned here: at the sf0.001
test scale AQE's size thresholds would demote nearly every shuffle join
to broadcast, so a finalized-plan fingerprint would pin tiny-data
runtime accidents rather than the scale-stable plan intent, and would
drift with testdata size instead of with code. What this gate therefore
catches deterministically: new/removed exchanges, strategy changes in
the declared plan (a lost broadcast hint → SortMergeJoin appears
statically), window/aggregate/Python-node count changes. What it cannot
catch: an AQE runtime demotion whose static plan is unchanged — those
are governed by the explicit broadcast-hint lint in test_plans.py and
the bench floor, not by this file.
"""

from __future__ import annotations

import json
import os

from .conftest import SF_DIR

_PLANFP_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANFP.json"
)

# queries whose plan construction is itself expensive (driver-side rounds
# with per-round execution) — fingerprinted like the rest, listed here only
# as documentation of why this test is not instant
_SLOW_BUILD = {"text_bpe_train_k"}


def _live_fingerprints(spark) -> dict[str, dict[str, int]]:
    from aws_localstack_stream_processing_spark.plans import all_queries
    from aws_localstack_stream_processing_spark.plans.planfp import fingerprint

    fps: dict[str, dict[str, int]] = {}
    for name, qd in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue  # streaming plans: pinned below, from metrics.LAST_RUN
        # CacheManager rewrites any subplan previously persisted ANYWHERE
        # in the session into InMemoryTableScan, so a query's plan shape
        # depends on session cache history (discovered when the full-suite
        # run drifted vs the fresh-session pin). Clearing per query makes
        # the fingerprint a function of the query alone: it sees only its
        # OWN persists.
        spark.catalog.clearCache()
        executed = (
            qd.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )
        fps[name] = fingerprint(executed)
    spark.catalog.clearCache()
    return fps


def test_plan_fingerprints_match_pinned(spark):
    live = _live_fingerprints(spark)
    if os.environ.get("SPARK_GRAFT_REGEN_PLANFP") == "1":
        # preserve reserved (__-prefixed) sections, e.g. the AQE-final
        # pins regenerated by their own test below
        try:
            with open(_PLANFP_PATH) as f:
                for k, v in json.load(f).items():
                    if k.startswith("__"):
                        live[k] = v
        except (OSError, ValueError):
            pass
        with open(_PLANFP_PATH, "w") as f:
            json.dump(live, f, indent=1, sort_keys=True)
        return
    assert os.path.exists(_PLANFP_PATH), (
        "PLANFP.json missing — generate with SPARK_GRAFT_REGEN_PLANFP=1"
    )
    with open(_PLANFP_PATH) as f:
        pinned = json.load(f)
    pinned = {k: v for k, v in pinned.items() if not k.startswith("__")}
    drift: list[str] = []
    for name in sorted(set(pinned) | set(live)):
        if name not in pinned:
            drift.append(f"{name}: NEW query — regenerate PLANFP.json")
        elif name not in live:
            drift.append(f"{name}: pinned but no longer registered")
        elif pinned[name] != live[name]:
            delta = {
                k: (pinned[name].get(k, 0), live[name].get(k, 0))
                for k in set(pinned[name]) | set(live[name])
                if pinned[name].get(k, 0) != live[name].get(k, 0)
            }
            drift.append(f"{name}: {delta} (pinned, live)")
    assert not drift, (
        "plan-shape drift vs PLANFP.json — if intentional, regenerate in "
        "this commit:\n" + "\n".join(drift)
    )


# ---------------------------------------------------------------------------
# AQE-final pins for the shuffle-heavy top 10 (VERDICT r9 #7): the static
# gate above deliberately ignores AQE's runtime re-planning; for the ten
# largest-shuffle queries (ranked by pinned exchange counts) the FINAL
# adaptive plan is additionally pinned AT THE BENCH SF (sf0.1) — the scale
# where broadcast↔sort-merge decisions are real, not tiny-data accidents.
# What this catches that nothing else can: an AQE runtime demotion
# (broadcast → SMJ because a build side's runtime stats crossed the
# threshold) whose static plan is unchanged. Regenerate intentionally with
#     SPARK_GRAFT_REGEN_AQEFP=1 python -m pytest \
#         tests/test_plan_fingerprints.py::test_aqe_final_fingerprints_match_pinned
# ---------------------------------------------------------------------------

_AQE_KEY = "__aqe_final_sf0.1__"
_AQE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# top 20 by total pinned exchange count (see PLANS.md round-10 notes;
# r10 continuation widened 10 → 20, pulling in the 9-10-exchange tier)
AQE_FINAL_QUERIES = [
    "sketch_theta_union",
    "dedup_containment",
    "rag_rrf_fusion",
    "ops_dashboard_view",
    "funnel_window_constrained",
    "graph_clustering_coefficient",
    "graph_degree_assortativity",
    "graph_jaccard_link_predict",
    "llm_classifier_threshold_sweep",
    "graph_kcore_peel",
    "sim_ann_ivf_nprobe_curve",
    "llm_filter_stack",
    "graph_triangle_count",
    "ts_stl_anomaly",
    "profile_mutual_information",
    "mm_crossmodal_joint_dedup",
    "llm_dataset_card",
    "graph_copurchase_lift",
    "text_unigram_kl_mix",
    "sketch_kmv_distinct",
]


def test_aqe_final_fingerprints_match_pinned(spark):
    from aws_localstack_stream_processing_spark.plans import all_queries
    from aws_localstack_stream_processing_spark.plans.planfp import (
        aqe_final_fingerprint,
    )

    qs = all_queries()
    live: dict[str, dict[str, int]] = {}
    for name in AQE_FINAL_QUERIES:
        spark.catalog.clearCache()
        df = qs[name].fn(spark, _AQE_SF_DIR)
        # the final adaptive plan only exists on the DataFrame's OWN
        # QueryExecution after it ran — a noop write spawns a separate
        # execution and leaves this one isFinalPlan=false
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, f"{name}: plan not finalized"
        live[name] = aqe_final_fingerprint(df)
    spark.catalog.clearCache()

    with open(_PLANFP_PATH) as f:
        doc = json.load(f)
    if os.environ.get("SPARK_GRAFT_REGEN_AQEFP") == "1":
        doc[_AQE_KEY] = live
        with open(_PLANFP_PATH, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        return
    pinned = doc.get(_AQE_KEY)
    assert pinned, (
        f"PLANFP.json lacks {_AQE_KEY} — generate with "
        "SPARK_GRAFT_REGEN_AQEFP=1"
    )
    drift: list[str] = []
    for name in AQE_FINAL_QUERIES:
        # a pin may record a LIST of legal shapes: some plans sit on a
        # genuine AQE runtime race (stage materialization vs replan —
        # see PLANS.md round-11, profile_mutual_information) where two
        # final shapes are both correct outcomes of the same code; the
        # preferred fix is making the plan deterministic (explicit
        # persist of the diamond), the list is the documented fallback
        legal = pinned.get(name, {})
        legal_list = legal if isinstance(legal, list) else [legal]
        if live[name] not in legal_list:
            p = legal_list[0] if legal_list else {}
            delta = {
                k: (p.get(k, 0), live[name].get(k, 0))
                for k in set(p) | set(live[name])
                if p.get(k, 0) != live[name].get(k, 0)
            }
            drift.append(f"{name}: {delta} (pinned[0], live)")
    assert not drift, (
        "AQE-final plan drift at sf0.1 — a runtime join-strategy flip or "
        "stage-shape change; if intentional, regenerate in this commit:\n"
        + "\n".join(drift)
    )


# ---------------------------------------------------------------------------
# Streaming plans (r9): the batch gate above cannot see stream_* queries
# (a streaming physical plan only exists while its query runs), so their
# fingerprints come from the plan each bounded harness run records at
# termination (metrics.LAST_RUN). What this pins that the streaming LINT cannot: the exact
# stateful-operator inventory (StateStoreSave/Restore, StreamingDeduplicate,
# StreamingSymmetricHashJoin, FlatMapGroupsInPandasWithState), the watermark
# assignment count, and the exchange shape of every streaming query — an
# extra state store or a lost EventTimeWatermark is a semantics change the
# bounded memory-sink result may not reveal. Regenerate intentionally with
#     SPARK_GRAFT_REGEN_STREAMFP=1 python -m pytest \
#         tests/test_plan_fingerprints.py::test_streaming_plan_fingerprints_match_pinned
# ---------------------------------------------------------------------------

_STREAMFP_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "STREAMFP.json"
)


def _live_stream_fingerprints(spark) -> dict[str, dict[str, int]]:
    from aws_localstack_stream_processing_spark.plans import all_queries
    from aws_localstack_stream_processing_spark.plans.planfp import fingerprint
    from aws_localstack_stream_processing_spark.streaming import metrics

    fps: dict[str, dict[str, int]] = {}
    for name, qd in sorted(all_queries().items()):
        if not name.startswith("stream_"):
            continue
        spark.catalog.clearCache()
        metrics.LAST_RUN["plan"] = ""
        qd.fn(spark, SF_DIR)
        plan = metrics.LAST_RUN["plan"]
        assert plan, f"{name}: no streaming plan captured"
        fps[name] = fingerprint(plan)
    spark.catalog.clearCache()
    return fps


def test_streaming_plan_fingerprints_match_pinned(spark):
    live = _live_stream_fingerprints(spark)
    if os.environ.get("SPARK_GRAFT_REGEN_STREAMFP") == "1":
        with open(_STREAMFP_PATH, "w") as f:
            json.dump(live, f, indent=1, sort_keys=True)
        return
    assert os.path.exists(_STREAMFP_PATH), (
        "STREAMFP.json missing — generate with SPARK_GRAFT_REGEN_STREAMFP=1"
    )
    with open(_STREAMFP_PATH) as f:
        pinned = json.load(f)
    drift: list[str] = []
    for name in sorted(set(pinned) | set(live)):
        if name not in pinned:
            drift.append(f"{name}: NEW query — regenerate STREAMFP.json")
        elif name not in live:
            drift.append(f"{name}: pinned but no longer registered")
        elif pinned[name] != live[name]:
            delta = {
                k: (pinned[name].get(k, 0), live[name].get(k, 0))
                for k in set(pinned[name]) | set(live[name])
                if pinned[name].get(k, 0) != live[name].get(k, 0)
            }
            drift.append(f"{name}: {delta} (pinned, live)")
    assert not drift, (
        "streaming plan-shape drift vs STREAMFP.json — if intentional, "
        "regenerate in this commit:\n" + "\n".join(drift)
    )
