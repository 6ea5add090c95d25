"""Named query registry — the engine's public query surface.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) is
registered here as a named query: a Spark builder ``(spark, sf_dir) ->
DataFrame`` and, where SQL-expressible, an equivalent DuckDB oracle SQL
string. The verification driver hash-compares the two at sf=0.01.

Determinism contract (both engines must agree bit-for-bit):
- double aggregates go through DECIMAL addends (order-independent sums);
- timestamps are emitted as formatted strings;
- every LIMIT is preceded by a total ORDER BY;
- hash/fold expressions come from :mod:`..functions` with per-dialect
  fragments verified equivalent.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default=())
    # Cross-run staging classification (VERDICT r13 what's-wrong #2): a
    # staged builder caches work in the temp directory
    # (``tempfile.gettempdir()``) through ``streaming.source.cached_stage``,
    # which builds each stage in a unique sibling directory and publishes
    # it with one rename, so a stage directory that exists is complete.
    # The accepted staging precedent is "input synthesis only" (time-sliced
    # delivery plans, redelivery duplication, envelope decode — work a real
    # SOURCE does before the engine sees the data): ``"inputs"``. A builder
    # whose cache carries DERIVED ENGINE COMPUTE (e.g. the near-dup gate's
    # corpus-seeded MinHash band index) declares ``"derived"`` — the bench
    # lint (tests/test_bench_guard.py) refuses to wall-clock-time any such
    # query, so the cache can never become cross-run result caching in a
    # timed lane. ``None`` = no cross-run staging at all.
    staged_cache: str | None = None


QUERIES: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    staged_cache: str | None = None,
):
    """Register a named query. ``oracle=None`` → the driver records a weaker
    rows-only check (reserved for genuinely non-SQL-expressible operators).
    ``staged_cache`` declares cross-run staging in the temp directory
    through the one stage cache, published by a single rename (see
    QueryDef)."""
    assert staged_cache in (None, "inputs", "derived"), staged_cache

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QueryDef(
            name=name, fn=fn, oracle=oracle, tags=tags,
            staged_cache=staged_cache,
        )
        return fn

    return deco


def _correctness_history() -> tuple[dict[str, int], dict[str, int]]:
    """Per-query driver-verification history from CORRECTNESS_r*.json:
    ``(counts, last_green_round)``. The verification driver sweeps
    ``all_queries()`` in order with a bounded budget, so the ordering key
    decides which slice of the registry gets re-certified each round —
    this makes the sweep self-balancing across rounds with no hand-kept
    list."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    counts: dict[str, int] = {}
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, row in data.items():
                # Count only rows the driver actually verified green (or
                # skipped as no_oracle by design). A failed/errored row
                # leaves the count at 0, so the query re-queues at the
                # front of the next round's sweep automatically.
                ok = isinstance(row, dict) and (
                    row.get("err") == "no_oracle"
                    or (
                        row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match") is not False
                    )
                )
                if ok:
                    counts[name] = counts.get(name, 0) + 1
                    last_green[name] = max(last_green.get(name, 0), rnd)
    return counts, last_green


def all_queries() -> dict[str, QueryDef]:
    """Import every query module and return the populated registry, ordered
    least-driver-checked first (ties keep registration order)."""
    from . import (  # noqa: F401
        graph_ops,
        lakehouse_ops,
        llm_ops,
        quality_ops,
        rag_ops,
        reference_ops,
        runtime_filter_ops,
        scale_ops,
        sql_surface,
        streaming_surface,
        timeseries,
        tpch,
    )
    # dataset_ops (round 3) and pipeline_ops (round 4) import last, in
    # round order: with the least-checked-first ordering, ties resolve by
    # registration order, so the driver's bounded sweep verifies the older
    # backlog before brand-new queries.
    from . import dataset_ops  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import curation_ops  # noqa: F401
    from . import analytics_ops  # noqa: F401
    from . import insight_ops  # noqa: F401
    from . import signal_ops  # noqa: F401
    from . import corpus_ops  # noqa: F401
    from . import vector_ops  # noqa: F401
    from . import journey_ops  # noqa: F401
    from . import governance_ops  # noqa: F401
    from . import slo_ops  # noqa: F401
    from . import web_ops  # noqa: F401
    from . import audit_ops  # noqa: F401
    from . import mixture_ops  # noqa: F401
    from . import stream_dedup_ops  # noqa: F401
    from . import responder_ops  # noqa: F401

    counts, last_green = _correctness_history()
    names = list(QUERIES)
    # Least-recently-verified first (LRU over driver rounds): a query whose
    # code state was last certified at round k must re-certify before one
    # certified at round k+1, regardless of lifetime check counts — the
    # bounded 50-row budget then provably bounds staleness to
    # ceil(registry/50) rounds. Never-checked and failed rows have
    # last_green 0 and still jump the queue; ties fall back to lifetime
    # count, then registration order.
    ordered = sorted(
        range(len(names)),
        key=lambda i: (last_green.get(names[i], 0), counts.get(names[i], 0), i),
    )
    return {names[i]: QUERIES[names[i]] for i in ordered}
