"""The ``query_mix`` workload: one closed-loop client runs registered queries
back to back, each one built (``qd.fn``) and fully materialized through the
``noop`` sink, in an order the seed permutes.

Before the timed window every query runs once with its result collected and
hash-compared to the query's DuckDB oracle; that pass also pays each query's
first-execution cost, so the window does not. A traced run adds one traced
pass after the window and compares its time with the last untraced pass as
``trace.overhead_frac``.
"""

from __future__ import annotations

import os
import random
import time

import check
import harness
import tables
from harness import Tracer

# stream_firehose_directput (the DirectPut connector) is left out: at about
# 3 s an execution it took a quarter of each pass, and three passes of all
# twelve queries made a run too long.
QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume",
    "ref_ingest_partition_assign",
    "ref_content_hash_dedup",
    "ref_keyring_lookup_join",
    "ref_sign_pipeline",
    "ref_sign_ecdsa",
    "stream_lru_keyring",
    "dedup_minhash_lsh",
    "sim_ann_ivf",
]
SF = 0.005
DATA_SEED = 42  # the tables are fixed; the run seed permutes the query order
# 33 executions: the median and the tail rule's p69 each fall in the middle
# of one query's three samples, not between two queries
MIN_PASSES = 3
SETUPS = 3


def load_all(spark, sf_dir: str, names, tracer: Tracer) -> None:
    from aws_localstack_stream_processing_spark.catalog import load_table

    with tracer.span("catalog.load"):
        for n in names:
            load_table(spark, sf_dir, n)


def run_query(spark, qd, sf_dir: str, tracer: Tracer) -> float:
    """Build and materialize one query; returns its latency in seconds."""
    t = time.time()
    with tracer.span(f"plans.{qd.name}") as sp:
        if sp is not None:
            group = f"perfbench-{qd.name}-{sp['id']}"
            spark.sparkContext.setJobGroup(group, qd.name)
        with tracer.span(f"plans.{qd.name}.build"):
            df = qd.fn(spark, sf_dir)
        with tracer.span(f"plans.{qd.name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        if sp is not None:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            sp["attrs"]["jobs"] = harness.job_count(spark, group)
    return time.time() - t


def check_queries(spark, qs, sf_dir: str, names) -> set[str]:
    """Names of the mix queries whose result does not hash-match their
    DuckDB oracle. This is every query's first execution, so it also warms
    them; all run at once because first executions spend much of their time
    in single-threaded warm-up."""
    from aws_localstack_stream_processing_spark.session import concurrent_jobs

    got = concurrent_jobs(
        spark, *[lambda qd=qs[n]: check.spark_rows(qd.fn(spark, sf_dir)) for n in QUERIES]
    )
    con = check.oracle_connection(sf_dir, names)
    try:
        return {
            n
            for n, rows in zip(QUERIES, got)
            if check.canonical_hash(rows) != check.canonical_hash(check.oracle_rows(con, qs[n].oracle))
        }
    finally:
        con.close()


def query_mix(work: str, seed: int, seconds: int, tracer: Tracer) -> dict:
    from aws_localstack_stream_processing_spark.plans.registry import all_queries

    qs = all_queries()
    sf_dir = os.path.join(work, "data")
    names = tables.write(sf_dir, DATA_SEED, SF)

    setups, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        # a fresh layout cache per set-up: each pays the catalog relayout
        os.environ["SPARK_GRAFT_LAYOUT_CACHE_DIR"] = os.path.join(work, f"layout{i}")
        t = time.time()
        with tracer.span("session.start"):
            spark = harness.start_session()
        load_all(spark, sf_dir, names, tracer)
        run_query(spark, qs[QUERIES[0]], sf_dir, Tracer(False))  # warm-up
        setups.append(time.time() - t)
    if tracer.enabled:  # micro-batches of the mix's streaming queries
        spark.streams.addListener(harness.progress_listener(tracer))

    t_check = time.time()
    mismatched = check_queries(spark, qs, sf_dir, names)

    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    lat, names_run, pass_s = [], [], []
    t_start = time.time()
    with tracer.paused():
        while len(pass_s) < MIN_PASSES or time.time() - t_start < seconds:
            t = time.time()
            for name in order:
                lat.append(run_query(spark, qs[name], sf_dir, tracer))
                names_run.append(name)
            pass_s.append(time.time() - t)
    wall = time.time() - t_start

    tail, pct = harness.tail(lat)
    out = {
        "setup_s": harness.median(setups),
        "latency_p50_s": harness.median(lat),
        "latency_tail_s": tail,
        "throughput_per_s": len(lat) / wall,
        "attempted": len(lat),
        "failed": sum(1 for n in names_run if n in mismatched),
        "detail": {
            "setups": setups, "check_s": t_start - t_check, "pass_s": pass_s, "n": len(lat),
            "tail_pct": pct, "mismatched": sorted(mismatched),
            "per_query_s": {
                n: harness.median([x for x, m in zip(lat, names_run) if m == n]) for n in QUERIES
            },
        },
        "spark": spark,
    }
    if tracer.enabled:
        since = time.time()
        for name in order:
            run_query(spark, qs[name], sf_dir, tracer)
        traced_s = time.time() - since
        layers = {
            **harness.batch_stats(tracer, since),
            "catalog.load_s": harness.median(harness.durations(tracer.named("catalog.load"))),
            # against the last untraced pass, the warmest one
            "trace.overhead_frac": traced_s / pass_s[-1] - 1.0,
        }
        for n in QUERIES:
            for part in ("build", "exec"):
                spans = tracer.named(f"plans.{n}.{part}", since)
                layers[f"plans.{n}.{part}_s"] = harness.median(harness.durations(spans))
            runs = tracer.named(f"plans.{n}", since)
            layers[f"plans.{n}.jobs"] = harness.median([s["attrs"]["jobs"] for s in runs])
        out["layers"] = layers
    return out
