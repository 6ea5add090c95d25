"""Signing-engine benchmark.

    python3 perfbench/run.py --workload {sign,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints, as the last line of standard output,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (a layer a workload does not exercise
reads 0). A traced run measures its window once untraced and once traced;
``trace.overhead_frac`` compares the two. The spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``. Diagnostics go to
standard error.
Exits non-zero, printing no result, when the program is missing or a
workload cannot complete.

What the end-to-end metrics mean on each workload:

- ``sign``: ``latency_p50_s`` and ``latency_tail_s`` (p99) are the live
  records' creation-to-commit latency; ``throughput_per_s`` is backlog
  records per second through the E1 ingest, E2 sign and E2 replay drains.
- ``query_mix``: the latencies are single-query latencies (the tail is the
  highest percentile with ten executions beyond it, p69 of 33);
  ``throughput_per_s`` is queries per second.
- ``setup_s`` on both: the median of three set-ups, each a session start
  and warm-up (with the table loads on ``query_mix``). The first set-up also
  starts the JVM, so the median is a set-up in a running JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import harness
from harness import Tracer

WORKLOADS = ("sign", "query_mix")


def spec() -> dict:
    with open(os.path.join(harness.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, work: str, seed: int, seconds: int, tracer: Tracer) -> dict:
    import mix
    import sign

    fn = {"sign": sign.sign, "query_mix": mix.query_mix}[name]
    return fn(work, seed, seconds, tracer)


def close(res: dict) -> None:
    spark = res.pop("spark", None)
    if spark is not None:
        spark.stop()


def one_core_sign_rps(work: str, seed: int) -> float:
    """E2 sign drain of the backlog on a ``local[1]`` session: the
    single-threaded baseline of the backlog's sign rate. The JVM's code is
    already compiled by the workload; an untimed drain of the seed object
    pays the new session's first query."""
    import gen
    import sign
    from aws_localstack_stream_processing_spark.streaming.jobs import run_signing_stream

    src, warm = os.path.join(work, "src"), os.path.join(work, "warm")
    _, delivered = gen.stage_backlog(
        src, os.path.join(work, "stage"), seed, sign.BACKLOG_UNIQUE, sign.BACKLOG_OBJECTS
    )
    gen.seed_objects(os.path.join(warm, "src"), os.path.join(warm, "stage"), seed)
    spark = harness.start_session(master="local[1]")
    try:
        run_signing_stream(
            spark, os.path.join(warm, "src"), os.path.join(warm, "store"), os.path.join(warm, "ckpt")
        )
        t = time.time()
        run_signing_stream(spark, src, os.path.join(work, "store"), os.path.join(work, "ckpt"))
        return len(delivered) / (time.time() - t)
    finally:
        spark.stop()


def layer_metrics(args, work: str, res: dict, tracer: Tracer) -> dict[str, float]:
    layers = dict(res["layers"])
    layers["session.start_s"] = harness.median(harness.durations(tracer.named("session.start")))
    if args.workload == "sign":
        close(res)
        layers["scaling.sign_rps_1core"] = one_core_sign_rps(os.path.join(work, "one_core"), args.seed)
    tracer.dump(os.path.join(os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json"))
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description="signing-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(
        os.path.join(harness.REPO, "aws_localstack_stream_processing_spark", "__init__.py")
    ):
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2
    bench = spec()
    work_root = os.path.join(harness.REPO, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.configure_env(work)

    res = {}
    try:
        tracer = Tracer(bool(args.trace))
        res = run_workload(args.workload, work, args.seed, args.seconds, tracer)
        print(json.dumps({"workload": args.workload, **res["detail"]}, default=str), file=sys.stderr)
        if args.trace:
            values, metrics = layer_metrics(args, work, res, tracer), bench["per_layer"]
        else:
            values, metrics = res, bench["end_to_end"]
        out = {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in metrics
            },
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        close(res)
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
