#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl-rounds --seed 1 --seconds 5 --trace 0

Run from the repository root. Every file a run writes stays under
``.bench_work/`` (removed at exit) and, for traced runs, ``.bench_traces/``.
The session is pinned to this machine: ``local[<cpus>]`` and a driver heap
well below physical memory.

The last line of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, measured by replaying each layer after the timed
operations. ``failed / attempted`` is the failed-operations ratio; an
operation is a crawl round or one plan of a corpus pass, and it fails if it
raises or its output differs from the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# traced runs skip the replays still pending this many seconds into the
# run, so that a run ends within 180 s even on a slow machine
REPLAY_DEADLINE_S = 130

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
}
JVM_METRICS = ("gc_s", "heap_peak_mb", "peak_rss_mb")
TRACE_METRICS = ("op_s_p50", "items_per_s")


def unit(name: str) -> str:
    """Unit of a per-layer metric ``layer.metric``, from its suffix."""
    layer, name = name.split(".", 1)
    if layer == "trace":
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    if name.endswith("_bytes") or name.startswith("bytes_"):
        return "bytes"
    return "count"


def per_layer_names() -> list[str]:
    import corpus
    import crawl

    names = [f"{layer}.{m}" for layer, ms in crawl.LAYER_METRICS.items() for m in ms]
    names += [f"plans.{p}_s" for p in corpus.PLANS]
    names += [f"jvm.{m}" for m in JVM_METRICS]
    names += [f"trace.{m}" for m in TRACE_METRICS]
    return names


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl-rounds", "corpus-dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "webcrawl_lowres_lang_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "reference_oracle.py")
    ):
        print(f"perfbench: no engine package or tests/ under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    harness.pin_environment(work)
    tracer = harness.Tracer(run_id, enabled=bool(args.trace))

    import corpus
    import crawl

    workload = {"crawl-rounds": crawl, "corpus-dedup": corpus}[args.workload]
    try:
        with harness.RssSampler() as rss:
            run_span = tracer.open("run")
            t = time.perf_counter()
            spark = harness.start_session(work)
            session_s = time.perf_counter() - t
            try:
                res = workload.run(spark, args.seed, args.seconds, tracer, work, run_span,
                                   t_start + REPLAY_DEADLINE_S)
                jvm = harness.jvm_stats(spark)
            finally:
                harness.stop_session(spark)
            tracer.close(run_span)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    for note in res["notes"]:
        print(f"FAILED: {note}", file=sys.stderr)
    e2e = {
        "setup_s": session_s + res["init_s"],
        "op_s_p50": statistics.median(res["op_s"]) if res["op_s"] else 0.0,
        "items_per_s": res["items_per_s"],
    }
    print(
        f"{args.workload} seed={args.seed}: ops={len(res['op_s'])} "
        f"failed_ops_ratio={res['failed']}/{res['attempted']} "
        f"peak_rss_mb={rss.peak_mb:.1f} "
        + " ".join(f"{k}={v:.4f}" for k, v in e2e.items())
    )
    if args.trace:
        values = {name: 0.0 for name in per_layer_names()}
        for layer, ms in res["layers"].items():
            for m, v in ms.items():
                values[f"{layer}.{m}"] = float(v)
        values.update({f"jvm.{k}": v for k, v in jvm.items()})
        values["jvm.peak_rss_mb"] = rss.peak_mb
        values.update({f"trace.{k}": e2e[k] for k in TRACE_METRICS})
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in values.items()}
        traces = os.path.join(ROOT, ".bench_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{run_id}.json"))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
