#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_products --seed 1 --seconds 10 --trace 0

Untraced (``--trace 0``), runs one workload in one driver process on
``local[<available cores>]`` and reports its end-to-end metrics. Traced
(``--trace 1``), runs the layer probe, whatever the workload: the traced
part of every workload in one session, which reports the per-layer
metrics of all layers. Either way every output is checked, and the last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. A ``# env`` line before it records cores, memory,
versions and seed. Traced runs also write their spans to
``.perfbench/trace/<workload>-seed<n>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

import harness
from spans import Tracer, event_log_by_span

WORKLOADS = ("etl_products", "stream_replay")
# span name prefix -> layer, the more specific first
LAYERS = ("operators.raster", "operators.geotiff", "operators.sinks",
          "session", "sources", "cli", "plans", "streaming")


def layer_of(span_name: str) -> str:
    for layer in LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return "perfbench"


def self_by_layer(tracer, spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + tracer.self_time(s)
    return out


def trace_summary(bench, tracer) -> dict:
    """Self time per layer; for a workload that marks a traced pass, the
    pass total against the untraced time of the same work."""
    summary = {"layer_self_s": self_by_layer(tracer, tracer.spans)}
    if bench.trace_pass:
        root, untraced = bench.trace_pass
        total = tracer.duration(root)
        summary.update(pass_layer_self_s=self_by_layer(tracer, tracer.subtree(root)),
                       pass_traced_s=total, pass_untraced_s=untraced,
                       tracing_overhead_s=total - untraced)
    return summary


def run_workload(bench, env, args) -> None:
    print("# env " + json.dumps(env, sort_keys=True), flush=True)
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bench)
    try:
        t0 = time.perf_counter()
        start_s = bench.start_session()
        floor_ms = bench.job_floor_ms()
        session_setup_s = time.perf_counter() - t0
        # the manifest's per-layer metrics span every layer, so a traced
        # run probes every workload's layers
        for name in WORKLOADS if bench.trace else (args.workload,):
            importlib.import_module(name).run(bench, tracer, session_setup_s)
        if bench.trace:
            bench.metric("session.start_s", start_s, "s")
            bench.metric("session.job_floor_ms", floor_ms, "ms")
            bench.metric("session.peak_rss_mb", bench.peak_rss_mb(), "MB")
    finally:
        bench.stop_session()
    if not bench.trace:
        return
    by_span = event_log_by_span(os.path.join(bench.work, "eventlog"))
    if bench.after_stop:
        bench.after_stop(by_span)
    for s in tracer.spans:
        s.update(by_span.get(s["id"], {}))
    summary = trace_summary(bench, tracer)
    path = os.path.join(bench.trace_dir, f"{args.workload}-seed{args.seed}.json")
    tracer.write(path, {"env": env, "summary": summary, "metrics": bench.metrics,
                        "problems": bench.problems})
    print("# trace " + json.dumps({"file": os.path.relpath(path, harness.ROOT), **summary},
                                  sort_keys=True), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: no {harness.PACKAGE} package beside perfbench/ in "
              f"{harness.ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2

    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    env = bench.pin_environment()
    try:
        run_workload(bench, env, args)
    finally:
        bench.stop_session()
        bench.cleanup()
    if bench.samples:
        print("# samples " + json.dumps(bench.samples, sort_keys=True), flush=True)
    for p in bench.problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(bench.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
