#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``spec.END_TO_END`` from untraced passes timed
after one untimed warm-up; with ``--trace 1`` the per-layer metrics of
``spec.PER_LAYER`` from one traced pass plus the workload's companion
segment (see README.md).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# workload name -> (module, class) of the workload, and of the companion
# segment its traced run adds for the layers the workload does not reach
WORKLOADS = {
    "crawl_warm": (("wl_crawl", "CrawlWarm"), ("wl_crawl", "CrawlDurable")),
    "query_suite": (("wl_query", "QuerySuite"), ("wl_frontier", "FrontierScale")),
}


def load(module: str, cls: str):
    import importlib

    return getattr(importlib.import_module(module), cls)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, seconds: float) -> list[dict]:
    """Timed passes until their walls add up to ``seconds`` (at least
    one). Each pass is checked after its clock stops."""
    passes: list[dict] = []
    spent = 0.0
    while not passes or spent < seconds:
        rec = wl.run_pass()
        spent += rec["wall_s"]
        wl.check(rec)
        wl.finish_pass(rec)
        passes.append(rec)
    return passes


def traced_pass(wl) -> tuple[dict, dict[str, float]]:
    """One traced pass, checked; its record and layer metrics."""
    from harness import Tracer

    tracer = Tracer()
    wl.trace_install(tracer)
    try:
        rec = wl.run_pass(tracer)
    finally:
        tracer.restore()
    wl.check(rec)
    layer = wl.layer_metrics(rec, tracer)
    wl.finish_pass(rec)
    return rec, layer


def traced(bench, wl, companion) -> dict[str, float]:
    """One untraced pass, then one traced pass; then the companion
    segment (set up, warmed up and traced once), whose metrics replace
    those named in its ``owns``. Spark totals cover the workload's
    traced pass only."""
    from eventlog import parse_jobs, read_events

    plain = wl.run_pass()
    wl.check(plain)
    wl.finish_pass(plain)
    rec, layer = traced_pass(wl)
    layer.update(wl.workload_metrics(plain))
    layer["trace_overhead_frac"] = rec["wall_s"] / plain["wall_s"]
    layer["peak_rss_mb"] = bench.peak_rss_mb()

    companion.generate()
    companion.warmup()
    crec, clayer = traced_pass(companion)
    clayer.update(companion.workload_metrics(crec))
    layer.update({name: clayer.get(name, 0.0) for name in companion.owns})

    bench.stop()
    layer.update(wl.spark_metrics(rec, parse_jobs(read_events(bench.event_dir))))
    return layer


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fundcrawler_spark")):
        print(f"perfbench: no fundcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from harness import Bench, Checks, emit
    from spec import END_TO_END, PER_LAYER

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    checks = Checks()
    bench = Bench(ROOT, args.workload, trace=bool(args.trace))
    try:
        t0 = time.time()
        bench.start_spark()
        session_s = time.time() - t0
        (module, cls), companion = WORKLOADS[args.workload]
        wl = load(module, cls)(bench, args.seed, checks)
        t = time.time()
        wl.generate()
        wl.warmup()
        setup_s = session_s + (time.time() - t)

        if args.trace:
            layer = traced(bench, wl, load(*companion)(bench, args.seed, checks))
            layer["ops_failed_frac"] = checks.failed / max(checks.attempted, 1)
            metrics = {name: (float(layer.get(name, 0.0)), unit) for name, unit, _ in PER_LAYER}
        else:
            passes = measure(wl, args.seconds)
            values = {"setup_s": (setup_s, "s"), **wl.end_to_end(passes)}
            metrics = {name: values[name] for name, _, _ in END_TO_END}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.stop()
        finally:
            bench.cleanup()
    emit(checks, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
