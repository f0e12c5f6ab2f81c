#!/usr/bin/env python3
"""Benchmark of the near-duplicate engine: one command, two workloads.

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics.  The line before it holds the
details (host probe, per-op latencies, gates, pipeline_state rows, the
layer ledger).  Scratch data lives in ``.perfbench_work/`` under the
checkout; see perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# fixture size: n_base generator rows (~1.33x that many rows in total);
# sized so both workloads fit the run budget on a 4-core host, where a
# build at this size is bound by per-job latency, not by data
N_BASE = 600


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-base", type=int, default=N_BASE,
                    help="fixture size (the smoke self-test shrinks it)")
    return ap.parse_args(argv)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import gsearch_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: engine package not found in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import fixture, host
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from"
              f" {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    probe = host.pin(ROOT, work)
    fx = fixture.make(work, args.n_base, args.seed)
    run = Run(seconds=args.seconds, trace=bool(args.trace),
              cores=probe["nproc"], dir=run_dir, fixture=fx)
    t0 = time.perf_counter()
    try:
        with host.MemSampler() as mem:
            metrics = WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if not args.trace:
        metrics["peak_pss_mb"] = (mem.peak / 2**20, "MB")
        run.detail["pss_mb_at_peak"] = {k: round(v / 2**20, 1)
                                        for k, v in mem.at_peak.items()}
    meta = fx.meta
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": probe,
              "fixture": {k: meta[k] for k in
                          ("n_base_param", "rows", "base_rows", "add_rows",
                           "probe_rows")},
              "wall_s": round(time.perf_counter() - t0, 3),
              "ops": {k: [round(x, 4) for x in v]
                      for k, v in run.lat.items()},
              "error_rate": run.failed / max(1, run.attempted),
              "errors": run.errors, **run.detail}
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
