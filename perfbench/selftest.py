#!/usr/bin/env python3
"""Smoke self-test of the benchmark (not part of the Tier-1 suite).

    python3 perfbench/selftest.py [--quick]

1. BENCHMARK.json names exactly the metrics the benchmark prints.
2. The event-log ledger sums task and Python-UDF metrics per job
   description on a synthetic log.
3. Unless ``--quick``: both workloads run untraced and traced on a toy
   fixture, print every metric, and pass their correctness gates.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import ledger  # noqa: E402

TOY_N_BASE = 200  # smallest fixture whose add pool still fills a batch
E2E = {"setup_s", "write_s", "images_per_s", "read_p50_s",
       "storage_ratio", "peak_pss_mb"}


def check_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == E2E, spec["end_to_end"]
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == ledger.metric_specs(), "per_layer != ledger.metric_specs"
    assert len(layer) <= 128
    return spec


def check_ledger() -> None:
    def task(stage: int, run_ms: int, py_ms: int) -> dict:
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1,
                                 "Input Metrics": {"Bytes Read": 100},
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": 7},
                                 "Memory Bytes Spilled": 2,
                                 "Disk Bytes Spilled": 3},
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers",
                     "Update": str(py_ms)},
                    {"Name": "data sent to Python workers",
                     "Update": "64"}]}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "perfbench:verify"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        task(0, 1000, 400), task(1, 500, 0), task(2, 250, 0)]
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "local-1"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in events) + "\n")
        book = ledger.read_event_log(d)
    v = book["perfbench:verify"]
    assert v["jobs"] == 1 and v["tasks"] == 2, v
    assert abs(v["run_s"] - 1.5) < 1e-9 and abs(v["exec_cpu_s"] - 1.5) < 1e-9
    assert abs(v["python_s"] - 0.4) < 1e-9 and v["py_sent_bytes"] == 128
    assert v["input_bytes"] == 200 and v["spill_bytes"] == 10
    assert book[""]["tasks"] == 1


def run_toy(workload: str, trace: int, spec: dict) -> None:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--n-base", str(TOY_N_BASE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    want = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units, (workload, trace, set(got) ^ set(units))
    print(f"ok: {workload} trace={trace}", flush=True)


def main() -> int:
    spec = check_manifest()
    check_ledger()
    print("ok: manifest and ledger", flush=True)
    if "--quick" not in sys.argv[1:]:
        for workload in ("build", "serve"):
            for trace in (0, 1):
                run_toy(workload, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
