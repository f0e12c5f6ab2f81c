"""Layer spans and the Spark event-log ledger behind the per-layer metrics.

A span wraps one call into a module's public functions.  While it is
open, the calling thread's Spark job description is ``perfbench:<layer>``;
threads the program spawns inherit it, so every job a layer causes is
tagged with that layer.  After the session stops, :func:`read_event_log`
walks the event log (``spark.eventLog.enabled`` through
``get_spark(extra_conf=...)``), maps each finished task to its job's
description, and sums the task metrics and the Python-UDF SQL metrics
per layer.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PREFIX = "perfbench:"

LAYERS = ("exact", "signatures", "banding", "candidates", "suffix",
          "verify", "cc", "keyidx", "pipeline", "remove", "purge",
          "request")

# name -> (unit, better)
LAYER_FIELDS = {
    "wall_s": ("s", "lower"),
    "rows_out": ("rows", "higher"),
    "jobs": ("count", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "input_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "core_util": ("ratio", "higher"),
}
RATIOS = {
    "verify.accept_ratio": ("ratio", "higher"),
    "candidates.pairs_per_rep": ("ratio", "lower"),
    "request.cands_per_probe": ("ratio", "lower"),
    "banding.rows_per_rep": ("ratio", "lower"),
}
TRACE = {
    "trace.api_wall_s": ("s", "lower"),
    "trace.overlap_credit_s": ("s", "higher"),
    "trace.uncovered_share": ("ratio", "lower"),
}

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def metric_specs() -> "dict[str, tuple[str, str]]":
    """Every per-layer metric name -> (unit, better), in report order."""
    specs = {f"{layer}.{field}": spec for layer in LAYERS
             for field, spec in LAYER_FIELDS.items()}
    specs.update(RATIOS)
    specs.update(TRACE)
    return specs


def event_log_conf(log_dir: str) -> "dict[str, str]":
    """Session settings that write one uncompressed event-log file."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Records layer spans; spans never nest."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: "list[dict]" = []

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {"layer": layer, "rows": 0, "t0": time.time()}
        self.sc.setJobDescription(PREFIX + layer)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setJobDescription(None)
            self.spans.append(rec)

    @contextmanager
    def untraced(self, label: str):
        """Jobs that belong to no layer (public-API reference calls)."""
        self.sc.setJobDescription(PREFIX + "api:" + label)
        try:
            yield
        finally:
            self.sc.setJobDescription(None)

    def covered_s(self) -> float:
        """Length of the union of span intervals."""
        total, end = 0.0, float("-inf")
        for t0, t1 in sorted((s["t0"], s["t1"]) for s in self.spans):
            if t1 > end:
                total += t1 - max(t0, end)
                end = t1
        return total


def _empty() -> dict:
    return defaultdict(float)


def read_event_log(log_dir: str) -> "dict[str, dict]":
    """Per job description: task metrics summed over the tasks of every
    job that carried it.  Reads the single finished log in ``log_dir``
    (the session must be stopped first)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir},"
                           f" found {files}")
    desc_of_job: "dict[int, str]" = {}
    job_of_stage: "dict[int, int]" = {}
    out: "dict[str, dict]" = defaultdict(_empty)
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description") or ""
                desc_of_job[e["Job ID"]] = desc
                out[desc]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    job_of_stage.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                job = job_of_stage.get(e["Stage ID"])
                row = out[desc_of_job.get(job, "")]
                _add_task(row, e)
    return out


def _add_task(row: dict, e: dict) -> None:
    tm = e.get("Task Metrics") or {}
    row["tasks"] += 1
    row["run_s"] += tm.get("Executor Run Time", 0) / 1e3
    row["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    row["input_bytes"] += (tm.get("Input Metrics") or {}).get(
        "Bytes Read", 0)
    row["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                   ).get("Shuffle Bytes Written", 0)
    row["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0))
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name in (_PY_RUN, _PY_SENT, _PY_BACK):
            try:
                upd = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == _PY_RUN:
                row["python_s"] += upd / 1e3
            elif name == _PY_SENT:
                row["py_sent_bytes"] += upd
            else:
                row["py_returned_bytes"] += upd


def layer_metrics(tracer: Tracer, ledger: "dict[str, dict]", cores: int,
                  extra: dict) -> "tuple[dict[str, float], dict]":
    """Per-layer metric values (every name of :func:`metric_specs`) and
    a detail dict.  ``extra`` carries the trace-level numbers measured by
    the workload: ``api_wall_s``, ``overlap_credit_s``, ``traced_wall_s``,
    ``n_probes`` and ``n_cands``."""
    vals: "dict[str, float]" = {}
    detail: "dict[str, dict]" = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s["layer"] == layer]
        wall = sum(s["t1"] - s["t0"] for s in spans)
        row = ledger.get(PREFIX + layer, {})
        v = {"wall_s": wall,
             "rows_out": float(sum(s["rows"] for s in spans)),
             "jobs": float(row.get("jobs", 0)),
             "exec_cpu_s": row.get("exec_cpu_s", 0.0),
             "python_s": row.get("python_s", 0.0),
             "gc_s": row.get("gc_s", 0.0),
             "input_bytes": row.get("input_bytes", 0.0),
             "shuffle_write_bytes": row.get("shuffle_write_bytes", 0.0),
             "spill_bytes": row.get("spill_bytes", 0.0),
             "core_util": (row.get("run_s", 0.0) / (wall * cores)
                           if wall > 0 else 0.0)}
        for k, x in v.items():
            vals[f"{layer}.{k}"] = x
        if spans:
            detail[layer] = {"spans": len(spans),
                             "py_sent_bytes": row.get("py_sent_bytes", 0),
                             "py_returned_bytes":
                                 row.get("py_returned_bytes", 0),
                             "tasks": row.get("tasks", 0)}

    def ratio(a: str, b: str) -> float:
        return vals[a] / vals[b] if vals[b] else 0.0

    vals["verify.accept_ratio"] = ratio("verify.rows_out",
                                        "candidates.rows_out")
    vals["candidates.pairs_per_rep"] = ratio("candidates.rows_out",
                                             "signatures.rows_out")
    vals["banding.rows_per_rep"] = ratio("banding.rows_out",
                                         "signatures.rows_out")
    vals["request.cands_per_probe"] = (
        extra.get("n_cands", 0) / extra["n_probes"]
        if extra.get("n_probes") else 0.0)
    traced = extra["traced_wall_s"]
    vals["trace.api_wall_s"] = extra["api_wall_s"]
    vals["trace.overlap_credit_s"] = extra["overlap_credit_s"]
    vals["trace.uncovered_share"] = (
        max(0.0, 1.0 - tracer.covered_s() / traced) if traced > 0 else 0.0)
    unattributed = {d: {"jobs": r.get("jobs", 0),
                        "run_s": round(r.get("run_s", 0.0), 3)}
                    for d, r in ledger.items()
                    if not d.startswith(PREFIX)
                    or d[len(PREFIX):] not in LAYERS}
    return vals, {"layers": detail, "other_descriptions": unattributed}
