"""Host pinning, host probe and process-tree memory sampling.

Everything here is set from outside the program: the engine's
``get_spark`` reads ``SPARK_DRIVER_MEMORY`` (default 48g) and takes the
core count as an argument, Python workers need the checkout on
``PYTHONPATH``, shuffle/spill files go under ``SPARK_LOCAL_DIRS`` and
temporary files under the work directory.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
from collections import defaultdict

_SAMPLE_S = 0.2  # memory sampling interval


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host memory, clamped to 1..2 GiB: the fixtures are a
    few MB and the host is shared, so the 48g default is never right; a
    heap that fills and collects also keeps peak RSS from wandering with
    lazy heap growth."""
    gib = max(1, min(2, mem_total_bytes() // 4 // 2**30))
    return f"{gib}g"


def pin(root: str, work: str) -> dict:
    """Set the environment the Spark JVM and its Python workers start
    with; must run before the first SparkSession is created."""
    cores = nproc()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = local
    # scratch files of the JVMs (artifact dirs, native-library copies,
    # perf data) and of Python stay inside the checkout too
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    return probe(cores)


def probe(cores: int) -> dict:
    import pyspark
    return {"nproc": cores,
            "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "machine": platform.machine()}


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes that map it, so Python workers forked from one
    daemon do not count their copy-on-write pages once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root_pid: int) -> "dict[str, int]":
    """Proportional resident bytes of ``root_pid`` and all its
    descendants (the driver JVM is a child of this process, the Python
    workers children of the JVM), summed per command name.  Reads /proc
    directly; processes that exit mid-walk are skipped."""
    children: "dict[int, list[int]]" = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    by_comm: "dict[str, int]" = defaultdict(int)
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            pss = _pss_bytes(pid)
        except OSError:
            pss = 0
        if pid == root_pid:
            comm = "driver-python"
        by_comm[comm] += pss
        stack.extend(children.get(pid, ()))
    return by_comm


class MemSampler:
    """Background sampler of the process tree's peak memory (summed
    PSS), with the per-command split at that peak."""

    def __init__(self):
        self.peak = 0
        self.at_peak: "dict[str, int]" = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-mem")

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            by_comm = tree_pss_bytes(pid)
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.at_peak = total, dict(by_comm)
            if self._stop.wait(_SAMPLE_S):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
