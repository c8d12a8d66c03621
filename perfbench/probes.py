"""Measurements taken from outside the program: /proc, the Spark UI's
REST API, a memory-bandwidth probe, and timing wrappers around the
public functions of the extraction modules.

Nothing here changes what the program computes; the wrappers only add a
clock read on entry and exit of the wrapped call.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    children = defaultdict(list)
    for p, pp in _ppid_map().items():
        children[pp].append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    return [
        p for p in _ppid_map()
        if p not in mine and "java" in _cmdline(p) and "org.apache.spark" in _cmdline(p)
    ]


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set size (VmHWM) over ``pids``, in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # a worker exited between listing and reading
            continue
    return total_kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by ``pid`` and every process below
    it, live or already reaped by a live parent. Time the hypervisor
    steals from the guest is not charged to any process."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listing and reading
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return True
        time.sleep(0.1)
    return False


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def membw_gbps() -> float:
    """The verify skill's probe: 200 MB numpy copy, median of 5, GB/s."""
    import numpy as np

    src = np.ones(200 * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    rates = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        rates.append(src.nbytes / (time.perf_counter() - t) / 1e9)
    return sorted(rates)[2]


# ---------------------------------------------------------------------------
# Spark UI REST API (/api/v1), read over localhost
# ---------------------------------------------------------------------------

class SparkRest:
    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        app = spark.sparkContext.applicationId
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{app}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def mark(self) -> tuple[int, int]:
        """(max job id, max stage id) seen so far."""
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def since(self, mark: tuple[int, int], wall_s: float, cores: int) -> dict:
        """Stage metrics of every job started after ``mark``.

        The UI store is fed by the listener bus, which trails the action
        that produced the events; poll until no new stage is active.
        """
        job0, stage0 = mark
        deadline = time.monotonic() + 15
        while True:
            stages = [s for s in self._get("/stages") if s["stageId"] > stage0]
            if not any(s["status"] in ("ACTIVE", "PENDING") for s in stages):
                break
            if time.monotonic() > deadline:
                raise RuntimeError("Spark UI did not settle within 15 s")
            time.sleep(0.2)
        jobs = [j for j in self._get("/jobs") if j["jobId"] > job0]
        run = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        run_s = sum(s["executorRunTime"] for s in run) / 1000.0
        mb = 1024.0 * 1024.0
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in run),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in run),
            "spark.executor_run_s": run_s,
            "spark.cores_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.jvm_gc_s": sum(s.get("jvmGcTime", 0) for s in run) / 1000.0,
            "spark.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run
            ) / mb,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / mb,
            "input_records": sum(s["inputRecords"] for s in run),
        }


# ---------------------------------------------------------------------------
# spans around module functions
# ---------------------------------------------------------------------------

class Spans:
    """Wall time and call count per name, recorded by wrappers.

    ``wrap(module, attr, name)`` replaces ``module.attr`` with a timing
    wrapper for the duration of the ``active()`` block. Patching the
    attribute on the module that *calls* the function (for example
    ``lineage.overwrite_buckets``) times exactly the calls that module
    makes. A span nested in another is counted in both totals.
    ``own_s`` is the wrappers' own time: what they add to the wall
    around the calls they time.
    """

    def __init__(self):
        self.total = defaultdict(float)
        self.calls = defaultdict(int)
        self.own_s = 0.0
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        def timed(*a, **kw):
            t0 = time.perf_counter()
            t1 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                t2 = time.perf_counter()
                self.total[name] += t2 - t1
                self.calls[name] += 1
                self.own_s += (t1 - t0) + (time.perf_counter() - t2)

        self._patches.append((module, attr, orig))
        setattr(module, attr, timed)

    @contextmanager
    def active(self):
        try:
            yield self
        finally:
            for module, attr, orig in reversed(self._patches):
                setattr(module, attr, orig)
            self._patches.clear()
