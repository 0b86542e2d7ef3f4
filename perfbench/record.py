"""Per-run input record: machine probe, memory sampler, code revision.

Nothing here gates a run. The record makes a noisy window visible next to
the numbers it produced.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")

def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def python_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the Python processes in ``root_pid``'s tree: the
    driver and the Python workers the JVM forks. The JVM is measured by
    jvm_retained_bytes instead."""
    kids = _children_of()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if not os.path.basename(_exe(pid)).startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PythonRssSampler:
    """Samples python_rss_bytes on a daemon thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, python_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, python_rss_bytes(os.getpid()))


def jvm_retained_bytes(spark) -> int:
    """Heap the driver JVM still holds after a full collection, plus its
    non-heap memory (metaspace, code cache). Unlike the JVM's resident size
    or its peak used heap, this does not depend on how far G1 grew the heap
    or when it last collected: with the package's 8 GB heap, peak used heap
    ranged from 1.5 to 3.1 GB over three seeds of the same workload."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()


def cpu_probe(spark, cores: int) -> dict:
    """A short fixed CPU reading, taken at the start and the end of a run:
    a numpy sort in the driver and a JVM sum-of-sqrt across all cores (the
    probe8 idea from scripts/scaling.py, cut to well under a second)."""
    data = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(data)
    py_s = time.perf_counter() - t0
    jdf = spark.range(0, 100_000_000, 1, cores).selectExpr("sum(sqrt(id * 1.0001))")
    jdf.collect()  # compiles the plan; the timed pass below is the reading
    t0 = time.perf_counter()
    jdf.collect()
    return {"numpy_sort_s": round(py_s, 4),
            "jvm_sqrt_s": round(time.perf_counter() - t0, 4)}


def tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its live descendants,
    plus what their exited children were reaped with. Unlike wall time it
    does not grow while the hypervisor runs other guests."""
    kids = _children_of()
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between: a
    direct reading of a noisy window."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def revision(root: str) -> dict:
    """Git revision when the tree is a git checkout, and always a digest of
    the package sources, which identifies the code in a plain copy too."""
    rev = None
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "fafnir_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return {"git": rev, "source_sha256": h.hexdigest()[:16]}
