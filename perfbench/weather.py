"""Host and weather counters, and the benchmark's process tree.

All readings come from ``/proc``: the host shape (nproc, MemTotal, loadavg),
system-wide deltas (``/proc/vmstat`` page faults, ``/proc/stat`` CPU
user/sys/steal), and per-process CPU and peak RSS for every descendant of this
process (the JVM, the PySpark daemon and its Python workers).
"""

from __future__ import annotations

import gc
import os

_CLK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024, "loadavg": load,
            "calib_s": calibrate()}


def calibrate() -> float:
    """Seconds one core takes for a fixed pure-Python hashing loop: the same
    work on every run, so a slow reading marks a slow host, not slow code."""
    import hashlib
    import time

    t0 = time.process_time()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return time.process_time() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` plus the CPU of its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / _CLK


def _cmdline(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().replace(b"\0", b" ").decode("utf-8", "replace")


def cpu_by_role() -> dict[str, float]:
    """user+sys CPU seconds of this process, its live descendants and every
    child they reaped, split into the benchmark, the JVM and the Python
    workers (with the PySpark daemon). Differences over an interval give the
    tree's CPU, as long as no process in it dies unreaped."""
    self_t = os.times()
    out = {"bench_s": self_t.user + self_t.system + self_t.children_user
           + self_t.children_system, "jvm_s": 0.0, "python_s": 0.0}
    for pid in descendants():
        try:
            cmd = _cmdline(pid)
            cpu = _proc_cpu_s(pid)
        except (OSError, ValueError):
            continue
        role = "python_s" if "pyspark.daemon" in cmd else "jvm_s" if "java" in cmd else "bench_s"
        out[role] += cpu
    return out


def python_workers() -> dict[int, int]:
    """{pid: peak RSS kB} for the PySpark daemon's forked Python workers."""
    out = {}
    for pid in descendants():
        try:
            if "pyspark.daemon" not in _cmdline(pid):
                continue
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, StopIteration, ValueError):
            continue
        try:
            parent_is_daemon = "pyspark.daemon" in _cmdline(ppid)
        except OSError:
            parent_is_daemon = False
        if parent_is_daemon:  # the daemon itself is not a worker
            out[pid] = hwm
    return out


def _vmstat() -> dict:
    want = {"pgfault", "pgmajfault"}
    with open("/proc/vmstat") as f:
        return {k: int(v) for k, v in (l.split() for l in f) if k in want}


def _cpu_jiffies() -> dict:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"user_s": (v[0] + v[1]) / _CLK, "sys_s": v[2] / _CLK, "steal_s": v[7] / _CLK}


def _jvm_gc(spark) -> dict:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    count = time_ms = 0
    for i in range(beans.size()):
        b = beans.get(i)
        count += b.getCollectionCount()
        time_ms += b.getCollectionTime()
    return {"jvm_gc_count": count, "jvm_gc_s": time_ms / 1000.0}


def _py_gc() -> dict:
    return {"py_gc_collections": sum(s["collections"] for s in gc.get_stats())}


class Weather:
    """Snapshot at construction; ``delta()`` gives the counters' change since."""

    def __init__(self, spark=None):
        self.spark = spark
        self.start = self._read()

    def _read(self) -> dict:
        r = {**_vmstat(), **_cpu_jiffies(), **_py_gc()}
        if self.spark is not None:
            r.update(_jvm_gc(self.spark))
        return r

    def delta(self) -> dict:
        end = self._read()
        d = {k: end[k] - self.start[k] for k in end}
        return {k: round(v, 3) if isinstance(v, float) else v for k, v in d.items()}
