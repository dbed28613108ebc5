"""Measurement helpers: spans recorded around calls into the program,
Spark's event log, JVM GC time and Python-worker CPU read from /proc.

Everything here observes the program from outside. Spans live in memory
and are joined with the event log after the session stops, when the log
is complete.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(round(p / 100.0 * len(xs) + 0.5)) - 1))
    return float(xs[k])


class Spans:
    """In-memory span log: (name, start_ms, end_ms, attrs)."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float, dict]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.time() * 1000.0
        try:
            yield attrs
        finally:
            self.items.append((name, t0, time.time() * 1000.0, attrs))

    def of(self, name: str) -> list[tuple[float, float, dict]]:
        return [(a, b, at) for n, a, b, at in self.items if n == name]


def wrap_function(module, attr: str, spans: Spans, name: str) -> None:
    """Replace ``module.attr`` with a timed wrapper, and rebind every
    already-imported package module that bound the same function by name
    (``from x import f`` copies the reference)."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def timed(*a, **kw):
        with spans.span(name):
            return orig(*a, **kw)

    prefix = module.__name__.split(".")[0]
    for mod in list(sys.modules.values()):
        if mod is not None and getattr(mod, "__name__", "").startswith(prefix) and getattr(mod, attr, None) is orig:
            setattr(mod, attr, timed)


def host_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings of ``cpu_ticks()``."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector. In
    local mode driver and executors share this JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def reset_heap_peaks(spark) -> None:
    """Start a new peak-usage interval on every JVM memory pool."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def jvm_heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap pools of each pool's peak used bytes since
    ``reset_heap_peaks``, in MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = spark.sparkContext._jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType() == heap) / 2**20


def group_pids(pgid: int) -> list[int]:
    """Live processes of a process group."""
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue
        f = data[data.rfind(")") + 2 :].split()
        if f[0] != "Z" and int(f[2]) == pgid:
            out.append(int(stat.split("/")[2]))
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(data[data.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root: int) -> tuple[float, dict[str, float]]:
    """Resident memory of a process tree, in total and by command name.
    A child that has not yet exec'd away from its parent's binary (the
    JVM spawning a helper) still maps the parent's memory; it is skipped
    rather than counted twice."""
    kids = _children()
    by_comm: dict[str, float] = {}
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    todo = [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        todo += [(k, exe) for k in kids.get(pid, [])]
        if exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page_mb
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        by_comm[comm] = by_comm.get(comm, 0.0) + rss
    return sum(by_comm.values()), by_comm


def tree_cpu_s(root: int, only_python: bool = False) -> float:
    """User+system CPU seconds of a process tree, including children that
    already exited (their time is in the parent's children counters).
    Time the hypervisor gave to other guests is not charged here, so this
    stays put when the host is contended. ``only_python`` counts only
    Python processes below ``root`` (the JVM's Python workers)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        comm = data[data.find("(") + 1 : data.rfind(")")]
        if only_python and (pid == root or not comm.startswith("python")):
            continue
        f = data[data.rfind(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


class EventLog:
    """Jobs and per-stage task totals parsed from Spark's JSON event log."""

    def __init__(self, path: str):
        """``path`` is one application's log: a file, or the directory of a
        rolling log."""
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        for path in sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "submit_ms": ev["Submission Time"],
                "group": props.get("spark.jobGroup.id"),
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = self.stages.setdefault(ev["Stage ID"], {"cpu_s": 0.0, "shuffle_bytes": 0})
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    def jobs_between(self, t0_ms: float, t1_ms: float, group=None, exclude_group=None) -> list[int]:
        out = []
        for jid, j in self.jobs.items():
            if not (t0_ms <= j["submit_ms"] <= t1_ms):
                continue
            if group is not None and j["group"] != group:
                continue
            if exclude_group is not None and j["group"] == exclude_group:
                continue
            out.append(jid)
        return out

    def totals(self, job_ids) -> dict:
        out = {"cpu_s": 0.0, "shuffle_bytes": 0}
        seen = set()
        for jid in job_ids:
            for sid in self.jobs[jid]["stages"]:
                if sid in seen or sid not in self.stages:
                    continue  # skipped stages have no tasks
                seen.add(sid)
                for k in out:
                    out[k] += self.stages[sid][k]
        return out
