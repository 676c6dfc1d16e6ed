"""Measurement from outside the engine: spans around the public calls,
a /proc process-tree sampler (CPU and resident memory of the driver,
the JVM and the Python workers; psutil is not installed), and a parser
of Spark's uncompressed event log that sums task metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent). When ``sc`` is given,
    each span also names the Spark job group of the work it triggers, so
    the event log can be cut per call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[parent]["name"] if parent is not None else ""
                self.sc.setJobGroup(outer, outer)

    def self_times(self) -> list[tuple[str, float, float]]:
        """(name, duration, self time): self time is the duration minus
        the part of it that child spans cover."""
        out = []
        for i, s in enumerate(self.spans):
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == i)
            covered, cur = 0.0, s["start"]
            for a, b in kids:
                a = max(a, cur)
                if b > a:
                    covered += b - a
                    cur = b
            dur = s["end"] - s["start"]
            out.append((s["name"], dur, dur - covered))
        return out


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime summed over the live tree."""
    tot = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        tot += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return tot / _TICK


def tree_rss_bytes(root: int) -> int:
    tot = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                tot += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return tot


class TreeSampler:
    """CPU seconds and peak summed RSS of this process tree over an
    interval; RSS is sampled every ``period`` seconds on a thread."""

    def __init__(self, period: float = 0.2):
        self.root = os.getpid()
        self.period = period
        self._stop = threading.Event()
        self._thread = None
        self.peak_rss = 0

    def _loop(self):
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self):
        self.peak_rss = tree_rss_bytes(self.root)
        self.cpu0 = tree_cpu_s(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.cpu_s = tree_cpu_s(self.root) - self.cpu0
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
        return False


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task CPU, task run, shuffle bytes,
    spill bytes and the list of task run times."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {"jobs": 0, "tasks": 0, "cpu_s": 0.0,
                                        "run_s": 0.0, "shuffle_bytes": 0,
                                        "spill_bytes": 0, "task_s": []})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        g(grp)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not grp or not m:
                        continue
                    r = g(grp)
                    run = m.get("Executor Run Time", 0) / 1e3
                    r["tasks"] += 1
                    r["run_s"] += run
                    r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    r["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    r["task_s"].append(run)
    return groups


def group_metrics(name: str, r: dict | None, n_jobs: int) -> dict[str, float]:
    """The five event-log metrics of one call, per job of the workload."""
    if not r or not r["tasks"]:
        return {f"{name}.{k}": 0.0 for k in
                ("task_cpu_s", "python_wait_s", "shuffle_bytes",
                 "spill_bytes", "task_skew")}
    med = statistics.median(r["task_s"])
    return {
        f"{name}.task_cpu_s": r["cpu_s"] / n_jobs,
        f"{name}.python_wait_s": max(0.0, r["run_s"] - r["cpu_s"]) / n_jobs,
        f"{name}.shuffle_bytes": r["shuffle_bytes"] / n_jobs,
        f"{name}.spill_bytes": r["spill_bytes"] / n_jobs,
        f"{name}.task_skew": max(r["task_s"]) / med if med > 0 else 1.0,
    }
