"""Outside-in measurement helpers: Spark event-log accounting per job group,
process-tree peak RSS from /proc, and the host CPU canary.

The benchmark labels every call it makes with ``setJobGroup`` and, in a
traced run, turns on Spark's event log. After the session stops, the log is
read back and every job, task-second, shuffle byte and spilled byte is
charged to the group that launched it. Jobs launched from helper threads
carry no group; they are charged by submission time to the phase that was
open at that moment.
"""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np


class Phases:
    """Wall-clock windows (epoch ms) of the labelled phases of a run."""

    def __init__(self) -> None:
        self.windows: list[tuple[str, int, int]] = []

    def add(self, group: str, t0: float, t1: float) -> None:
        self.windows.append((group, int(t0 * 1000), int(t1 * 1000)))

    def group_at(self, ms: int) -> str | None:
        for g, a, b in self.windows:
            if a <= ms <= b:
                return g
        return None


def read_event_log(log_dir: str, phases: Phases) -> dict[str, dict]:
    """group -> {jobs, task_s, shuffle_write_mb, spill_mb}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(g: str) -> dict:
        return out.setdefault(
            g, {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        )

    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or phases.group_at(
                        int(ev.get("Submission Time", 0))
                    ) or "unlabelled"
                    acc(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[int(sid)] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(int(ev.get("Stage ID", -1)), "unlabelled")
                    m = ev.get("Task Metrics") or {}
                    a = acc(g)
                    a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return out


def children(pid: int) -> list[int]:
    # each thread lists the children it forked, so read every thread's list
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over a process and its descendants:
    the driver Python, the JVM it launched and the Python workers."""
    todo = [root_pid or os.getpid()]
    total_kb = 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        todo.extend(children(pid))
    return total_kb / 1024.0


def canary_ms() -> float:
    """Min of 3 back-to-back runs of one fixed numpy op (the same op as
    bench.py's ``_canary_ms``): the host's current CPU speed, recorded
    before and after every run so a throttled run is visible."""
    x = np.arange(2_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        float((x / (x + 1.7)).sum())
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


class CpuTimes:
    """The host's aggregate CPU jiffies from /proc/stat. In a virtual
    machine, "steal" is time the hypervisor ran something else while this
    machine had work: a run that reads high steal measured a shared host."""

    def __init__(self) -> None:
        with open("/proc/stat") as fh:
            self.fields = [int(x) for x in fh.readline().split()[1:]]

    def steal_share_since(self, start: "CpuTimes") -> float:
        delta = [a - b for a, b in zip(self.fields, start.fields)]
        return delta[7] / max(1, sum(delta))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least 10 samples beyond it; with 20 samples or fewer, the maximum."""
    n = len(values)
    s = sorted(values)
    if n <= 20:
        return s[-1], 100.0, n
    pct = 100.0 * (n - 10) / n
    return s[n - 11], round(pct, 1), n
