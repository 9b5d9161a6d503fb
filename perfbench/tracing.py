"""Measurement plumbing: /proc readers (CPU, steal, memory), Spark
job-group accounting and in-memory spans.

Nothing here reaches into the library under test. A span sets a Spark
job group; after a pass, the group's stages are read from Spark's
status store (``statusStore().lastStageAttempt``), so every stage is
charged to the innermost span that was open when its job ran.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's child processes (the pyspark daemon and
    its workers): utime+stime of the live ones plus cutime+cstime,
    which holds the workers already reaped."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(jvm_pid, table)) / CLK_TCK


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot. busy
    is user+nice+system+irq+softirq over all vCPUs; steal is the time
    the hypervisor held back a vCPU that had work to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / CLK_TCK, v[7] / CLK_TCK


def without_steal(wall: float, cpu0: tuple, cpu1: tuple) -> float:
    """Wall time with the hypervisor's steal taken out, from the
    ``cpu_times()`` read at both ends. A vCPU that had work ran for
    busy/(busy+steal) of the time it wanted, so on vCPUs of its own
    the interval would have taken that share of its wall time. On a
    shared host the steal comes and goes with other guests; taking it
    out removes most of the run-to-run spread of a timing."""
    b, s = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    return wall * b / (b + s) if b + s > 0 else wall


class StealClock:
    def __init__(self):
        self.cpu0 = cpu_times()
        self.t = time.perf_counter()

    def read(self) -> tuple[float, float, float]:
        """(wall, wall without steal, steal) since construction."""
        wall = time.perf_counter() - self.t
        cpu1 = cpu_times()
        return wall, without_steal(wall, self.cpu0, cpu1), cpu1[1] - self.cpu0[1]


def reset_peak_rss(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------- Spark accounting

STAGE_FIELDS = ("run_s", "cpu_s", "tasks", "shuffle_mb", "spill_mb", "input_rows")


class SparkAccount:
    """Reads per-stage executor metrics for a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        # a stage reused by a later job (skipped there) is charged only
        # to the group that ran it first
        self.seen: set[int] = set()

    def group(self, group_id: str) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group_id):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in sorted(stage_ids - self.seen):
            self.seen.add(sid)
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            tot["run_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["tasks"] += sd.numCompleteTasks()
            tot["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            tot["spill_mb"] += sd.diskBytesSpilled() / 1e6
            tot["input_rows"] += sd.inputRecords() + sd.shuffleReadRecords()
        return tot


# ------------------------------------------------------------------ spans

class Tracer:
    """Nested spans kept in memory. Each span runs its Spark jobs under
    its own job group, so Spark metrics read per group are already
    self metrics; wall and Python-worker CPU are made self by
    subtracting the children."""

    def __init__(self, spark, acct: SparkAccount, run_id: str):
        self.sc = spark.sparkContext
        self.acct = acct
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = False

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "run": self.run_id,
            "group": f"{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "cpu0": cpu_times(),
            "py0": python_worker_cpu_s(self.acct.jvm_pid),
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu1"] = cpu_times()
            rec["py1"] = python_worker_cpu_s(self.acct.jvm_pid)
            self.stack.pop()
            self._set_group(parent)

    def close(self, spans: list[dict]) -> None:
        """Fill self times and Spark metrics of finished ``spans``."""
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            ch = kids.get(s["id"], [])
            s["self_s"] = _span_s(s) - sum(_span_s(c) for c in ch)
            s["py_cpu_s"] = (s["py1"] - s["py0"]) - sum(
                c["py1"] - c["py0"] for c in ch
            )
            s.update(self.acct.group(s["group"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _span_s(span: dict) -> float:
    return without_steal(span["end"] - span["start"], span["cpu0"], span["cpu1"])


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Sum the closed spans of one pass by layer name."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s["name"], {})
        for k in ("self_s", "py_cpu_s", *STAGE_FIELDS):
            acc[k] = acc.get(k, 0.0) + s[k]
        acc["wait_s"] = acc["run_s"] - acc["cpu_s"]
    return out
