"""Measurement helpers: Spark job-group statistics, host and JVM
conditions, input digests and an in-memory span recorder.

Everything here reads the system from outside: Spark's status tracker
and status store for the jobs a job group launched, ``/proc`` for the
host, the JVM and its child processes, and ``java.lang.management`` for GC time.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from collections.abc import Iterator
from typing import Any


def _proc_status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostBracket:
    """Steal and iowait share of all CPU time between ``start()`` and
    ``stop()``, from the aggregate ``cpu`` line of ``/proc/stat``."""

    def start(self) -> None:
        self._t0 = _cpu_times()

    def stop(self) -> dict[str, float]:
        delta = [b - a for a, b in zip(self._t0, _cpu_times())]
        total = sum(delta[:8]) or 1
        # fields: user nice system idle iowait irq softirq steal
        return {
            "steal_pct": 100.0 * delta[7] / total,
            "iowait_pct": 100.0 * delta[4] / total,
        }


#: name prefixes of HotSpot's JIT compiler and code-cache threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    """Pids of every live (or not yet reaped) descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(name)[1]), []).append(int(name))
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class Jvm:
    """The Spark driver JVM seen from Python."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jit: dict[str, int] = {}

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM, its child processes and
        this Python process.

        The children are PySpark's ``pyspark.daemon`` and the Python
        workers it forks, which run the engine's Python UDFs and the
        driver-side frames they feed (MMR's re-ranking, the rows the
        add path creates). Each descendant of the JVM counts with its
        own CPU plus that of the children it has reaped, so a worker's
        CPU is counted while it runs and, once it exits, in its parent.

        Unlike wall time it does not count time the hypervisor steals,
        but it still rises by up to about a third while other tenants
        contend for the same physical cores. The JVM's JIT compiler
        threads are left out: their work depends on when methods cross
        compile thresholds, not on the op (about 45 % of the JVM's CPU
        during a recall stream)."""
        ticks = 0
        for pid in [self.pid, *_descendants(self.pid)]:
            try:
                ticks += sum(int(x) for x in _stat_fields(str(pid))[11:15])
            except OSError:  # the process ended while we listed it
                continue
        # HotSpot starts and stops compiler threads on demand; a stopped
        # one keeps its last reading, as its CPU stays in the JVM's total
        for tid, name, t in self._thread_ticks():
            if name.startswith(JIT_THREADS):
                self._jit[tid] = t
        own = os.times()
        return (ticks - sum(self._jit.values())) / self._tick + own.user + own.system

    def _thread_ticks(self) -> list[tuple[str, str, int]]:
        """(thread id, name, user+system ticks) of every JVM thread."""
        out = []
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # the thread ended while we listed it
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            ticks = sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
            out.append((tid, name, ticks))
        return out

    def thread_cpu_s(self) -> dict[str, float]:
        """CPU seconds so far per JVM thread family (name without its
        trailing number), for seeing where a run's CPU went."""
        out: dict[str, float] = {}
        for _, name, ticks in self._thread_ticks():
            key = name.rstrip("0123456789").rstrip("#-_ ")
            out[key] = out.get(key, 0.0) + ticks / self._tick
        return out

    def gc_s(self) -> float:
        return sum(
            max(0, b.getCollectionTime())
            for b in self._mgmt.getGarbageCollectorMXBeans()
        ) / 1e3

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM of the JVM and of this Python driver."""
        return {"jvm": _proc_status_kb(self.pid, "VmHWM") / 1024.0,
                "python": _proc_status_kb("self", "VmHWM") / 1024.0}


def tree_digest(root: str) -> dict[str, Any]:
    """Size and sha256 over every file under ``root`` (names included),
    to prove a run left its inputs untouched."""
    h = hashlib.sha256()
    size = files = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                data = f.read()
            h.update(data)
            size += len(data)
            files += 1
    return {"files": files, "bytes": size, "sha256": h.hexdigest()}


class SparkOps:
    """Per-operation Spark statistics: each op runs under its own job
    group, and afterwards the status tracker lists the group's jobs and
    the status store gives their stages' task metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism
        self._n = 0

    @contextlib.contextmanager
    def group(self, kind: str) -> Iterator[dict[str, Any]]:
        """Run the body under a fresh job group; the yielded dict is
        filled with the group's statistics when the body exits."""
        self._n += 1
        gid = f"perfbench-{kind}-{self._n}"
        stats: dict[str, Any] = {}
        self.sc.setJobGroup(gid, kind)
        t0 = time.time()
        try:
            yield stats
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            stats.update(self._collect(gid, t0, t1))

    def _job_done(self, job_id: int) -> bool:
        info = self.tracker.getJobInfo(job_id)
        return info is None or info.status != "RUNNING"

    def _collect(self, gid: str, t0: float, t1: float) -> dict[str, Any]:
        job_ids = sorted(self.tracker.getJobIdsForGroup(gid))
        # the listener bus is asynchronous: give the last job's end
        # event a moment to land in the status store
        deadline = time.time() + 5.0
        while time.time() < deadline and not all(map(self._job_done, job_ids)):
            time.sleep(0.01)
        intervals = []
        tasks = 0
        run_ms = cpu_ns = shuffle = spill = 0
        for j in job_ids:
            jd = self.store.job(j)
            start = jd.submissionTime()
            end = jd.completionTime()
            if start.isDefined():
                s = start.get().getTime() / 1e3
                e = end.get().getTime() / 1e3 if end.isDefined() else t1
                intervals.append((max(s, t0), min(e, t1)))
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped)
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        busy = _union_length(intervals)
        wall = t1 - t0
        return {
            "jobs": len(job_ids),
            "job_starts": sorted(s for s, _ in intervals),
            "tasks": tasks,
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / 2**20,
            "spill_mb": spill / 2**20,
            "driver_only_s": max(0.0, wall - busy),
            "slot_utilization": (run_ms / 1e3) / (busy * self.cores) if busy else 0.0,
        }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """In-memory spans (name, start, end, parent, op id), written out
    once at the end of a traced run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        sp = dict(
            id=len(self.spans), name=name, op=op,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter(), end=None, **attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    def add_steps(self, parent: dict, steps: list[dict]) -> None:
        """Attach ``explain_ingest()`` steps as children of ``parent``.
        The engine reports durations only; steps run back to back, so
        each start is placed after the previous step's end."""
        if not self.enabled:
            return
        t = parent["start"]
        for step in steps:
            d = step["duration_ms"] / 1e3
            self.spans.append(dict(
                id=len(self.spans), name=f"manager.add.{step['name']}",
                op=parent["op"], parent=parent["id"], start=t, end=t + d,
                detail=step.get("detail", {}),
            ))
            t += d
