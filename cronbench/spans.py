"""In-memory spans plus per-job-group metrics from Spark's status store.

Nothing here needs the Spark UI (the engine's session disables it): stage
metrics come from ``SparkContext.statusStore()`` and job membership from
``statusTracker().getJobIdsForGroup``; scan file counts come from the SQL
status store's plan graph.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = float(2**20)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    call_id: str
    group: str | None


@dataclass
class Tracer:
    """Spans kept in memory and written out once, at the end of a run."""

    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, call_id: str, parent: str | None = None, group: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.perf_counter(), parent, call_id, group))

    def write(self, path: str, metrics_of) -> None:
        """One JSON line per span; ``metrics_of(group)`` supplies the stage
        metrics of the span's job group."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = {c: self_times(self.spans, c) for c in {s.call_id for s in self.spans}}
        with open(path, "w") as fh:
            for s in self.spans:
                rec = {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                       "call_id": s.call_id, "self_s": own[s.call_id][s.name]}
                if s.group is not None:
                    rec["group"] = s.group
                    rec["stages"] = metrics_of(s.group)
                fh.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span], call_id: str) -> dict[str, float]:
    """Self time of every span of one call: its duration minus the part of
    its interval that its child spans cover."""
    mine = [s for s in spans if s.call_id == call_id]
    out = {}
    for s in mine:
        kids = sorted((c.start, c.end) for c in mine if c.parent == s.name)
        covered, cur_end = 0.0, s.start
        for a, b in kids:
            a, b = max(a, cur_end), min(b, s.end)
            if b > a:
                covered += b - a
                cur_end = b
        out[s.name] = (s.end - s.start) - covered
    return out


_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
    "input_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
}


class StatusStore:
    """Read-only view of one SparkContext's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc._jsc.sc().statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = self._max_execution_id()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def group_metrics(self, group: str) -> dict:
        """Summed metrics of every completed stage of the group's jobs."""
        out = dict(_ZERO)
        jobs = list(self._tracker.getJobIdsForGroup(group))
        out["jobs"] = len(jobs)
        for job in jobs:
            info = self._tracker.getJobInfo(job)
            if info.isEmpty():
                continue
            for stage in info.get().stageIds():
                try:
                    sd = self._store.lastStageAttempt(stage)
                except Py4JJavaError:
                    continue  # evicted or never submitted
                if str(sd.status()) != "COMPLETE":
                    continue  # SKIPPED: reused shuffle output
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_mb"] += sd.inputBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.memoryBytesSpilled() / MB
        return out

    def mark(self) -> None:
        """Start a new window for :meth:`scan_files`."""
        self._last_execution = self._max_execution_id()

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def scan_files(self, path_part: str) -> int:
        """'number of files read' summed over parquet scans of paths
        containing ``path_part``, in SQL executions since the last call."""
        n = self._sql.executionsCount()
        recent = self._sql.executionsList(max(n - 64, 0), min(n, 64))
        files, newest = 0, self._last_execution
        for i in range(recent.size()):
            ex = recent.apply(i)
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith("Scan parquet") or path_part not in node.desc():
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == "number of files read":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            files += int(re.sub(r"[^0-9]", "", v.get()) or 0)
        self._last_execution = newest
        return files

    def memo(self) -> tuple[float, int]:
        """(MB held by persisted RDDs, number of persisted RDDs)."""
        infos = self._store.rddList(True)
        held = sum(
            (infos.apply(i).memoryUsed() + infos.apply(i).diskUsed()) for i in range(infos.size())
        )
        return held / MB, len(self._sc._jsc.getPersistentRDDs())


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and every
    live process below it: the Spark JVM (whose executors run inside it
    under ``local[N]``) and any Python workers it started. Unlike wall
    time, this does not count the time the host gives other tenants."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = int(fields[11]) + int(fields[12])  # utime + stime
    mine, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        mine.add(pid)
        frontier.extend(c for c, p in parent.items() if p == pid and c not in mine)
    return sum(used.get(p, 0) for p in mine) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line — total
    is user..steal (guest time is already folded into user/nice)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]), sum(int(x) for x in parts[1:9])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0
