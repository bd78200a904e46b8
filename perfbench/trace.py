"""Spans, Spark job/stage counting, process-tree CPU and noise readings.

Every span gets its own Spark job group, so the jobs a group holds are the
span's *self* jobs: jobs started inside a child span land in the child's
group.  Spark's status tracker learns about jobs from its listener bus, which
runs behind the caller, so counts are read only after the bus drains
(``JobCounter.resolve``, ``Tracer.resolve_jobs``).

Spans stay in memory; ``Tracer.by_layer`` turns them into per-layer numbers
and ``Tracer.dump`` into a list to write out, at the end of a run.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


class JobCounter:
    """Counts the Spark jobs and stages run under job groups it assigns."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields the group id.  The
        group that was current before is restored on exit."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every job event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def count(self, gid: str) -> tuple[int, int]:
        """(jobs, distinct stages) recorded for a group so far."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(jobs), len(stages)

    def resolve(self, gid: str) -> tuple[int, int]:
        self.drain()
        return self.count(gid)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    jobs: int = 0
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.seconds - covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder.  ``phase`` labels every span opened until the
    next ``phase`` call (e.g. "cold", "warm", "append")."""

    def __init__(self, jobs: JobCounter | None):
        self.jobs = jobs
        self.spans: list[Span] = []
        self.missing: list[str] = []  # hooks whose target was not found
        self.phase_of: list[str] = []
        self._stack: list[int] = []
        self._phase = ""

    def phase(self, name: str) -> None:
        self._phase = name

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, attrs=dict(attrs))
        self.spans.append(s)
        self.phase_of.append(self._phase)
        self._stack.append(idx)
        try:
            if self.jobs is None:
                s.start = time.perf_counter()
                yield s
            else:
                with self.jobs.group(name) as gid:
                    s.group = gid
                    s.start = time.perf_counter()
                    yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def resolve_jobs(self) -> None:
        if self.jobs is None:
            return
        self.jobs.drain()
        for s in self.spans:
            s.jobs, s.stages = self.jobs.count(s.group)

    def by_layer(self, phase: str) -> dict[str, dict[str, float]]:
        """Per span name within one phase: summed self time, jobs, stages, calls."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s, own, ph in zip(self.spans, selfs, self.phase_of):
            if ph != phase:
                continue
            agg = out.setdefault(s.name, {"self_s": 0.0, "jobs": 0, "stages": 0, "calls": 0})
            agg["self_s"] += own
            agg["jobs"] += s.jobs
            agg["stages"] += s.stages
            agg["calls"] += 1
        return out

    def attrs(self, name: str, phase: str) -> list[dict]:
        return [
            s.attrs for s, ph in zip(self.spans, self.phase_of) if s.name == name and ph == phase
        ]

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "name": s.name, "phase": ph, "start": s.start, "end": s.end,
                "parent": s.parent, "self_s": own, "jobs": s.jobs, "stages": s.stages,
                "attrs": s.attrs,
            }
            for s, own, ph in zip(self.spans, selfs, self.phase_of)
        ]


# ------------------------------------------------------------ process tree CPU

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) of a process, None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2 :].split()
    # after the command: state ppid ... utime(14) stime(15) cutime(16) cstime(17)
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def descendants(root: int) -> dict[int, int]:
    """{pid: cpu ticks} for ``root`` and every live process below it.  Ticks
    include reaped children, so finished Python workers still count."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and everything it started."""
    return sum(descendants(root or os.getpid()).values()) / _TICK


# ------------------------------------------------------------ noise readings


def noise_reading() -> dict:
    """Load averages, and cumulative busy and steal ticks of all CPUs
    (``/proc/stat`` cpu line: busy is user, nice, system, irq and softirq)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "t": time.time(),
        "loadavg": list(os.getloadavg()),
        "busy_ticks": sum(cpu[i] for i in (0, 1, 2, 5, 6) if i < len(cpu)),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
    }


def host_cpu_s(before: dict, after: dict) -> float:
    """CPU seconds every process on the host used between two readings."""
    return (after["busy_ticks"] - before["busy_ticks"]) / _TICK
