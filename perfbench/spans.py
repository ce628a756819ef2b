"""Measurement helpers: spans, process-tree RSS, Spark event logs.

Spans are recorded by the benchmark around each call into a module of
the program; nothing inside the program is instrumented. They stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """In-memory span recorder; ``span`` ids are list indices."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def begin(self, name: str, op: int) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, sid: int) -> float:
        if not self._stack or self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} ended out of order")
        self._stack.pop()
        span = self.spans[sid]
        span.end = time.perf_counter()
        return span.end - span.start

    @contextmanager
    def span(self, name: str, op: int):
        sid = self.begin(name, op)
        try:
            yield sid
        finally:
            self.end(sid)

    def seconds(self, sid: int | None) -> float:
        """Duration of a finished span; 0 for a span never begun."""
        return 0.0 if sid is None else self.spans[sid].end - self.spans[sid].start

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, s in enumerate(self.spans):
                f.write(json.dumps({"id": sid, **asdict(s)}) + "\n")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid) for every process.

    A child whose address space still matches its parent's (same size,
    RSS within 1%) counts 0 bytes: it is the moment between fork or
    vfork and exec (the JVM launching a process does this), and its
    pages are the parent's, which are counted already."""
    stats: dict[int, tuple[int, int, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        # ppid, virtual size, resident bytes
        stats[int(entry)] = (int(fields[1]), int(fields[20]), int(fields[21]) * page)
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for pid, (ppid, vsize, nbytes) in stats.items():
        children[ppid].append(pid)
        parent = stats.get(ppid)
        copy = parent is not None and parent[1] == vsize and abs(parent[2] - nbytes) <= nbytes / 100
        rss[pid] = 0 if copy else nbytes
    return children, rss


def _descendants(children: dict[int, list[int]], root: int) -> set[int]:
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        found.add(pid)
        todo.extend(children.get(pid, ()))
    return found


def tree_pids(root: int) -> set[int]:
    """``root`` and every descendant process."""
    return _descendants(_proc_table()[0], root)


def _tree_rss_bytes(root: int) -> int:
    children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in _descendants(children, root))


class RssSampler:
    """Samples the process tree's RSS on a thread; keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: all executors)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    # the parser reads "Task Metrics"; the same values repeated as
    # accumulables only make the log bigger
    "spark.eventLog.includeTaskMetricsAccumulators": "false",
}


@dataclass
class StageStats:
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    cpu_ns: int = 0


@dataclass
class EventLog:
    """What a finished Spark event log says about jobs and stages.

    ``job_starts`` holds each job's submission time (epoch ms) and the
    stages it listed; ``stage_start`` the submission time of the first
    job that listed each stage, which is the job whose tasks ran it.
    """

    job_starts: list[tuple[int, list[int]]]
    stage_start: dict[int, int]
    stages: dict[int, StageStats]
    task_s: dict[int, list[float]]
    stage_wall: dict[int, float]

    def window(self, t0: float, t1: float) -> tuple[int, set[int]]:
        """(jobs, stages) submitted from ``t0`` to ``t1`` (epoch seconds).

        Jobs are matched by time, not by job group: Spark runs some of
        an operation's jobs on its own threads (a streaming query's
        micro-batches carry the query's run id as their group), and the
        benchmark is one client in a closed loop, so every job submitted
        while an operation runs belongs to it."""
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        jobs = sum(1 for t, _ in self.job_starts if lo <= t <= hi)
        stages = {s for s, t in self.stage_start.items() if lo <= t <= hi}
        return jobs, stages


def parse_event_log(path: str) -> EventLog:
    """Read a finished Spark event log: per stage its tasks, shuffle
    bytes written, bytes spilled to disk, input bytes read, executor
    CPU time, task durations and wall duration (seconds)."""
    log = EventLog([], {}, defaultdict(StageStats), defaultdict(list), {})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sids = ev.get("Stage IDs", [])
                log.job_starts.append((ev["Submission Time"], sids))
                for sid in sids:
                    log.stage_start.setdefault(sid, ev["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info") or {}
                if info.get("Finish Time") and info.get("Launch Time"):
                    log.task_s[sid].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                st = log.stages[sid]
                st.tasks += 1
                metrics = ev.get("Task Metrics")
                if not metrics:
                    continue
                st.cpu_ns += metrics.get("Executor CPU Time", 0)
                st.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
                st.input_bytes += (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    log.stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0
    return log


def task_skew(stages: set[int], task_s: dict[int, list[float]], stage_wall: dict[int, float]) -> float:
    """max/median task time in the longest of ``stages`` (1.0 if none)."""
    timed = [s for s in stages if s in stage_wall and task_s.get(s)]
    if not timed:
        return 1.0
    longest = max(timed, key=lambda s: stage_wall[s])
    times = sorted(task_s[longest])
    median = times[len(times) // 2]
    return times[-1] / median if median > 0 else 1.0
