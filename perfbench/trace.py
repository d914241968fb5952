"""Tracing for the benchmark's traced run.

- ``Spans`` records (name, start, end) around each public engine call the
  benchmark makes, and tags the Spark jobs the call runs with
  ``setJobGroup(name)`` so the event log can attribute them to it.
- ``read_event_log`` parses Spark's JSON event log (written with
  ``spark.eventLog.enabled``) into jobs and per-stage task rollups.
- ``MethodTimer`` wraps public methods of engine classes, from this file,
  and records when each call returned and its wall time.
- ``tree_peak_rss_mb`` sums VmHWM over a process and its descendants.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

_TASK_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float


class Spans:
    """Closed spans in memory; ``with spans.span(name)`` tags the Spark jobs
    started inside it with the job group ``name`` when a SparkContext is
    given."""

    def __init__(self, sc=None):
        self.sc = sc
        self.items: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            self.items.append(Span(name, start, time.time()))
            if self.sc is not None:
                self.sc.setJobGroup("untagged", "untagged")


@dataclass
class Job:
    job_id: int
    group: str | None
    sql_id: int | None
    start: float
    end: float | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, dict] = field(default_factory=dict)
    stage_python: set = field(default_factory=set)   # stages that ran Python
    sql_plans: dict[int, str] = field(default_factory=dict)

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def task_totals(self, jobs: list[Job], stage_filter=None) -> dict:
        out = dict.fromkeys(_TASK_FIELDS, 0.0)
        out["tasks"] = 0
        for j in jobs:
            for sid in j.stage_ids:
                if stage_filter is not None and not stage_filter(j, sid):
                    continue
                t = self.stage_tasks.get(sid)
                if t:
                    for k in out:
                        out[k] += t[k]
        return out


def _event_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.startswith("events_"))
    return [path]


def read_event_log(log_dir: str) -> EventLog:
    """Parse every application log under ``log_dir`` (uncompressed JSON
    lines; a rolling log directory is read file by file)."""
    log = EventLog()
    for app in sorted(os.listdir(log_dir)):
        for path in _event_files(os.path.join(log_dir, app)):
            with open(path) as f:
                for line in f:
                    _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        sql = props.get("spark.sql.execution.id")
        log.jobs[e["Job ID"]] = Job(
            e["Job ID"], props.get("spark.jobGroup.id"),
            int(sql) if sql is not None else None,
            e["Submission Time"] / 1000.0, None, list(e["Stage IDs"]))
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job is not None:
            job.end = e["Completion Time"] / 1000.0
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics")
        if not m:
            return
        t = log.stage_tasks.setdefault(
            e["Stage ID"], dict.fromkeys(_TASK_FIELDS, 0.0) | {"tasks": 0})
        rd = m.get("Shuffle Read Metrics", {})
        wr = m.get("Shuffle Write Metrics", {})
        t["tasks"] += 1
        t["run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
        t["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        if any(a.get("Name") == "time to run Python workers"
               for a in info.get("Accumulables", [])):
            log.stage_python.add(info["Stage ID"])
    elif kind.endswith("SparkListenerSQLExecutionStart"):
        log.sql_plans[e["executionId"]] = e.get("physicalPlanDescription", "")


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class MethodTimer:
    """Wrap ``cls.name`` for every (cls, name) given. Each call appends a
    ``Call`` to ``calls[f"{cls.__name__}.{name}"]``. ``restore()`` puts the
    original methods back."""

    def __init__(self, targets: list[tuple[type, str]]):
        self.calls: dict[str, list[Call]] = {}
        self._saved = []
        for cls, name in targets:
            orig = getattr(cls, name)
            key = f"{cls.__name__}.{name}"
            self.calls[key] = []
            setattr(cls, name, self._wrap(orig, self.calls[key]))
            self._saved.append((cls, name, orig))

    @staticmethod
    def _wrap(orig, sink: list):
        @functools.wraps(orig)
        def timed(self, *args, **kwargs):
            t0 = time.perf_counter()
            result = orig(self, *args, **kwargs)
            sink.append(Call(time.time(), time.perf_counter() - t0))
            return result
        return timed

    def restore(self) -> None:
        for cls, name, orig in self._saved:
            setattr(cls, name, orig)
        self._saved = []


@dataclass
class Call:
    end: float      # wall-clock time the call returned
    wall: float


def dir_bytes(path: str) -> int:
    """On-disk size of the files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and its descendants."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class StealMeter:
    """Share of the host's CPU time stolen by the hypervisor between
    construction and each call (``steal`` column of /proc/stat)."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def __call__(self) -> float:
        delta = [b - a for a, b in zip(self.start, self._read())]
        total = sum(delta[:8])  # user .. steal; guest time is inside user
        return delta[7] / total if total > 0 else 0.0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root`` and its descendants:
    the driver, the JVM it launched and the Python workers."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
