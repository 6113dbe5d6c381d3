"""Spans, Spark event-log rollup and /proc CPU sampling for the traced run.

The program carries no tracing of its own. In a traced run the benchmark
replaces public functions with timing wrappers at the attribute where their
callers look them up, records one span per call (name, start, end, parent)
and tags every Spark job the call issues with a job group unique to that
span. After the session stops, the event log is rolled up per job group, so
each span gets its own jobs, tasks, executor time, GC, shuffle and spill.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb{self.sid}:{self.name}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. With ``enabled=False`` nothing is wrapped and
    no span is recorded, so the untraced run pays nothing for it."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        """Time the block as a span and tag its Spark jobs with the span's
        job group. Yields the Span, or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else "")

    def _set_group(self, group: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, group)

    def current(self) -> Span:
        return self._stack[-1]

    def count(self, key: str, value: float) -> None:
        """Add a count to the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + value

    # ----------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original inside
        a span. ``after(tracer, result, args, kwargs)`` may add counts."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(tracer, out, args, kwargs)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ queries
    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside a span
        called ``under``."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if under is None:
                out.append(s)
                continue
            p = s.parent
            while p is not None and by_id[p].name != under:
                p = by_id[p].parent
            if p is not None:
                out.append(s)
        return out

    def descendants(self, sp: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur.sid, []))
        return out


# ------------------------------------------------------------- self time
def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.wall - union_length(kids.get(s.sid, [])) for s in spans}


# ---------------------------------------------------------- event log
@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list = field(default_factory=list)
    stage_intervals: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_ms.extend(other.task_ms)
        self.stage_intervals.extend(other.stage_intervals)

    def summary(self) -> dict:
        tm = sorted(self.task_ms)
        return {
            "spark.jobs": self.jobs,
            "spark.stages": self.stages,
            "spark.tasks": self.tasks,
            "spark.executor_run_s": self.run_ms / 1e3,
            "spark.executor_cpu_s": self.cpu_ns / 1e9,
            "spark.gc_s": self.gc_ms / 1e3,
            "spark.shuffle_read_bytes": self.shuffle_read_bytes,
            "spark.shuffle_write_bytes": self.shuffle_write_bytes,
            "spark.spill_bytes": self.spill_bytes,
            "spark.task_p50_ms": statistics.median(tm) if tm else 0.0,
            "spark.task_max_ms": tm[-1] if tm else 0.0,
        }


def event_log_lines(log_dir: str):
    """Yield event dicts from every event log under ``log_dir``: plain
    files and Spark's rolling ``eventlog_v2_*/events_*`` directories."""
    paths = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            paths.extend(sorted(glob.glob(os.path.join(p, "events_*")),
                                key=lambda q: int(os.path.basename(q).split("_")[1])))
        else:
            paths.append(p)
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def rollup_events(events) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC time,
    shuffle read/write bytes, spill bytes, task durations and the
    [submitted, completed] interval of every stage."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            g(grp).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp is not None:
                stage_group[info["Stage ID"]] = grp
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            grp = stage_group.get(info["Stage ID"], "")
            st = g(grp)
            st.stages += 1
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                st.stage_intervals.append((sub / 1e3, done / 1e3))
        elif kind == "SparkListenerTaskEnd":
            grp = stage_group.get(ev.get("Stage ID"), "")
            st = g(grp)
            st.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Finish Time") and info.get("Launch Time"):
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def span_stats(tracer: Tracer, sp: Span, groups: dict[str, GroupStats]) -> GroupStats:
    """Event-log numbers of a span and every span inside it."""
    out = GroupStats()
    for s in tracer.descendants(sp):
        if s.group in groups:
            out.add(groups[s.group])
    return out


def driver_time(sp: Span, stats: GroupStats) -> float:
    """Span wall not covered by any running stage of the span."""
    clipped = [(max(a, sp.start), min(b, sp.end)) for a, b in stats.stage_intervals]
    return sp.wall - union_length([(a, b) for a, b in clipped if b > a])


# ------------------------------------------------------------ /proc CPU
def _proc_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), rest  # ppid, fields from 'state' on


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def proc_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by the JVM and by the Python UDF workers it
    forked (live workers plus the children their daemon has reaped)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)

    def cpu(fields, with_reaped: bool) -> float:
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
        t = int(fields[11]) + int(fields[12])
        if with_reaped:
            t += int(fields[13]) + int(fields[14])
        return t / CLK_TCK

    jvm = cpu(procs[jvm_pid][1], False) if jvm_pid in procs else 0.0
    py = 0.0
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        if "pyspark" in _cmdline(pid):
            py += cpu(procs[pid][1], True)
        todo.extend(children.get(pid, []))
    return {"jvm_cpu_s": jvm, "pyworker_cpu_s": py}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
