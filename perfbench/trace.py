"""Spans and Spark work counts, recorded from outside the library.

A span wraps one call into a layer's public function: name, start,
end, the span that caused it and the request (round) id it belongs to.
Spans stay in memory and are written out once, when the run ends.

With tracing on, every leaf span also gets its own Spark job group, so
after the run the work each call launched can be attributed to it:
job counts from the status tracker, and stages, tasks, executor task
time and shuffle-write bytes from the event log. With tracing off a
span only reads the clock.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "request", "start", "end",
                 "group")

    def __init__(self, sid, name, parent, request, group):
        self.sid, self.name, self.parent = sid, name, parent
        self.request, self.group = request, group
        self.start = time.perf_counter()
        self.end = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request = None
        self.own_s = 0.0          # time spent in tracer bookkeeping

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"{name}#{sid}" if self.enabled else None
        if group:
            self.sc.setJobGroup(group, name)
        s = Span(sid, name, parent.sid if parent else None, self.request,
                 group)
        self.spans.append(s)
        self._stack.append(s)
        self.own_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                outer = next((p.group for p in reversed(self._stack)
                              if p.group), None)
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.own_s += time.perf_counter() - s.end

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name] += s.seconds - covered
        return dict(out)

    def job_counts(self) -> dict[int, dict]:
        """Per span id: {"jobs", "stages"} from the status tracker.
        Call before the session stops."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            if not s.group:
                continue
            jobs = list(st.getJobIdsForGroup(s.group))
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            out[s.sid] = {"jobs": len(jobs), "stages_planned": len(stages)}
        return out

    def dump(self, path: str, extra: dict[int, dict] | None = None):
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"id": s.sid, "name": s.name, "parent": s.parent,
                       "request": s.request, "start": s.start,
                       "end": s.end, "group": s.group}
                rec.update((extra or {}).get(s.sid, {}))
                f.write(json.dumps(rec) + "\n")


class TreeCpu:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM, the Python worker daemon and its workers.
    Reaped children count through their parent's cutime/cstime."""

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")
        self.root = os.getpid()

    def __call__(self) -> float:
        parent, ticks = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    st = f.read()
            except OSError:          # exited while listing
                continue
            fields = st[st.rindex(")") + 2:].split()
            parent[int(pid)] = int(fields[1])
            ticks[int(pid)] = sum(int(x) for x in fields[11:15])
        total = 0
        for pid, t in ticks.items():
            p = pid
            while p not in (self.root, 0, 1) and p in parent:
                p = parent[p]
            if p == self.root:
                total += t
        return total / self.tick


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a plain log file, or the numbered
    parts of a rolling log directory (eventlog_v2_*/events_<n>_*)."""
    files = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        name = os.path.basename(path)
        if os.path.isdir(path) or name.startswith("appstatus"):
            continue
        part = name.split("_")[1] if name.startswith("events_") else "0"
        files.append((int(part) if part.isdigit() else 0, path))
    return [p for _, p in sorted(files)]


def event_log_work(log_dir: str) -> dict[str, dict]:
    """Per job group from the Spark event log of the (stopped) session:
    stages that ran, tasks, executor run time in seconds and shuffle
    bytes written."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0})
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = g
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g:
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if not g:
                        continue
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    o = out[g]
                    o["tasks"] += 1
                    o["task_s"] += run_ms / 1000.0
                    o["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return dict(out)
