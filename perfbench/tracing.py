"""Spans from the benchmark's own files, plus the fold of Spark's event log
into per-span task metrics.

A span is (name, start, end, parent, run id), kept in memory.  Entering a
span sets it as the Spark job group, so every job the span launches is
tagged with the span's id; leaving it restores the parent's group.  After
the session stops, ``fold_event_log`` reads the uncompressed event log and
sums the TaskEnd metrics of each job group.  A span's figures cover its
whole subtree (a stage's work runs lazily inside its ``write_table``
child).

Driver gap of a span = its wall time - the time its tasks cover (the union
of their [launch, finish] intervals, clipped to the span).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``sc`` is the SparkContext whose job group
    each span sets; pass None to record spans without job groups."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.time(), parent=parent, run=self.run)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group_id(sp.sid), sp.name)

    def wrap(self, owner, attr: str, name_of=None) -> None:
        """Replace ``owner.attr`` in place by a function that runs the
        original inside a span named ``name_of(*args, **kwargs)`` (or the
        attribute path)."""
        fn = getattr(owner, attr)
        default = f"{getattr(owner, '__name__', type(owner).__name__)}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs) if name_of else default):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def jobs(self, sid: int) -> int:
        """Spark jobs launched inside span ``sid``'s subtree so far."""
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(group_id(s))) for s in self.subtree(sid))

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp.sid)
        return out

    def subtree(self, sid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
        kids = self.children() if kids is None else kids
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, []))
        return out



def group_id(sid: int) -> str:
    return f"span-{sid}"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    py_s: float = 0.0
    py_sent_b: int = 0
    py_returned_b: int = 0
    intervals: list = field(default_factory=list)

    def add(self, o: "GroupStats") -> None:
        for k, v in o.__dict__.items():
            if k == "intervals":
                self.intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def event_log_files(log_dir: str) -> list[str]:
    """Plain and rolling (``eventlog_v2_*/events_*``) logs, in order."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
    files = [p for p in files if not os.path.basename(p).startswith((".", "appstatus"))]

    def key(p):
        b = os.path.basename(p)
        part = b.split("_")[1] if b.startswith("events_") else "0"
        return (os.path.dirname(p), int(part) if part.isdigit() else 0, b)

    return sorted(files, key=key)


def _acc(info: dict, name: str) -> float:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def fold_events(lines) -> dict[str, GroupStats]:
    """Fold event-log JSON lines into GroupStats per job group id."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                out.setdefault(g, GroupStats()).jobs += 1
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            st = out.setdefault(g, GroupStats())
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            st.tasks += 1
            st.intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st.py_s += _acc(info, _PY_TIME) / 1000.0
            st.py_sent_b += int(_acc(info, _PY_SENT))
            st.py_returned_b += int(_acc(info, _PY_RETURNED))
    return out


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for p in event_log_files(log_dir):
            with open(p) as f:
                for line in f:
                    if line.strip():
                        yield line

    return fold_events(lines())


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_stats(tracer: Tracer, groups: dict[str, GroupStats], sid: int, kids=None) -> dict:
    """Subtree totals for one span, with its task-covered time and driver
    gap."""
    agg = GroupStats()
    for s in tracer.subtree(sid, kids):
        g = groups.get(group_id(s))
        if g is not None:
            agg.add(g)
    sp = tracer.spans[sid]
    cov = covered(agg.intervals, sp.start, sp.end)
    out = {k: v for k, v in agg.__dict__.items() if k != "intervals"}
    out.update(wall_s=sp.wall, task_covered_s=cov, driver_gap_s=sp.wall - cov)
    return out
