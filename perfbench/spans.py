"""Spans taken from outside the engine, joined with Spark's event log.

A span is recorded around each call the benchmark makes into a public engine
function (and around the two names ``sinks/store.py`` imports, so the
product path ``ChangesetStore.replicate`` stays the one measured).  Each span
sets the Spark job group to its own id, so every job the call launches can be
attributed to it afterwards from the event log; the live UI is never polled.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int  # id of the top-level operation the span belongs to
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and never
    touches the job group, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        self.sc = None  # current SparkContext, swapped on session restart

    @contextmanager
    def op(self, name: str):
        """A top-level operation: one timed unit of the workload."""
        self._next_op += 1
        with self.span(name, op=self._next_op) as s:
            yield s

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            op=op if op is not None else (parent.op if parent else 0),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        if parent:
            parent.children.append(s.sid)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{s.sid}", s.name)

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span called ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_time(self, s: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return s.dur - _union(kids)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], list(s.children)
        while todo:
            c = self.spans[todo.pop()]
            out.append(c)
            todo.extend(c.children)
        return out


@dataclass
class SpanStages:
    """What Spark did on behalf of one span (its own jobs, not its children's)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    stage_wall_s: float = 0.0  # summed stage durations
    stage_busy_s: float = 0.0  # time at least one stage was running
    single_task_stage_s: float = 0.0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_logs(log_dir: str) -> dict[int, SpanStages]:
    """Span id → stage/task totals, from every uncompressed event log under
    ``log_dir`` (one per SparkContext the run started)."""
    job_group: dict[tuple[str, int], str | None] = {}
    stage_job: dict[tuple[str, int], int] = {}
    stage_info: dict[tuple[str, int], dict] = {}
    tasks: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isdir(path) or base.startswith((".", "appstatus")):
            continue
        app = path
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    job_group[(app, jid)] = (e.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    for sid in e["Stage IDs"]:
                        stage_job[(app, sid)] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_info[(app, info["Stage ID"])] = info
                elif kind == "SparkListenerTaskEnd":
                    tasks[(app, e["Stage ID"])].append(e.get("Task Metrics") or {})
    out: dict[int, SpanStages] = defaultdict(SpanStages)
    busy: dict[int, list[tuple[float, float]]] = defaultdict(list)
    seen_jobs: set[tuple[str, int]] = set()
    for (app, sid), info in stage_info.items():
        jid = stage_job.get((app, sid))
        group = job_group.get((app, jid)) if jid is not None else None
        if not group or not group.startswith("span-"):
            continue
        rec = out[int(group[5:])]
        if (app, jid) not in seen_jobs:
            seen_jobs.add((app, jid))
            rec.jobs += 1
        n = info.get("Number of Tasks", 0)
        t0 = info.get("Submission Time", 0) / 1000
        t1 = max(t0, info.get("Completion Time", 0) / 1000)
        wall = t1 - t0
        busy[int(group[5:])].append((t0, t1))
        rec.stages += 1
        rec.tasks += n
        rec.stage_wall_s += wall
        if n == 1:
            rec.single_task_stages += 1
            rec.single_task_stage_s += wall
        for m in tasks.get((app, sid), []):
            rec.task_run_s += m.get("Executor Run Time", 0) / 1000
            rec.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rec.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for span_id, intervals in busy.items():
        out[span_id].stage_busy_s = _union(intervals)
    return out


def totals(records: list[SpanStages]) -> SpanStages:
    t = SpanStages()
    for r in records:
        for k in t.__dataclass_fields__:
            setattr(t, k, getattr(t, k) + getattr(r, k))
    return t
