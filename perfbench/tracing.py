"""In-memory span tracer for the benchmark's calls into the program.

A span records name, start, end, parent span and run id around one
call into a layer's public function. With a SparkSession attached, each
span also tags the Spark jobs its call launches with
``SparkContext.setJobGroup`` and reads their job and task counts back
through ``statusTracker()`` once the run ends. Spans stay in memory and
are written out as JSON lines by ``dump``.

With tracing off, ``span`` is a no-op context manager, so the untraced
run pays one function call per span and nothing else.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def attach(self, spark) -> None:
        """Tag Spark jobs from now on (call once the session is up)."""
        if self.enabled:
            self.sc = spark.sparkContext
            stack = self._stack()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name, interruptOnCancel=False)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].span_id if stack else None, 0.0, attrs=attrs)
        sp.group = f"{self.run_id}:{sp.span_id}"
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        stack.append(sp)
        sp.start = time.perf_counter()
        with self._lock:
            self.spans.append(sp)
            self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1].group, stack[-1].name, interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.bookkeeping_s += time.perf_counter() - sp.end

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def resolve_jobs(self) -> None:
        """Set each span's own job and task counts from the status
        tracker (jobs of child spans are counted in the child)."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sp.tasks = 0
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        sp.tasks += stage.numTasks

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for sp in self.spans:
            out[sp.parent].append(sp)
        return out

    def self_time(self, sp: Span, kids: dict[int | None, list[Span]]) -> float:
        """Duration minus the part of it that child spans cover."""
        intervals = sorted((c.start, c.end) for c in kids.get(sp.span_id, []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def inclusive(self, sp: Span, kids: dict[int | None, list[Span]]) -> tuple[int, int]:
        jobs, tasks = sp.jobs, sp.tasks
        for c in kids.get(sp.span_id, []):
            j, t = self.inclusive(c, kids)
            jobs, tasks = jobs + j, tasks + t
        return jobs, tasks

    def per_name(self) -> dict[str, dict]:
        """Per span name: calls, median duration, total self time, and
        the mean inclusive jobs and tasks per call."""
        kids = self.children()
        acc: dict[str, dict] = {}
        for sp in self.spans:
            a = acc.setdefault(sp.name, {"calls": 0, "durations": [], "self_s": 0.0, "jobs": 0, "tasks": 0})
            a["calls"] += 1
            a["durations"].append(sp.duration)
            a["self_s"] += self.self_time(sp, kids)
            j, t = self.inclusive(sp, kids)
            a["jobs"] += j
            a["tasks"] += t
        return {
            name: {
                "calls": a["calls"],
                "median_s": statistics.median(a["durations"]),
                "total_s": sum(a["durations"]),
                "self_s": a["self_s"],
                "jobs_per_call": a["jobs"] / a["calls"],
                "tasks_per_call": a["tasks"] / a["calls"],
            }
            for name, a in acc.items()
        }

    def table(self) -> str:
        rows = sorted(self.per_name().items())
        lines = [f"{'span':<34}{'calls':>6}{'median_s':>10}{'total_s':>10}{'self_s':>10}{'jobs':>8}{'tasks':>8}"]
        for name, r in rows:
            lines.append(
                f"{name:<34}{r['calls']:>6}{r['median_s']:>10.3f}{r['total_s']:>10.3f}"
                f"{r['self_s']:>10.3f}{r['jobs_per_call']:>8.1f}{r['tasks_per_call']:>8.1f}"
            )
        lines.append(f"tracer bookkeeping: {self.bookkeeping_s * 1000:.2f} ms over {len(self.spans)} spans")
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span_id": sp.span_id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "jobs": sp.jobs,
                            "tasks": sp.tasks,
                            "attrs": sp.attrs,
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )
