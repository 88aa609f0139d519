"""Span tracer for the traced run.

Untraced runs never touch this module: ``instrument`` replaces the
methods of a ``Steps`` object with wrappers only when tracing is on, so
an untraced run calls the program directly.

Each span records its name, start, end, parent span and the operation it
belongs to (``steps.op``: "setup", "warmup", "job", "round-3", ...). A
span runs under its own Spark job group, so the jobs and tasks of each
call can be read from ``SparkContext.statusTracker`` when the run ends.
Spans are kept in memory and written out as JSON lines by ``dump``.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def instrument(self, steps, names: dict[str, str]) -> None:
        """Wrap ``steps.<method>`` in a span called ``names[method]``."""
        for method, span_name in names.items():
            setattr(steps, method, self._wrap(steps, getattr(steps, method), span_name))

    def _wrap(self, steps, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            span = Span(len(self.spans), name, steps.op,
                        parent.span_id if parent else None, time.perf_counter())
            self.spans.append(span)
            self._stack.append(span)
            self.sc.setJobGroup(f"span-{span.span_id}", name)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

        return traced

    def resolve_jobs(self) -> None:
        """Fill each span's own job and task counts from the status
        tracker (after the listener bus has delivered every event)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 -- best effort; counts may lag
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for span in self.spans:
            job_ids = st.getJobIdsForGroup(f"span-{span.span_id}")
            span.jobs = len(job_ids)
            for jid in job_ids:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        span.tasks += stage.numCompletedTasks

    def dump(self, path: str, t0: float) -> None:
        """Write spans as JSON lines, times in seconds from ``t0``."""
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["start"] -= t0
                row["end"] -= t0
                f.write(json.dumps(row) + "\n")

    def recorded(self, name: str) -> list[Span]:
        """Spans called ``name`` outside warm-ups, with their child spans'
        jobs and tasks folded in."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def total(s: Span) -> tuple[int, int]:
            jobs, tasks = s.jobs, s.tasks
            for c in children.get(s.span_id, ()):
                j, t = total(c)
                jobs, tasks = jobs + j, tasks + t
            return jobs, tasks

        out = []
        for s in self.spans:
            if s.name == name and not s.op.startswith("warmup"):
                s.attrs["jobs_total"], s.attrs["tasks_total"] = total(s)
                out.append(s)
        return out
