"""Spans recorded from outside the program, and the Spark event log.

The benchmark wraps its own calls into the program in spans, and in a
traced run installs timing shims around the program's eager public
functions (``Shims``). Spark work is attributed to spans from the event
log (``EventLog``): a job belongs to every span whose interval holds its
submission time. The run is single-client and sequential, so time alone
attributes jobs correctly, including jobs the program submits from its
own threads, which do not inherit the caller's job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory in the order they ended."""

    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)

    def within(self, outer: Span, name: str) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and outer.start <= s.start and s.end <= outer.end]

    def total(self, outer: Span, name: str) -> float:
        return sum(s.wall for s in self.within(outer, name))


class Shims:
    """Replaces module attributes with span-recording wrappers until
    ``restore()``. Only functions that do their work before returning are
    shimmed: a lazy DataFrame builder would record a span of planning
    only."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, span_name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self.tracer

        def shim(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        shim.__wrapped__ = fn
        self._saved.append((owner, attr, fn))
        setattr(owner, attr, shim)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand "


def _write_target(plan: dict) -> str | None:
    """The path a SQL execution's plan writes (a ``sparkPlanInfo`` tree),
    or None."""
    todo = [plan]
    while todo:
        node = todo.pop()
        desc = node.get("simpleString", "")
        if desc.startswith(_WRITE_NODE):
            return desc[len(_WRITE_NODE):].split(",", 1)[0]
        todo += node.get("children", [])
    return None


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    execution_id: int | None = None


@dataclass
class StageTotals:
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


SPAN_STATS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
              "jobs", "tasks", "driver_gap_s")


def union_length(intervals: list[tuple[float, float]]) -> float:
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


class EventLog:
    """Jobs, per-stage task totals and SQL write targets from uncompressed
    Spark event logs (JSON lines)."""

    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, StageTotals] = {}
        self.stage_job: dict[int, int] = {}
        self.write_paths: dict[int, str] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000,
                          stages=list(ev["Stage IDs"]),
                          execution_id=int(exec_id) if exec_id is not None else None)
                self.jobs[job.job_id] = job
                for sid in job.stages:
                    self.stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = self.stages.setdefault(ev["Stage ID"], StageTotals())
                st.tasks += 1
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                target = _write_target(ev.get("sparkPlanInfo") or {})
                if target:
                    self.write_paths[ev["executionId"]] = target

    @classmethod
    def read_dir(cls, path: str) -> "EventLog":
        def lines():
            for fn in sorted(glob.glob(f"{path}/*")):
                if os.path.isfile(fn):
                    with open(fn) as f:
                        yield from f

        return cls(lines())

    def jobs_in(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs.values() if start <= j.submit <= end]

    def write_path(self, job: Job) -> str | None:
        return self.write_paths.get(job.execution_id)

    def stats(self, start: float, end: float, jobs: list[Job] | None = None) -> dict:
        """The ``SPAN_STATS`` of the interval [start, end]: sums over the
        tasks of its jobs, and its wall time not covered by any of them."""
        jobs = self.jobs_in(start, end) if jobs is None else jobs
        out = dict.fromkeys(SPAN_STATS, 0)
        ids = {j.job_id for j in jobs}
        for sid, st in self.stages.items():
            if self.stage_job.get(sid) in ids:
                out["tasks"] += st.tasks
                out["executor_cpu_s"] += st.executor_cpu_s
                out["gc_s"] += st.gc_s
                out["shuffle_write_bytes"] += st.shuffle_write_bytes
                out["spill_bytes"] += st.spill_bytes
        out["jobs"] = len(jobs)
        busy = union_length([(max(j.submit, start), min(j.end or end, end)) for j in jobs])
        out["driver_gap_s"] = max(0.0, (end - start) - busy)
        return out
