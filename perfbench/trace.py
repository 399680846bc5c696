"""Spans around the public calls, and the offline parse of the Spark
event log into per-operation layer figures.

Spans are recorded from the benchmark's own process: run-time wrappers
around ``StageRunner.stage``, the parquet writer, ``connected_components``
as ``canonicalize`` calls it, and the benchmark's calls into the
library.  They stay in memory until the run ends.  Each operation span
also tags its Spark jobs (``SparkSession.addTag`` plus a job
description), so the event log names the operation that ran each job.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field
from typing import Iterator, Optional

TAG_PREFIX = "perfbench-op-"
# the Spark-side figures EventLog.op_figures gives for one operation
OP_FIGURES = (
    "spark.jobs", "spark.stages", "spark.executor_run_s", "spark.core_util",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_skew",
    "spark.failed_tasks", "driver.idle_s",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: Optional[int]
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, spark=None) -> Iterator[Optional[Span]]:
        """Record one span.  With ``spark`` the span also tags and
        describes every Spark job started inside it."""
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.time(),
                 self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.id)
        if spark is not None:
            spark.addTag(f"{TAG_PREFIX}{s.id}")
            spark.sparkContext.setJobDescription(name)
        try:
            yield s
        finally:
            if spark is not None:
                spark.removeTag(f"{TAG_PREFIX}{s.id}")
                spark.sparkContext.setJobDescription(None)
            self._stack.pop()
            s.end = time.time()

    def children(self, span_id: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id and s.name == name]

    def descendants(self, span_id: int) -> list[Span]:
        out, frontier = [], {span_id}
        for s in self.spans:  # parents precede children
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)

    @contextlib.contextmanager
    def wrap_library(self) -> Iterator[None]:
        """Span the layer boundaries inside the library's public calls
        for the duration of the block, then restore the originals."""
        if not self.enabled:
            yield
            return
        from pyspark.sql.readwriter import DataFrameWriter

        from coies_spark.pipeline import canonicalize as canon_mod
        from coies_spark.pipeline.checkpoint import StageRunner

        tracer = self
        orig_stage = StageRunner.stage
        orig_parquet = DataFrameWriter.parquet
        orig_cc = canon_mod.connected_components

        def stage(runner, name, build, *args, **kwargs):
            with tracer.span(f"stage:{name}"):
                return orig_stage(runner, name, build, *args, **kwargs)

        def parquet(writer, *args, **kwargs):
            with tracer.span("parquet_write"):
                return orig_parquet(writer, *args, **kwargs)

        def connected_components(*args, **kwargs):
            with tracer.span("graph.cc"):
                return orig_cc(*args, **kwargs)

        StageRunner.stage = stage
        DataFrameWriter.parquet = parquet
        canon_mod.connected_components = connected_components
        try:
            yield
        finally:
            StageRunner.stage = orig_stage
            DataFrameWriter.parquet = orig_parquet
            canon_mod.connected_components = orig_cc


# --- Spark event log ----------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tags: tuple[str, ...] = ()


@dataclass
class EventLog:
    """The parts of a plain JSON-lines Spark event log the layer table
    needs: jobs, executed stages, and per-task metrics."""

    jobs: dict[int, Job] = field(default_factory=dict)
    stage_done: set[int] = field(default_factory=set)
    # stage id -> [(run seconds, shuffle write bytes, spill bytes, failed)]
    tasks: dict[int, list[tuple[float, int, int, bool]]] = field(
        default_factory=dict)

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = tuple(
                        t for t in (props.get("spark.job.tags") or "").split(",")
                        if t
                    )
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0,
                        stages=[s["Stage ID"] for s in ev["Stage Infos"]],
                        tags=tags,
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    log.stage_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    log.tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                        reason != "Success",
                    ))
        return log

    def jobs_of(self, span: Span) -> list[Job]:
        """Jobs the span ran: those carrying its tag, else (jobs started
        from driver threads without the tag) those submitted inside it."""
        tag = f"{TAG_PREFIX}{span.id}"
        return [
            j for j in self.jobs.values()
            if tag in j.tags
            or (not any(t.startswith(TAG_PREFIX) for t in j.tags)
                and span.start <= j.submit <= span.end)
        ]

    def jobs_in(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs.values() if start <= j.submit <= end]

    def op_figures(self, span: Span, cores: int) -> dict[str, float]:
        """Spark-side figures of one operation span."""
        jobs = self.jobs_of(span)
        stages = sorted({s for j in jobs for s in j.stages
                         if s in self.stage_done})
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        run_s = sum(t[0] for t in tasks)
        busy = _union_length(
            [(max(j.submit, span.start), min(j.end or span.end, span.end))
             for j in jobs]
        )
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: sum(t[0] for t in self.tasks.get(s, [])))
            times = [t[0] for t in self.tasks.get(heavy, [])]
            med = statistics.median(times) if times else 0.0
            if med > 0:
                skew = max(times) / med
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.executor_run_s": run_s,
            "spark.core_util": run_s / (span.wall * cores) if span.wall else 0.0,
            "spark.shuffle_write_mb": sum(t[1] for t in tasks) / 1e6,
            "spark.spill_mb": sum(t[2] for t in tasks) / 1e6,
            "spark.task_skew": skew,
            "spark.failed_tasks": sum(t[3] for t in tasks),
            "driver.idle_s": max(span.wall - busy, 0.0),
        }

    def executor_run_in(self, start: float, end: float) -> float:
        """Task run seconds of the jobs submitted in [start, end]."""
        stages = {s for j in self.jobs_in(start, end) for s in j.stages
                  if s in self.stage_done}
        return sum(t[0] for s in stages for t in self.tasks.get(s, []))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
