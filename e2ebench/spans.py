"""Spans around the benchmark's calls into the package, and the Spark
event-log counters attributed to them.

A span is ``(name, start, end, parent)`` in epoch seconds, kept in
memory and written out when the run ends. With tracing on, each span
also sets a Spark job group named after it, so every job the call
submits carries ``spark.jobGroup.id`` in the event log. Streaming
micro-batches run their jobs under the stream's own group instead; those
are matched through the ``sql.streaming.queryId`` and
``streaming.sql.batchId`` job properties Spark records, and through the
span's time window when a job carries neither.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.name}@{self.start:.6f}"


@dataclass
class JobCost:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    executor_s: float = 0.0

    def add(self, other: "JobCost") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.executor_s += other.executor_s


@dataclass
class Tracer:
    spark: object | None = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.enabled and self.spark else None
        if sc is not None:
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(
            [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
             for s in sorted(self.spans, key=lambda s: s.start)]
        ))


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    group: str | None
    query_id: str | None
    batch_id: int | None
    cost: JobCost


def _acc(info: dict, name: str) -> float:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            return float(a.get("Value", 0))
    return 0.0


def read_event_log(log_dir: Path) -> list[Job]:
    """Jobs from every event log file in ``log_dir``, each with the
    summed cost of the stages it actually ran (a stage reused from an
    earlier job is skipped by Spark and counted once, under the job
    that ran it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_cost: dict[int, JobCost] = {}
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    bid = props.get("streaming.sql.batchId")
                    job = Job(
                        ev["Job ID"],
                        ev.get("Submission Time", 0) / 1000.0,
                        props.get("spark.jobGroup.id"),
                        props.get("sql.streaming.queryId"),
                        int(bid) if bid is not None else None,
                        JobCost(jobs=1),
                    )
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_cost[info["Stage ID"]] = JobCost(
                        tasks=info.get("Number of Tasks", 0),
                        shuffle_bytes=int(_acc(info, "internal.metrics.shuffle.write.bytesWritten")),
                        spill_bytes=int(
                            _acc(info, "internal.metrics.memoryBytesSpilled")
                            + _acc(info, "internal.metrics.diskBytesSpilled")
                        ),
                        executor_s=_acc(info, "internal.metrics.executorRunTime") / 1000.0,
                    )
    for sid, cost in stage_cost.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid].cost.add(cost)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def cost_of(jobs: list[Job], span: Span) -> JobCost:
    """Jobs submitted under ``span``'s job group; jobs carrying no group
    are matched by the span's time window."""
    out = JobCost()
    for j in jobs:
        if j.group == span.group or (
            j.group is None and span.start <= j.submitted <= span.end
        ):
            out.add(j.cost)
    return out


def window_cost(jobs: list[Job], span: Span) -> JobCost:
    """Every job submitted while ``span`` was open, whatever its group."""
    out = JobCost()
    for j in jobs:
        if span.start <= j.submitted <= span.end:
            out.add(j.cost)
    return out


def stream_costs(jobs: list[Job], query_id: str) -> dict[int, JobCost]:
    """Per micro-batch cost of one streaming query, keyed by batch id."""
    out: dict[int, JobCost] = defaultdict(JobCost)
    for j in jobs:
        if j.query_id == query_id and j.batch_id is not None:
            out[j.batch_id].add(j.cost)
    return dict(out)
