"""Spans, Spark event-log parsing and per-layer attribution.

The benchmark records a span around every call it makes into the program
(run, pass, query, build, sink, check). A traced run adds Spark's own
telemetry: the event log gives each job's time window and its tasks'
metrics, and a ``StreamingQueryListener`` gives each micro-batch's
durations. A job is attributed to the call whose span id is its job group,
falling back to the call whose time window holds the job's submission:
one client issues the calls one after another, so windows never overlap.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_WORKER_METRIC = "time to run Python workers"
GROUP_PREFIX = "perfbench-span-"
# Spark stamps jobs with System.currentTimeMillis(): allow for truncation.
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float | None  # None while the span is open
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span store, written out once when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[Span] = []

    def add(self, name, kind, start, end, parent=None, **attrs) -> Span:
        span = Span(len(self.items), name, kind, start, end, parent, self.run_id, attrs)
        self.items.append(span)
        return span

    @contextmanager
    def span(self, name, kind, parent=None, **attrs) -> Iterator[Span]:
        """A span around the body; it ends when the body ends or raises."""
        span = self.add(name, kind, time.time(), None, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def of_kind(self, *kinds: str) -> list[Span]:
        return [s for s in self.items if s.kind in kinds]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "kind": s.kind,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                **s.attrs,
            }
            for s in self.items
        ]


@dataclass
class Job:
    id: int
    submit: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    group: str | None = None
    succeeded: bool | None = None


@dataclass
class TaskTotals:
    tasks: int = 0
    failed_tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_worker_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: TaskTotals) -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


def _task_totals(event: dict) -> TaskTotals:
    info = event.get("Task Info", {})
    metrics = event.get("Task Metrics") or {}
    reason = event.get("Task End Reason", {}).get("Reason", "Success")
    failed = info.get("Failed", False) or reason != "Success"
    shuffle_read = metrics.get("Shuffle Read Metrics", {})
    python_ms = sum(
        float(acc.get("Update", 0))
        for acc in info.get("Accumulables", [])
        if acc.get("Name") == PYTHON_WORKER_METRIC
    )
    return TaskTotals(
        tasks=1,
        failed_tasks=int(failed),
        task_cpu_s=metrics.get("Executor CPU Time", 0) / 1e9,
        gc_s=metrics.get("JVM GC Time", 0) / 1e3,
        python_worker_s=python_ms / 1e3,
        input_bytes=metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        shuffle_write_bytes=metrics.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        ),
        shuffle_read_bytes=shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        spill_bytes=metrics.get("Disk Bytes Spilled", 0),
    )


def parse_event_log(lines: Iterable[str]) -> tuple[dict[int, Job], dict[int, TaskTotals]]:
    """Jobs by id, and task totals by the id of the job that ran them.

    A stage listed by several jobs (a reused shuffle) runs its tasks in the
    first job that lists it; later jobs skip it.
    """
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, TaskTotals] = {}
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[event["Job ID"]] = Job(
                id=event["Job ID"],
                submit=event["Submission Time"] / 1e3,
                stages=list(event.get("Stage IDs", [])),
                group=(event.get("Properties") or {}).get("spark.jobGroup.id"),
            )
        elif kind == "SparkListenerJobEnd" and event["Job ID"] in jobs:
            job = jobs[event["Job ID"]]
            job.end = event["Completion Time"] / 1e3
            job.succeeded = event.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            totals = stage_tasks.setdefault(event["Stage ID"], TaskTotals())
            totals.add(_task_totals(event))
    owner: dict[int, int] = {}
    for job_id in sorted(jobs):
        for stage in jobs[job_id].stages:
            owner.setdefault(stage, job_id)
    by_job: dict[int, TaskTotals] = {}
    for stage, totals in stage_tasks.items():
        if stage in owner:
            by_job.setdefault(owner[stage], TaskTotals()).add(totals)
    return jobs, by_job


def call_group(span_id: int) -> str:
    return f"{GROUP_PREFIX}{span_id}"


def attribute_jobs(jobs: dict[int, Job], calls: list[Span]) -> dict[int, int | None]:
    """Map each job id to the id of the call span that ran it, or None."""
    by_group = {call_group(c.id): c.id for c in calls}
    return {
        job.id: by_group[job.group] if job.group in by_group else call_at(job.submit, calls)
        for job in jobs.values()
    }


def call_at(t: float, calls: list[Span]) -> int | None:
    """The id of the call whose time window holds ``t``, or None."""
    return next(
        (c.id for c in calls if c.start - CLOCK_SLACK_S <= t <= c.end + CLOCK_SLACK_S), None
    )


def covered_seconds(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of the part of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(
    jobs: dict[int, Job],
    job_tasks: dict[int, TaskTotals],
    calls: list[Span],
    passes: int,
) -> dict[str, float]:
    """Per-module job and task metrics over ``calls``, per pass.

    Each call span carries ``module`` and ``phase`` (``build`` or ``sink``)
    attributes. Jobs run inside a build call count as eager jobs.
    """
    owner = attribute_jobs(jobs, calls)
    jobs_of: dict[int, list[Job]] = {}
    for job_id, call_id in owner.items():
        if call_id is not None:
            jobs_of.setdefault(call_id, []).append(jobs[job_id])
    per: dict[str, dict[str, float]] = {}
    for call in calls:
        m = per.setdefault(call.attrs["module"], {"jobs": 0, "eager_jobs": 0, "driver_self_s": 0.0})
        mine = jobs_of.get(call.id, [])
        m["jobs"] += len(mine)
        if call.attrs["phase"] == "build":
            m["eager_jobs"] += len(mine)
        spans = [(j.submit, j.end if j.end is not None else call.end) for j in mine]
        m["driver_self_s"] += call.duration - covered_seconds((call.start, call.end), spans)
        totals = TaskTotals()
        for job in mine:
            totals.add(job_tasks.get(job.id, TaskTotals()))
        for name in totals.__dataclass_fields__:
            m[name] = m.get(name, 0) + getattr(totals, name)
    return {
        f"{module}.{name}": value / passes
        for module, values in per.items()
        for name, value in values.items()
    }


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamRecorder:
    """Collects micro-batch progress from a ``StreamingQueryListener``.

    Listener callbacks arrive on another thread, after the batch they
    describe, so ``wait_settled`` waits until every started query has
    reported its termination.
    """

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()
        self._settled = threading.Condition(self._lock)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with recorder._lock:
                    recorder.started += 1

            def onQueryProgress(self, event):
                recorder.record(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with recorder._settled:
                    recorder.terminated += 1
                    recorder._settled.notify_all()

        return _Listener()

    def record(self, progress) -> None:
        durations = dict(progress.durationMs)
        start = _epoch(progress.timestamp)
        batch = {
            "run_id": str(progress.runId),
            "name": progress.name,
            "batch_id": progress.batchId,
            "start": start,
            "end": start + durations.get("triggerExecution", 0) / 1e3,
            "planning_s": durations.get("queryPlanning", 0) / 1e3,
            "add_batch_s": durations.get("addBatch", 0) / 1e3,
            "wal_commit_s": (durations.get("walCommit", 0) + durations.get("commitOffsets", 0))
            / 1e3,
            "state_commit_s": sum(op.commitTimeMs for op in progress.stateOperators) / 1e3,
            "state_rows": sum(op.numRowsTotal for op in progress.stateOperators),
        }
        with self._lock:
            self.batches.append(batch)

    def wait_settled(self, timeout_s: float = 30.0) -> bool:
        with self._settled:
            return self._settled.wait_for(lambda: self.terminated >= self.started, timeout_s)


def streaming_metrics(batches: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Micro-batch totals over the batches that started inside ``windows``,
    per window. ``state_rows`` is the state size each stream ended with."""
    inside = [b for b in batches if any(lo <= b["start"] <= hi for lo, hi in windows)]
    out = {
        "streaming.batches": float(len(inside)),
        **{
            f"streaming.{k}": sum(b[k] for b in inside)
            for k in ("planning_s", "add_batch_s", "wal_commit_s", "state_commit_s")
        },
    }
    last: dict[str, dict] = {}
    for b in sorted(inside, key=lambda b: b["batch_id"]):
        last[b["run_id"]] = b
    out["streaming.state_rows"] = float(sum(b["state_rows"] for b in last.values()))
    return {k: v / len(windows) for k, v in out.items()}
