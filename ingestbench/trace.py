"""Traced-run tooling: spans, self time and the Spark event-log reader.

Spans are recorded by the benchmark's own files around each call into
the program (name, start, end, parent, one run id), kept in memory and
written out when the run ends. A span's self time is its duration
minus the part of it that its children cover. Spark jobs are tied back
to spans through the job group the benchmark sets around each call on
the driver thread, or, for jobs submitted inside ``foreachBatch``,
through the streaming query id and batch id Spark puts on every job.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa

from parquet_ingestor_spark.pipeline import PipelineConfig

#: Path part that marks an insert into the dead-letter queue.
DLQ_MARKER = "/" + PipelineConfig().dlq_suffix


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    sets no job groups, so untraced runs pay for neither."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._spark = spark
        self._local = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads with no open span (the
        #: ``foreachBatch`` callback thread of a streaming query)
        self.default_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.default_parent
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.time(), attrs=dict(attrs))
            self.spans.append(sp)
        if job_group and self._spark is not None:
            self._spark.sparkContext.setJobGroup(self.group_id(sp), name)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if job_group and self._spark is not None:
                self._spark.sparkContext.setJobGroup(f"{self.run_id}-idle", "idle")

    def group_id(self, sp: Span) -> str:
        return f"{self.run_id}-{sp.id}"

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self": self_time(s, self.children(s)),
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(sp: Span, children: list[Span]) -> float:
    """Duration of ``sp`` not covered by any of its children."""
    return sp.dur - covered([(c.start, c.end) for c in children], sp.start, sp.end)


@dataclass
class Job:
    id: int
    group: str | None
    query_id: str | None
    batch_id: int | None
    execution_id: int | None
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    kind: str = "other"

    @property
    def ms(self) -> int:
        return self.end_ms - self.submit_ms


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        compression = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=compression) as stream:
            data = stream.read().decode()
        for line in data.splitlines():
            if line:
                yield json.loads(line)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the session's event log with their task counts. A job
    that inserts into a path containing ``DLQ_MARKER`` is a ``dlq``
    job, any other insert is a ``data`` job."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    plans: dict[int, str] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            p = e.get("Properties", {})
            ex = p.get("spark.sql.execution.id")
            bid = p.get("streaming.sql.batchId")
            job = Job(
                id=e["Job ID"],
                group=p.get("spark.jobGroup.id"),
                query_id=p.get("sql.streaming.queryId"),
                batch_id=int(bid) if bid is not None else None,
                execution_id=int(ex) if ex is not None else None,
                submit_ms=e["Submission Time"],
                stages=list(e["Stage IDs"]),
            )
            plan = plans.get(job.execution_id, "")
            if "InsertIntoHadoopFsRelationCommand" in plan:
                job.kind = "dlq" if DLQ_MARKER in plan else "data"
            jobs[job.id] = job
            for s in job.stages:
                stage_job[s] = job
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job is not None:
                job.tasks += 1
    return sorted(jobs.values(), key=lambda j: j.id)


def jobs_by_group(jobs: list[Job]) -> dict[str, list[Job]]:
    out: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group is not None:
            out.setdefault(j.group, []).append(j)
    return out


def jobs_by_batch(jobs: list[Job]) -> dict[tuple[str, int], list[Job]]:
    out: dict[tuple[str, int], list[Job]] = {}
    for j in jobs:
        if j.query_id is not None and j.batch_id is not None:
            out.setdefault((j.query_id, j.batch_id), []).append(j)
    return out
