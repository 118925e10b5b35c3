"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

Two sources, both outside the engine:

* hooks — the benchmark wraps public methods of the engine's classes
  (``IcebergLite`` writes and reads, ``Checkpoint.save`` /
  ``mark_step``, ``sql.read_tier``) and records a span per call: kind,
  name, start, end, calling thread. Spans stay in memory.
* the Spark event log (``spark.eventLog.enabled``), parsed after the
  session stops: jobs with their group and submit/finish times, and
  every task's metrics. Jobs are attributed to pipeline steps by job
  group (the encode thread and the doc_id scan run in their own groups)
  and by the step windows the ``mark_step`` hook records.

Untraced runs install nothing and write no event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

WRITE_METHODS = (
    "append", "append_once", "overwrite", "overwrite_partitions",
    "replace_rows", "delete_rows_mor",
)
ENCODE_GROUP = "pyreshaper-encode-"
IDS_GROUP = "pyreshaper-validate-ids-"


@dataclass
class Span:
    kind: str
    name: str
    t0: float
    t1: float
    thread: str
    info: dict = field(default_factory=dict)


class Tracer:
    """Installs the hooks and keeps the spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.hook_s = 0.0  # time spent in the benchmark's own hook work
        self._depth = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _wrap(self, owner, attr: str, kind: str, outermost: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def hooked(*a, **kw):
            depth = getattr(tracer._depth, kind, 0)
            setattr(tracer._depth, kind, depth + 1)
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                t1 = time.time()
                setattr(tracer._depth, kind, depth)
                if not (outermost and depth):
                    name = a[1] if kind == "step" else attr
                    tracer._add(
                        Span(kind, str(name), t0, t1,
                             threading.current_thread().name)
                    )

        setattr(owner, attr, hooked)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        import pyreshaper_spark.sql as sqlmod
        from pyreshaper_spark.plans.checkpoint import Checkpoint
        from pyreshaper_spark.sources.iceberglite import IcebergLite

        for m in WRITE_METHODS:
            self._wrap(IcebergLite, m, "write", outermost=True)
        self._wrap(IcebergLite, "read", "read")
        self._wrap(Checkpoint, "save", "ckpt")
        self._wrap(Checkpoint, "mark_step", "step")

        orig = sqlmod.read_tier
        tracer = self

        @functools.wraps(orig)
        def read_tier(*a, **kw):
            df = orig(*a, **kw)
            t0 = time.time()
            n = len(df.inputFiles())
            tracer.hook_s += time.time() - t0
            tracer._add(Span("files", "read_tier", t0, t0, "", {"files": n}))
            return df

        sqlmod.read_tier = read_tier
        self._undo.append((sqlmod, "read_tier", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def of(self, kind: str, t0: float = 0.0, t1: float = float("inf")) -> list[Span]:
        return [s for s in self.spans if s.kind == kind and t0 <= s.t0 <= t1]


# ---- event log -------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str
    submit: float
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    input_bytes: int


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], list[Task]]:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    # Spark 4 writes rolling event logs: a directory of event files
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"] / 1000.0,
                        float("nan"),
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    tasks.append(Task(
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        im.get("Bytes Read", 0),
                    ))
    for j in jobs.values():
        if j.end != j.end:  # never ended (cancelled): treat as instant
            j.end = j.submit
    return jobs, tasks


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
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


class JobIndex:
    """Jobs and their tasks, queryable by time window and group."""

    def __init__(self, jobs: dict[int, Job], tasks: list[Task]) -> None:
        self.jobs = sorted(jobs.values(), key=lambda j: j.submit)
        stage_job: dict[int, int] = {}
        for j in self.jobs:
            for s in j.stages:
                stage_job.setdefault(s, j.id)
        self.tasks_of: dict[int, list[Task]] = {}
        for t in tasks:
            jid = stage_job.get(t.stage)
            if jid is not None:
                self.tasks_of.setdefault(jid, []).append(t)

    def select(self, t0: float, t1: float, groups=None, exclude=()) -> list[Job]:
        """Jobs submitted in [t0, t1]; ``groups``: keep only group
        prefixes listed; ``exclude``: drop these group prefixes."""
        out = []
        for j in self.jobs:
            if not (t0 <= j.submit <= t1):
                continue
            if groups is not None and not j.group.startswith(tuple(groups)):
                continue
            if exclude and j.group.startswith(tuple(exclude)):
                continue
            out.append(j)
        return out

    def tasks(self, jobs: list[Job]) -> list[Task]:
        return [t for j in jobs for t in self.tasks_of.get(j.id, [])]

    def exec_s(self, jobs: list[Job]) -> float:
        return sum(t.run_s for t in self.tasks(jobs))

    def substrate(self, jobs: list[Job]) -> dict[str, float]:
        ts = self.tasks(jobs)
        by_stage: dict[int, list[float]] = {}
        for t in ts:
            by_stage.setdefault(t.stage, []).append(t.run_s)
        skew = 1.0
        if by_stage:
            widest = max(by_stage.values(), key=lambda v: (len(v), sum(v)))
            med = statistics.median(widest)
            skew = max(widest) / med if med > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": len(ts),
            "spark.shuffle_write_bytes": sum(t.shuffle_write for t in ts),
            "spark.spill_bytes": sum(t.spill for t in ts),
            "spark.task_skew": skew,
            "spark.executor_run_s": sum(t.run_s for t in ts),
            "spark.executor_cpu_s": sum(t.cpu_s for t in ts),
            "spark.gc_s": sum(t.gc_s for t in ts),
            "spark.input_bytes": sum(t.input_bytes for t in ts),
        }
