"""Per-layer tracing from outside the program.

The benchmark wraps the public methods of each engine layer (the package's
modules) with spans. A span records name, start, end, parent span and the
id of the timed operation it belongs to; spans stay in memory and are
written out when the run ends. Each span also tags the Spark jobs it starts
with its own job group, so the event log written by the traced run maps
every job, and the tasks under it, back to the innermost span.

A layer's self time is its span's duration minus the time its child spans
cover. Tracing is switched on for every other timed cycle only; the
difference between the medians of traced and untraced cycles is the
run's tracing overhead.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import time
from dataclasses import dataclass, field

from bd_delete_records_from_external_hive_table_spark.job import DeletionJob
from bd_delete_records_from_external_hive_table_spark.operators.backup import BackupManager
from bd_delete_records_from_external_hive_table_spark.operators.deletion import (
    DeletionExecutor, PartitionHandler)
from bd_delete_records_from_external_hive_table_spark.operators.deletion_vectors import (
    MergeOnReadDeleter)
from bd_delete_records_from_external_hive_table_spark.operators.recovery import RecoveryManager
from bd_delete_records_from_external_hive_table_spark.operators.validation import (
    ValidationManager)

#: (class, method, span name) for every layer boundary the benchmark wraps
LAYER_METHODS = [
    (DeletionJob, "run", "job.run"),
    (PartitionHandler, "analyze", "deletion.analyze"),
    (DeletionExecutor, "execute", "deletion.execute"),
    (BackupManager, "create_backup", "backup.create"),
    (BackupManager, "cleanup_old_backups", "backup.cleanup"),
    (ValidationManager, "validate_pre_deletion", "validation.pre"),
    (ValidationManager, "validate_post_deletion", "validation.post"),
    (RecoveryManager, "recover", "recovery.recover"),
    (MergeOnReadDeleter, "delete", "dv.delete"),
    (MergeOnReadDeleter, "read", "dv.read"),
    (MergeOnReadDeleter, "compact", "dv.compact"),
]

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    result: object = field(default=None, repr=False)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    """Span recorder. ``active`` is False outside traced cycles, and then
    every wrapper is a plain pass-through call."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self.op = 0
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._saved: list[tuple[type, str, object]] = []
        #: restore attempts made inside RecoveryManager.recover
        self.restore_calls = 0

    # -- spans -----------------------------------------------------------

    def begin(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(f"pb{next(self._ids)}", name, self.op,
                    parent.id if parent else None, time.time())
        self._stack.append(span)
        self.sc.setLocalProperty(_GROUP, span.id)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent.children_s += span.end - span.start
        self.sc.setLocalProperty(_GROUP, parent.id if parent else None)
        self.spans.append(span)

    def span(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        span = self.begin(name)
        try:
            span.result = fn(*args, **kwargs)
            return span.result
        finally:
            self.end(span)

    # -- wrapping the layers ---------------------------------------------

    def install(self) -> None:
        for cls, meth, name in LAYER_METHODS:
            orig = getattr(cls, meth)
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, name))
        orig_restore = BackupManager.restore
        self._saved.append((BackupManager, "restore", orig_restore))

        @functools.wraps(orig_restore)
        def restore(inner_self, *a, **kw):
            if self.active:
                self.restore_calls += 1
            return orig_restore(inner_self, *a, **kw)
        BackupManager.restore = restore

    def _wrap(self, orig, name):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)
        return wrapper

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": s.self_s}) + "\n")


# -- Spark event log ---------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs with their task totals, from the event log of a stopped app."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], props.get(_GROUP),
                              ev["Submission Time"] / 1000.0,
                              stages=list(ev.get("Stage IDs", [])))
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.run_s += m.get("Executor Run Time", 0) / 1000.0
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.spill_b += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    job.output_b += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spark_totals(spans: list[Span], roots: list[Span],
                 jobs: dict[int, Job]) -> dict[str, float]:
    """Spark work under the traced operations (``roots``), and the part
    of their wall time during which no Spark job ran."""
    ids = {s.id for s in spans}
    mine = [j for j in jobs.values() if j.group in ids]
    outside = 0.0
    for r in roots:
        inside = [(j.start, j.end) for j in mine
                  if j.end >= r.start and j.start <= r.end]
        outside += (r.end - r.start) - _covered(inside, r.start, r.end)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(mine),
        "spark.tasks": sum(j.tasks for j in mine),
        "spark.executor_run_s": sum(j.run_s for j in mine),
        "spark.gc_s": sum(j.gc_s for j in mine),
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in mine) / mb,
        "spark.spill_mb": sum(j.spill_b for j in mine) / mb,
        "spark.output_mb": sum(j.output_b for j in mine) / mb,
        "spark.outside_jobs_s": outside,
    }


def jobs_by_span(jobs: dict[int, Job]) -> dict[str, int]:
    out: dict[str, int] = {}
    for j in jobs.values():
        if j.group:
            out[j.group] = out.get(j.group, 0) + 1
    return out
