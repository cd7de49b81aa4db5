"""Spans around the calls into each layer, recorded from outside the program.

The traced run wraps the public functions of each layer where the program
binds them (every module that imported ``catalog.load_table``, the names
``pipeline.cli`` imported, the ``JobRegistry`` and ``AuditLog`` methods)
and records one span per call: name, start, end, parent span, and the Spark
jobs that ran under the op's job group while it was open. Spans stay in
memory; the worker folds them into per-layer numbers when the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: Span | None
    start: float
    end: float = 0.0
    jobs: frozenset[int] = frozenset()
    children: list[Span] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def self_seconds(self) -> float:
        """Duration minus the part of it covered by child spans."""
        return self.seconds - covered(self.children, self.start, self.end)

    def self_jobs(self) -> frozenset[int]:
        inner: set[int] = set()
        for c in self.children:
            inner |= c.jobs
        return self.jobs - inner

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the spans' intervals."""
    total, reach = 0.0, lo
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(s.start, reach), min(s.end, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Records spans for one op at a time (one op in flight)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.local = threading.local()
        self.op: Span | None = None
        self.group = ""

    def _jobs(self) -> set[int]:
        return set(self.status.getJobIdsForGroup(self.group)) if self.group else set()

    @contextmanager
    def op_span(self, name: str, group: str):
        """Root span of one op; its layers' spans become its descendants."""
        self.group = group
        self.op = Span(name, None, time.perf_counter())
        self.local.stack = [self.op]
        try:
            yield self.op
        finally:
            self.op.end = time.perf_counter()
            self.op.jobs = frozenset(self._jobs())
            self.op.info["job_stages"] = {j: self._stages_run(j) for j in self.op.jobs}
            self.local.stack = []
            self.op = None

    def _stages_run(self, job: int) -> tuple[int, int]:
        """(stages that ran tasks, tasks completed) of one finished job;
        stages skipped because an earlier job wrote their output count 0."""
        info = self.status.getJobInfo(job)
        stages = tasks = 0
        for sid in info.stageIds if info else ():
            st = self.status.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        return stages, tasks

    @contextmanager
    def span(self, name: str):
        stack = getattr(self.local, "stack", None)
        if self.op is None:
            yield None
            return
        if not stack:  # a thread the op started: attach to the op itself
            stack = self.local.stack = [self.op]
            self.sc.setJobGroup(self.group, self.op.name)
        parent = stack[-1]
        before = self._jobs()
        s = Span(name, parent, time.perf_counter())
        parent.children.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            s.jobs = frozenset(self._jobs() - before)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.info["result"] = out
                return out

        return traced

    def patch_bindings(self, original, name: str, package: str = "vena_etl_tool_spark") -> int:
        """Replace every module-level binding of ``original`` inside
        ``package`` with a traced wrapper; returns how many were patched."""
        wrapper = self.wrap(name, original)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def patch_method(self, cls, method: str, name: str) -> None:
        setattr(cls, method, self.wrap(name, getattr(cls, method)))

    def install(self) -> dict[str, int]:
        """Wrap every layer entry point the workloads reach."""
        from vena_etl_tool_spark import catalog
        from vena_etl_tool_spark.pipeline import audit, http_sink, ingest, jobs

        counts = {
            "catalog.load": self.patch_bindings(catalog.load_table, "catalog.load"),
            "ingest.validate": self.patch_bindings(ingest.validate_csv_file, "ingest.validate"),
            "ingest.ingest_csv": self.patch_bindings(ingest.ingest_csv, "ingest.ingest_csv"),
            "ingest.write_table": self.patch_bindings(ingest.write_table, "ingest.write_table"),
            "http_sink.upload": self.patch_bindings(
                http_sink.upload_file_multipart, "http_sink.upload"
            ),
        }
        self.patch_method(jobs.JobRegistry, "submit_batch", "jobs.submit")
        self.patch_method(jobs.JobRegistry, "wait", "jobs.wait")
        for m in ("log_upload", "log_job_operation", "log_api_operation", "log_error"):
            self.patch_method(audit.AuditLog, m, "audit.append")
        return counts
