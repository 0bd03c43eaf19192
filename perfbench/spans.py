"""Span recorder for traced runs.

A span records its name, start, end and parent.  Each span runs its
Spark jobs under a job group of its own, so the jobs a layer started,
and the bytes those jobs wrote, shuffled and spilled, are read back from
Spark's in-process status store right after the span ends (the store
keeps only the most recent jobs).  Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    children: list["Span"] = field(default_factory=list, repr=False)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_time(span: Span) -> float:
    """The span's duration minus the part of it its children cover."""
    covered, reach = 0.0, span.start
    for c in sorted(span.children, key=lambda c: c.start):
        lo, hi = max(c.start, reach), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.seconds - covered


def subtree(span: Span):
    yield span
    for c in span.children:
        yield from subtree(c)


def total(span: Span, attr: str, name: str | None = None) -> float:
    """Sum of ``attr`` over the span's subtree; with ``name``, only over
    the spans of that name."""
    return sum(getattr(s, attr) for s in subtree(span) if name in (None, s.name))


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark else None
        if sc:
            sc.setLocalProperty(JOB_GROUP, self._group(s))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty(JOB_GROUP, self._group(parent) if parent else None)
                self._read_counters(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.id}"

    def _read_counters(self, s: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for job_id in sc.statusTracker().getJobIdsForGroup(self._group(s)):
            s.jobs += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # stage skipped, or evicted from the store
                    continue
                s.output_bytes += st.outputBytes()
                s.shuffle_write_bytes += st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{f.name: getattr(s, f.name) for f in fields(s) if f.name != "children"}
                       for s in self.spans], f)


def install(tracer: Tracer) -> None:
    """Wrap the package's layer boundaries where their callers look
    them up."""
    from aws_cdk_pipelines_datalake_etl_spark import catalog, runner
    from aws_cdk_pipelines_datalake_etl_spark.audit import AuditLog
    from aws_cdk_pipelines_datalake_etl_spark.operators import conform, transform

    runner.conform = tracer.wrap("conform", runner.conform)
    runner.transform = tracer.wrap("transform", runner.transform)
    conform.read_raw = tracer.wrap("csv_source.read", conform.read_raw)
    catalog.upsert_table = tracer.wrap("catalog.upsert", catalog.upsert_table)
    catalog.recover_partitions = tracer.wrap(
        "catalog.recover_partitions", catalog.recover_partitions
    )
    AuditLog.insert_started = tracer.wrap("audit.append", AuditLog.insert_started)
    AuditLog.update_status = tracer.wrap("audit.append", AuditLog.update_status)
    transform.run_sql = tracer.wrap("transform.run_sql", transform.run_sql)
