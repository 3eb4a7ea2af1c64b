"""Tracing for the per-layer run: spans around the engine's public calls,
Spark jobs tagged with the span that submitted them, and Spark's own
per-stage metrics read back from the status store.

Nothing in the engine changes.  :meth:`Tracer.install` replaces a fixed
list of public functions and methods with wrappers that record a span
(name, start, end, parent, trace id) and, for calls that run Spark jobs,
set the Spark job group in the calling thread for the duration of the call.
Job-group properties are thread-local and pool threads do not inherit them,
so a wrapped call made from the pipeline's sink pool tags its own jobs;
jobs that no span tagged are reported as untagged, never dropped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

# (module, owner attribute or None, function name, span name, runs Spark jobs)
TARGETS: list[tuple[str, str | None, str, str, bool]] = [
    ("influxer_spark.pipeline", None, "run_pipeline", "pipeline.run_pipeline", True),
    ("influxer_spark.pipeline", None, "refresh_pipeline", "pipeline.refresh_pipeline", True),
    ("influxer_spark.catalog", "TableCatalog", "write_partitions", "catalog.write_partitions", True),
    ("influxer_spark.catalog", "TableCatalog", "read_manifest", "catalog.read_manifest", False),
    ("influxer_spark.catalog", "TableCatalog", "committed_partitions", "catalog.committed_partitions", False),
    ("influxer_spark.catalog", "TableCatalog", "read_partitions_with_key", "catalog.read_partitions_with_key", True),
    ("influxer_spark.catalog", "TableCatalog", "drop_partitions", "catalog.drop_partitions", False),
    ("influxer_spark.catalog", "TableCatalog", "set_table_property", "catalog.set_table_property", False),
    ("influxer_spark.catalog", "TableCatalog", "amend_partition_counters", "catalog.amend_partition_counters", False),
    ("influxer_spark.influxql_frontend", None, "parse", "influxql.parse", False),
    ("influxer_spark.influxql_frontend", "InfluxQLEngine", "execute", "influxql.execute", True),
    ("influxer_spark.operators.retention", None, "apply_retention", "retention.apply_retention", False),
]
# every public query.read_* function is wrapped too (see install)
QUERY_MODULE = "influxer_spark.query"
# catalog calls that commit a snapshot
COMMIT_SPANS = (
    "catalog.write_partitions", "catalog.drop_partitions",
    "catalog.set_table_property", "catalog.amend_partition_counters",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: str | None = None
    group: str | None = None  # Spark job group, when the call runs jobs
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    group: str | None
    run_ms: int = 0  # executor run time summed over the job's stages
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    missing_stages: int = 0  # stage ids the status store could not return


@dataclass
class Window:
    """What Spark ran between two :meth:`Tracer.mark` calls, seen twice:
    through the job list (per job, with its group) and through the stage
    list (every stage created in the window), so each can check the other."""

    jobs: list[Job]
    job_ids: int  # job ids the scheduler handed out in the window
    stage_run_s: float  # executor run time of the window's stages


class Tracer:
    """Spans and Spark job tags for one process.  Create one per run and
    pass it to the workload; install/uninstall bracket the traced part."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.trace_id: str | None = None
        self.py4j_calls = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs: Any) -> Iterator[Span]:
        """Record a span; with ``jobs``, tag the Spark jobs this thread
        submits inside it with the span's own job group."""
        stack = self._stack()
        # a pool thread's first span hangs off the main thread's open span
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sp = Span(next(self._ids), name, 0.0, parent=parent.id if parent else None,
                  trace=self.trace_id, attrs=attrs)
        saved = None
        if jobs:
            sp.group = f"perfbench-{sp.id}"
            saved = self._set_group(sp.group, name)
        stack.append(sp)
        calls0 = self.py4j_calls
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.attrs["py4j"] = self.py4j_calls - calls0
            stack.pop()
            if jobs:
                self._restore_group(saved)
            with self._lock:
                self.spans.append(sp)

    def _set_group(self, group: str, desc: str):
        self._local.quiet = True
        try:
            keys = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")
            saved = {k: self.sc.getLocalProperty(k) for k in keys}
            self.sc.setJobGroup(group, desc)
            return saved
        finally:
            self._local.quiet = False

    def _restore_group(self, saved) -> None:
        self._local.quiet = True
        try:
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
        finally:
            self._local.quiet = False

    @contextlib.contextmanager
    def trace(self, trace_id: str) -> Iterator[None]:
        """Give every span opened inside the block this trace id."""
        prev, self.trace_id = self.trace_id, trace_id
        try:
            yield
        finally:
            self.trace_id = prev

    # -- wrappers --------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, fn_name, span_name, jobs in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            self._patch(owner, fn_name, span_name, jobs)
        query = importlib.import_module(QUERY_MODULE)
        for fn_name in sorted(vars(query)):
            if fn_name.startswith("read_") and callable(getattr(query, fn_name)):
                self._patch(query, fn_name, f"query.{fn_name}", True)
        self._patch_py4j()

    def _patch(self, owner: Any, fn_name: str, span_name: str, jobs: bool) -> None:
        orig = owner.__dict__[fn_name] if isinstance(owner, type) else getattr(owner, fn_name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = {}
            if span_name.startswith("catalog."):
                i = 2 if fn_name in ("write_partitions", "read_partitions_with_key") else 1
                table = args[i] if len(args) > i else kwargs.get("name")
                if table is not None:
                    attrs["table"] = table
            with tracer.span(span_name, jobs=jobs, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, fn_name, wrapper)
        self._patches.append((owner, fn_name, orig))

    def _patch_py4j(self) -> None:
        """Count driver→JVM round trips made by the engine (the tracer's
        own job-group calls are excluded)."""
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if not getattr(tracer._local, "quiet", False):
                tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._patches.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, name)  # instance attribute shadowing the method
            else:
                setattr(owner, name, orig)
        self._patches.clear()

    # -- Spark's view ----------------------------------------------------

    def mark(self) -> tuple[int, int]:
        """The highest job and stage ids the status store knows (-1 before
        any); a later :meth:`window` returns what ran after it."""
        jobs = max((j.jobId() for j in self._jobs_java()), default=-1)
        stages = max((st.stageId() for st in self._stages_java()), default=-1)
        return jobs, stages

    def _jobs_java(self) -> list:
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        return list(conv.asJava(store.jobsList(None)))

    def _stages_java(self) -> list:
        """Every attempt of every stage, from the store's stage list."""
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        defaults = [getattr(store, f"stageList$default${k}")() for k in range(2, 6)]
        return list(conv.asJava(store.stageList(None, *defaults)))

    def window(self, mark: tuple[int, int]) -> Window:
        """Jobs and stages that started after ``mark``, up to now."""
        job_mark, stage_mark = mark
        now_job, _ = self.mark()
        stage_ms = sum(st.executorRunTime() for st in self._stages_java()
                       if st.stageId() > stage_mark)
        return Window(self.jobs(job_mark, now_job), now_job - job_mark,
                      stage_ms / 1000.0)

    def jobs(self, after: int, upto: int) -> list[Job]:
        """Jobs with ``after < id <= upto`` and their stage metrics.  A
        stage skipped because an earlier job computed its output carries
        no metrics, so summing stages never counts work twice; a stage the
        store cannot return is counted in ``missing_stages``."""
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        out = []
        for j in self._jobs_java():
            jid = j.jobId()
            if not after < jid <= upto:
                continue
            g = j.jobGroup()
            job = Job(jid, g.get() if g.isDefined() else None)
            for sid in conv.asJava(j.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted: reported, not hidden
                    job.missing_stages += 1
                    continue
                job.run_ms += st.executorRunTime()
                job.gc_ms += st.jvmGcTime()
                job.shuffle_read += st.shuffleReadBytes()
                job.shuffle_write += st.shuffleWriteBytes()
                job.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.append(job)
        return sorted(out, key=lambda x: x.id)

    def measure_jobs(self, fn: Callable[[], Any]) -> tuple[Any, float, list[Job]]:
        """Run ``fn``; return its result, wall seconds and the jobs it ran."""
        mark = self.mark()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        return out, wall, self.window(mark).jobs


def executor_s(jobs: list[Job]) -> float:
    return sum(j.run_ms for j in jobs) / 1000.0


def spans_named(spans: list[Span], prefix: str) -> list[Span]:
    return [s for s in spans if s.name.startswith(prefix)]


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s.id] = s.seconds - covered
    return out


def span_summary(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total and self seconds, and the executor
    seconds, GC, shuffle-read and spill of the jobs it tagged."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        by_group.setdefault(j.group or "", []).append(j)
    selfs = self_seconds(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {
            "calls": 0, "total_s": 0.0, "self_s": 0.0, "executor_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        })
        row["calls"] += 1
        row["total_s"] += s.seconds
        row["self_s"] += selfs[s.id]
        for j in by_group.get(s.group or "\0", []):
            row["executor_s"] += j.run_ms / 1000.0
            row["gc_s"] += j.gc_ms / 1000.0
            row["shuffle_read_bytes"] += j.shuffle_read
            row["spill_bytes"] += j.spill
    untagged = [j for j in jobs if j.group is None]
    if untagged:
        out["(untagged jobs)"] = {
            "calls": len(untagged), "total_s": 0.0, "self_s": 0.0,
            "executor_s": executor_s(untagged),
            "gc_s": sum(j.gc_ms for j in untagged) / 1000.0,
            "shuffle_read_bytes": sum(j.shuffle_read for j in untagged),
            "spill_bytes": sum(j.spill for j in untagged),
        }
    return out
