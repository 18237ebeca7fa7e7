"""Spans and engine counters recorded from outside the engine.

A :class:`Tracer` records spans (name, start, end, parent, op id) around
calls into the engine's public functions, and attaches to each span the
Spark status-store counters of the jobs that ran inside it. New jobs are
found by job id (every id above the highest one seen at span start), never
by list length: the store keeps only the last ``spark.ui.retainedJobs``
jobs, and one run can exceed that.

:func:`instrument` swaps the engine functions each layer exposes for
span-recording wrappers, for the rest of the process.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
    "output_records",
    "output_bytes",
)


class StatusStore:
    """Counter deltas from Spark's status store (works with the UI off)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def max_job_id(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def counters_since(self, job_id: int) -> dict[str, float]:
        """Totals over the jobs with an id above ``job_id``."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        stages: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(None):
            if jid <= job_id:
                continue
            out["jobs"] += 1
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            st = self._store.lastStageAttempt(sid)
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_records"] += st.inputRecords()
            out["output_records"] += st.outputRecords()
            out["output_bytes"] += st.outputBytes()
        return out


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span log; written out once, at the end of the run."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.spans: list[Span] = []
        self.op = 0
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        first_job = self.store.max_job_id()
        sp = Span(name, self.op, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.self_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.attrs.update(self.store.counters_since(first_job))
            self.self_s += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


class Instrumentation:
    """Span wrappers installed over engine functions.

    Wrappers record into ``self.tracer`` and pass straight through while it
    is None, so objects built while instrumented (a job runner holding a
    plan builder) stay valid when tracing is switched on or off.
    """

    def __init__(self) -> None:
        self.tracer: Tracer | None = None

    def _wrapper(self, orig, span: str, after=None):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.tracer is None:
                return orig(*args, **kwargs)
            t_wall = time.time()
            with self.tracer.span(span) as sp:
                out = orig(*args, **kwargs)
                if after:
                    after(sp, t_wall, *args, **kwargs)
                return out

        return wrapper

    def wrap_function(self, module: str, attr: str, span: str, after=None) -> None:
        """Replace ``module.attr`` in every loaded engine module that
        imported it by name."""
        orig = getattr(sys.modules[module], attr)
        wrapper = self._wrapper(orig, span, after)
        for name, mod in list(sys.modules.items()):
            if name.split(".")[0] in ("etl_portofolio_spark", "__spark_entry__"):
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)

    def wrap_method(self, cls: type, attr: str, span: str) -> None:
        setattr(cls, attr, self._wrapper(getattr(cls, attr), span))


def instrument() -> Instrumentation:
    """Wrap the public entry point of each layer the workloads reach."""
    # load every module that imports a wrapped function by name
    import __spark_entry__  # noqa: F401
    import etl_portofolio_spark.fixtures  # noqa: F401
    from etl_portofolio_spark.jobs import ingest_jdbc, ingest_xml, process_daily  # noqa: F401
    from etl_portofolio_spark.sources.jdbc import JdbcWindowSource
    from etl_portofolio_spark.streaming.incremental import IncrementalRunner

    ins = Instrumentation()
    ins.wrap_function("etl_portofolio_spark.catalog", "load_table", "catalog.load_table")
    ins.wrap_function("etl_portofolio_spark.fixtures", "ensure_fixture", "fixtures.ensure")
    ins.wrap_function(
        "etl_portofolio_spark.sinks.writer", "write_partitioned", "sinks.writer.write",
        after=_count_written_files,
    )
    ins.wrap_function(
        "etl_portofolio_spark.plans.reference_queries",
        "q_flagship_throughput_pivot",
        "plans.flagship_build",
    )
    ins.wrap_method(IncrementalRunner, "run_window", "streaming.incremental.window")
    ins.wrap_method(JdbcWindowSource, "read_window", "sources.jdbc.read_window")
    return ins


def _count_written_files(sp: Span, t_wall: float, df, path: str, *args, **kwargs) -> None:
    """Data files under the target written since the call began."""
    n = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        n += sum(
            1 for f in files
            if not f.startswith((".", "_"))
            and os.path.getmtime(os.path.join(dirpath, f)) >= t_wall
        )
    sp.attrs["files"] = n
