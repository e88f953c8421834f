"""Spans at the package's layer boundaries, each charged with the Spark work
it caused.

A span records name, start, end and parent. While a span is open, Spark jobs
submitted from the driver thread carry the span's own job group, so the
jobs, stages, tasks, shuffle bytes, spill and executor CPU that Spark's
status store keeps for those jobs belong to exactly one span. A parent's
inclusive cost is its own plus its descendants'; its self time is its
duration minus the time its children cover.

Spans are kept in memory. Stage metrics are read when a top-level span
closes (so Spark's job/stage retention limit never drops them) and the
whole trace is written out at the end of the run. The status store is
filled even with `spark.ui.enabled=false`.

With tracing disabled `span()` is a no-op context, so the untraced run
executes the same benchmark code without any of this bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from typing import Optional

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "executor_cpu_ns": "executorCpuTime",
    "executor_run_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_rows": "inputRecords",
    "output_rows": "outputRecords",
    "tasks": "numCompleteTasks",
}
COUNTERS = ("jobs", "stages", *STAGE_FIELDS)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "own", "attrs")

    def __init__(self, sid: int, name: str, parent: Optional["Span"], group: str):
        self.id = sid
        self.name = name
        self.parent = parent
        self.group = group
        self.start = time.perf_counter()
        self.end: Optional[float] = None
        self.own = dict.fromkeys(COUNTERS, 0)
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0
        self._children: dict[int, list[Span]] = {}

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def paused(self):
        """Run set-up and checks without recording spans."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent, f"perfbench-span-{sid}")
        self.spans.append(s)
        self._children.setdefault(id(parent), []).append(s)
        self._stack.append(s)
        self._set_group(s.group)
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            if parent is None:
                t1 = time.perf_counter()
                self._charge(self._subtree(s))
                self.bookkeeping_s += time.perf_counter() - t1

    def _set_group(self, group: Optional[str]) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def _subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self._children.get(id(s), []):
            out.extend(self._subtree(c))
        return out

    def _charge(self, spans: list[Span]) -> None:
        """Read each span's jobs and stages from Spark's status store."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_filter = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        tracker = sc.statusTracker()
        for s in spans:
            stage_ids = set()
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.own["jobs"] = len(job_ids)
            for j in job_ids:
                seq = store.job(j).stageIds()
                stage_ids.update(seq.apply(i) for i in range(seq.size()))
            for sid in stage_ids:
                try:
                    attempts = store.stageData(sid, False, no_filter, False, no_quantiles)
                except Py4JJavaError:  # never submitted: a skipped stage
                    continue
                ran = False
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    for key, getter in STAGE_FIELDS.items():
                        s.own[key] += int(getattr(st, getter)())
                s.own["stages"] += ran

    # -- aggregation -----------------------------------------------------

    def inclusive(self, s: Span) -> dict:
        tot = dict(s.own)
        for c in self._children.get(id(s), []):
            for k, v in self.inclusive(c).items():
                tot[k] += v
        return tot

    def self_seconds(self, s: Span) -> float:
        return s.seconds - sum(c.seconds for c in self._children.get(id(s), []))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def write(self, path: str) -> None:
        rows = []
        for s in self.spans:
            if s.end is None:
                continue
            rows.append(
                {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent.id if s.parent else None,
                    "start_s": s.start,
                    "end_s": s.end,
                    "self_s": self.self_seconds(s),
                    "own": s.own,
                    "attrs": s.attrs,
                }
            )
        with open(path, "w") as f:
            json.dump({"bookkeeping_s": self.bookkeeping_s, "spans": rows}, f)


# -- layer instrumentation -------------------------------------------------

def instrument(tracer: Tracer) -> None:
    """Wrap the package's layer functions that the engine calls internally
    (the benchmark's own calls are wrapped at the call site), for the rest
    of the process."""
    import arrow_supercluster_spark.engine as engine
    from arrow_supercluster_spark.operators import filters
    from arrow_supercluster_spark.operators import grid_cluster as gc

    targets = [
        (gc, "prepare_points", "grid_cluster.prepare_points"),
        (gc, "cell_agg", "grid_cluster.cell_agg"),
        (gc, "materialize_from_leaf", "grid_cluster.materialize_from_leaf"),
        (gc, "finalize_clusters", "grid_cluster.finalize_clusters"),
        (filters, "bbox_predicate", "grid_cluster.filters.bbox_predicate"),
        (engine, "bbox_predicate", "grid_cluster.filters.bbox_predicate"),
        (engine.ArrowClusterEngine, "load", "engine.load"),
    ]
    for owner, attr, name in targets:
        orig = getattr(owner, attr)

        def wrapped(*a, _orig=orig, _name=name, **kw):
            with tracer.span(_name):
                return _orig(*a, **kw)

        setattr(owner, attr, functools.wraps(orig)(wrapped))
