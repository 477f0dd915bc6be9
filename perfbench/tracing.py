"""Spans and counters for the traced run, recorded from the benchmark's own
code only.

A span is (id, iteration, name, start, end, parent). Spans of one iteration
share its number. Two kinds of span nest under an iteration:

- time spans wrap a public library function while the iteration's real call
  runs (``Tracer.patched``), so a child lies inside its parent's interval;
- materialization spans time one public call's output written to the
  ``noop`` sink. Spark is lazy, so the materialization of a layer's output
  contains the work of the layers it reads from; those are recorded as its
  children (scan under extract under build) although they ran separately.

Either way a span's self time is its duration minus its direct children's
durations (``stats.self_times``). Spans stay in memory until ``dump``.
Counters ride on the span at whose boundary they were read.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

from stats import skew


@dataclass
class Span:
    id: int
    iteration: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration = -1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), self.iteration, name, time.perf_counter(), parent=parent)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str, fn, parent: Span | None = None) -> Span:
        """Run ``fn`` as a materialization span whose parent is the span
        whose materialization also computes this one's (default: none)."""
        s = Span(len(self.spans), self.iteration, name, time.perf_counter(),
                 parent=parent.id if parent else None)
        self.spans.append(s)
        try:
            fn()
        finally:
            s.end = time.perf_counter()
        return s

    def count(self, **counts) -> None:
        """Attach counters to the innermost open span."""
        self._stack[-1].counts.update(counts)

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[str, str, str]]):
        """Wrap ``module.attr`` in a time span named ``span`` for each
        (module, attr, span) target while the block runs. Library code that
        resolves these names at call time (function-local imports, module
        globals) goes through the wrappers; the originals come back after."""
        saved = []
        try:
            for mod_name, attr, span_name in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(orig, span_name))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) | {"duration": s.duration} for s in self.spans], f)


def noop(df) -> None:
    """Materialize a DataFrame without collecting or storing it."""
    df.write.format("noop").mode("overwrite").save()


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    infos = [i for s in stages if (i := tracker.getStageInfo(s))]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(i.numTasks for i in infos),
        "spark.tasks_failed": sum(i.numFailedTasks for i in infos),
    }


def reduce_skew(sc, group: str) -> float:
    """Largest ÷ median shuffle records read per task in the last reduce
    stage Spark ran under a job group (after AQE coalescing and skew
    splitting), from the application status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    stages = sorted(s for j in tracker.getJobIdsForGroup(group)
                    if (info := tracker.getJobInfo(j)) for s in info.stageIds)
    for sid in reversed(stages):
        tasks = store.taskList(sid, 0, 1 << 20)
        records = []
        for k in range(tasks.size()):
            metrics = tasks.apply(k).taskMetrics()
            if metrics.isDefined():
                records.append(metrics.get().shuffleReadMetrics().recordsRead())
        if sum(records):
            return skew(records)
    return 0.0


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    execs = store.executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def sql_node_metric(spark, after_id: int, node: str, metric: str) -> int:
    """Sum of one SQL metric over every plan node named ``node`` in the SQL
    executions newer than ``after_id``, read from the session status store
    (filled with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    execs = store.executionsList()
    total = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            nd = nodes.apply(n)
            if nd.name() != node:
                continue
            metrics = nd.metrics()
            for m in range(metrics.size()):
                pm = metrics.apply(m)
                v = values.get(pm.accumulatorId())
                if pm.name() == metric and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total
