"""Spans around the benchmark's calls into each layer, with Spark
counters read from the driver's status tracker and status store.

Each span runs its Spark jobs under its own job group, so the jobs,
stages, tasks, bytes and executor time it reports are exactly the work
its call caused. Spans stay in memory and are written out once, when
the benchmark ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "executor_run_ms",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """The Spark job group the span's jobs run under."""
        return f"span-{self.span_id}"


class Tracer:
    """Records spans when ``enabled``; a disabled tracer only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            span_id=next(self._ids),
            parent=parent.span_id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            start=time.perf_counter() - self._origin,
        )
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._origin
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sp.counters = group_counters(self.spark, sp.group)
            if parent is not None:
                for k, v in sp.counters.items():
                    parent.counters[k] = parent.counters.get(k, 0) + v
            self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(sp)) + "\n")


@contextmanager
def counted(spark, group: str):
    """Run the body's jobs under ``group`` and fill the yielded dict
    with their counters once the body returns (read outside any timed
    region the caller keeps around the body)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    out: dict[str, int] = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out.update(group_counters(spark, group))


def join_output_rows(spark, group: str, recent: int = 64) -> int:
    """Rows output by the join operators of the SQL executions that ran
    ``group``'s jobs, read from the SQL status store's plan graph and
    metrics (the program's own figure for whatever join it planned).
    Only the ``recent`` newest executions are searched; call it right
    after the span."""
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    count = int(store.executionsCount())
    execs = store.executionsList(max(0, count - recent), recent)
    total = 0
    for i in range(execs.size()):
        ex = execs.apply(i)
        if not any(ex.jobs().contains(j) for j in jobs):
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if "Join" not in node.name() and node.name() != "CartesianProduct":
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                if metric.name() == "number of output rows" and values.contains(metric.accumulatorId()):
                    total += int(values.apply(metric.accumulatorId()).replace(",", ""))
    return total


def group_counters(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks run under ``group``, with the input bytes,
    shuffle-write bytes and executor run time of its completed stages.
    Waits for the listener bus first, so every finished task's metrics
    have reached the status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = dict.fromkeys(COUNTERS, 0)
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_run_ms"] += st.executorRunTime()
    return out
