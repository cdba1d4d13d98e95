"""Spans, Spark job counters and executed-plan SQL metrics for the traced run.

Spans are recorded around the benchmark's own calls into the pipeline's
layers; nothing inside the package is instrumented. Spark's side of each
layer comes from outside the package: job/stage/task counts from the job
group the span sets (``statusTracker``), and per-node SQL metrics from the
executed plan of the layer's persisted output.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it that its children cover.

    Overlapping children count once, and a child that outlives its parent
    counts only inside the parent's interval."""
    cuts = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in cuts:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return span.duration - covered


class Tracer:
    """Records spans in memory; each span runs its Spark jobs under its own
    job group so its job count excludes its children's."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_id}/{span.span_id}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0, 0.0, None if parent is None else parent.span_id, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(sp))
        sp.start = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))
            sp.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(self._group(sp)))

    def to_json(self) -> list[dict]:
        return [
            {**asdict(s), "duration": s.duration, "self": self_time(s, self.spans)}
            for s in self.spans
        ]


def job_counts(sc, job_ids) -> dict[str, int]:
    """Jobs, distinct stages that ran tasks, and tasks completed."""
    st = sc.statusTracker()
    stages: dict[int, int] = {}
    for jid in job_ids:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numCompletedTasks > 0:
                stages[sid] = sinfo.numCompletedTasks
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": sum(stages.values())}


_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(jdf) -> list[tuple[str, dict[str, float]]]:
    """``(node name, {metric: value})`` for the executed plan of a DataFrame's
    own layer, with timings in seconds.

    A persisted DataFrame's plan is an ``InMemoryTableScan``; the walk enters
    the plan that built that cache, and inside it lists reads of earlier
    persisted layers without entering them, so each layer's metrics count
    once. AQE wrappers and query stages are walked through; a reused
    exchange is listed without its child, whose metrics belong to the
    exchange it reuses."""
    out: list[tuple[str, dict[str, float]]] = []

    def metrics(node) -> dict[str, float]:
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            vals[kv._1()] = m.value() * _UNIT_SCALE.get(m.metricType(), 1)
        return vals

    def walk(node, enter_cache: bool) -> None:
        name = node.nodeName()
        if name == "InMemoryTableScan":
            out.append((name, metrics(node)))
            if enter_cache:
                walk(node.relation().cachedPlan(), False)
            return
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), enter_cache)
            return
        if name.endswith("QueryStage"):
            walk(node.plan(), enter_cache)
            return
        out.append((name, metrics(node)))
        if name.startswith("Reused"):
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), enter_cache)

    walk(jdf.queryExecution().executedPlan(), True)
    return out


def metric_sum(nodes, node_prefix: str, key: str) -> float:
    return sum(m.get(key, 0.0) for name, m in nodes if name.startswith(node_prefix))
