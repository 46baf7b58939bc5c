"""In-memory spans at the benchmark's calls into each engine layer.

A span records its name, layer, op id, start, end and parent span.
While tracing is on, each span also runs its Spark jobs under a job
group of its own; after a pass, :meth:`Tracer.collect_spark` reads each
group's jobs, stages and task metrics from ``statusTracker`` and the
app status store. A span's self time is its duration minus the part of
it that its child spans cover.

``catalog.load``, ``cache.pin``, ``cache.checkpoint`` and
``cache.release_caches`` are reached from inside the operators, so
:func:`install_layer_wrappers` replaces them with timing wrappers
before the operator modules import them. The wrappers count calls
whether or not tracing is on, so coverage is always visible.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"

# per-stage task metrics summed into each span (status-store getter names)
STAGE_METRICS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "failed_tasks": "numFailedTasks",
    "tasks": "numTasks",
}


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: str | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    """Span recorder; a no-op (beyond call counting) while disabled."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self._stack: list[Span] = []
        self._sc = None
        self._next_id = 0

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, layer: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=self._next_id,
            name=name,
            layer=layer,
            op_id=op_id if op_id is not None else (parent.op_id if parent else None),
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            s.group = f"perfbench-{s.span_id}"
            self._sc.setLocalProperty(JOB_GROUP, s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_GROUP, parent.group if parent else None)

    def collect_spark(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` for spans whose jobs ran under their own
        job group: job, stage and task counts, summed job wall time and
        the summed task metrics of the stages that ran."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in spans:
            if s.group is None or s.spark:
                continue
            agg = Counter()
            for jid in tracker.getJobIdsForGroup(s.group):
                job = store.job(jid)
                agg["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    agg["job_ms"] += done.get().getTime() - sub.get().getTime()
                stage_ids = job.stageIds().iterator()
                while stage_ids.hasNext():
                    stage = store.lastStageAttempt(stage_ids.next())
                    if stage.status().toString() not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its output was reused
                    agg["stages"] += 1
                    for key, getter in STAGE_METRICS.items():
                        agg[key] += getattr(stage, getter)()
            s.spark = dict(agg)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the catalog and cache entry points with spans and call
    counters. Must run before any ``pac_spark.operators`` module is
    imported, because several bind ``pin``/``checkpoint`` at import."""
    import sys

    from pac_spark import cache, catalog

    if any(m.startswith("pac_spark.operators") for m in sys.modules):
        raise RuntimeError("layer wrappers must be installed before operators import")

    def wrap(module, attr: str, span_name: str, layer: str, result_attr=None):
        inner = getattr(module, attr)

        def wrapper(*args, **kwargs):
            tracer.calls[span_name] += 1
            with tracer.span(span_name, layer) as s:
                out = inner(*args, **kwargs)
                if s is not None and result_attr:
                    s.attrs[result_attr] = out
                return out

        wrapper.__wrapped__ = inner
        wrapper.__name__ = inner.__name__
        wrapper.__doc__ = inner.__doc__
        setattr(module, attr, wrapper)

    wrap(catalog, "load", "catalog.load", "catalog")
    wrap(cache, "pin", "cache.pin", "cache")
    wrap(cache, "checkpoint", "cache.checkpoint", "cache")
    wrap(cache, "release_caches", "cache.release", "cache", result_attr="released")
