"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded in the benchmark's own code around each call into a
layer's public functions: name, start, end, parent span and request id.
Each span runs its Spark jobs under its own job group, so the jobs,
tasks and failed tasks of a span are read back from the status tracker,
outside the program. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    request_id: int | None
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it that child spans cover.
    Overlapping children are counted once; a child that runs past its
    parent is clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - covered_length(clipped)
    return out


def metric_name(span_name: str) -> str:
    """Self-time metric of a span: 'posting' -> 'posting.s',
    'incremental.load' -> 'incremental.load_s'."""
    return f"{span_name}_s" if "." in span_name else f"{span_name}.s"


def _materialize(x):
    if isinstance(x, DataFrame):
        x = x.persist()
        x.count()
    return x


@contextmanager
def traced_layers(module, layers: dict[str, str], tracer: "Tracer"):
    """Swap the functions ``module`` calls by global name for wrappers
    that run each under a span named ``layers[name]``. A wrapper first
    materializes its DataFrame arguments (persist plus count), so work
    left pending by the caller's own wiring stays out of the span, then
    materializes the DataFrame it returns inside the span, so the layer
    is timed. The originals are restored on exit."""
    saved = {name: getattr(module, name) for name in layers}

    def wrap(fn, span_name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            args = [_materialize(a) for a in args]
            kwargs = {k: _materialize(v) for k, v in kwargs.items()}
            with tracer.span(span_name):
                return _materialize(fn(*args, **kwargs))

        return wrapper

    for name, span_name in layers.items():
        setattr(module, name, wrap(saved[name], span_name))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


class Tracer:
    """Records spans; ``sc`` (a SparkContext) enables job counters."""

    def __init__(self, sc=None, clock=time.perf_counter) -> None:
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = parent.request_id
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent_id=parent.span_id if parent else None,
            request_id=request_id,
            start=self.clock(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(_group(s), s.name)

    def collect_job_counters(self) -> None:
        """Fill jobs/tasks/failed_tasks on every span not yet counted.
        Call after the spans' actions have returned."""
        if self.sc is None:
            return
        _drain_listener_bus(self.sc)
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.end is None or "jobs" in s.counters:
                continue
            jobs = st.getJobIdsForGroup(_group(s))
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for stage_id in info.stageIds if info else []:
                    si = st.getStageInfo(stage_id)
                    if si is not None:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            s.counters.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.span_id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


def _group(s: Span) -> str:
    return f"perfbench-{s.span_id}"


def _drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Job and stage status reaches the status tracker through Spark's
    asynchronous listener bus; wait until it has caught up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def op_layer_metrics(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer numbers of one operation: self time per span name and
    jobs/tasks/failed tasks per layer, over the spans under ``root``.
    The root's own self time (work between layer calls) is
    ``trace.glue_s``."""
    below = {root.span_id}
    members = []
    for s in spans:  # spans are recorded in start order: parents first
        if s.parent_id in below:
            below.add(s.span_id)
            members.append(s)
    selfs = self_times([root, *members])
    out: dict[str, float] = {"trace.glue_s": selfs[root.span_id]}
    for s in members:
        key = metric_name(s.name)
        out[key] = out.get(key, 0.0) + selfs[s.span_id]
        for k, v in s.counters.items():
            out[f"{s.layer}.{k}"] = out.get(f"{s.layer}.{k}", 0) + v
    return out
