"""Span tracing with Spark job attribution, from outside the engine.

``Tracer.wrap`` replaces an engine function at the name its caller
resolves (e.g. ``plans.pipeline.write_overwrite``, which pipeline.py
imported from ``sources.writers``) with a wrapper that opens a span.
Every top-level operation (``Tracer.op``) gets its own Spark job group,
and every span sets the job description to its own id while it is the
innermost open span. Spark reads both local properties when a job is
submitted, so each job lands on the innermost span open at its
submission — late stages cannot drift to the next operation, which a
stage-id high-water mark allows.

After each operation, ``collect`` drains the listener bus and charges
each job's completed stages (task time, shuffle read+write bytes,
memory+disk spill) to its span. Spans are kept in memory and written as
JSON lines by ``dump``. The tracer times its own bookkeeping (property
calls, count hooks, collection) as ``overhead_s``: the tracing overhead
of the run, measured where it is spent instead of as the difference of
two noisy passes.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_DESC = "spark.job.description"
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self.captured: list = []  # frames a count hook keeps for later counting
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op, parent.id if parent else None, t)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_DESC, f"span:{s.id}")
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_DESC, f"span:{parent.id}" if parent else None)
            self.overhead_s += time.perf_counter() - s.end

    @contextmanager
    def op(self, name: str):
        """A top-level operation: its own job group, then its spans."""
        if self._stack:
            raise RuntimeError(f"operation {name!r} opened inside span "
                               f"{self._stack[-1].name!r}")
        self._op += 1
        self.sc.setLocalProperty(_GROUP, f"perfbench-op-{self._op}")
        try:
            with self.span(name) as s:
                yield s
        finally:
            t = time.perf_counter()
            self.sc.setLocalProperty(_GROUP, None)
            self.collect(self._op)
            self.overhead_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Patch ``owner.attr`` so each call runs inside span ``name``.
        ``count(span, args, kwargs, result, since)`` may add counts to the
        span after the call returns; ``since`` is the call's start as
        epoch seconds, for comparing with file times."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                since = time.time()
                out = fn(*args, **kwargs)
                if count is not None:
                    t = time.perf_counter()
                    count(s, args, kwargs, out, since)
                    self.overhead_s += time.perf_counter() - t
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # ------------------------------------------------- job attribution
    def collect(self, op: int) -> None:
        """Charge the jobs of operation ``op`` to their spans."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        by_id = {s.id: s for s in self.spans if s.op == op}
        for job_id in sorted(tracker.getJobIdsForGroup(f"perfbench-op-{op}")):
            job = store.job(job_id)
            desc = job.description()
            desc = str(desc.get()) if desc.isDefined() else ""
            span = by_id.get(int(desc[5:])) if desc.startswith("span:") else None
            if span is None:  # a job submitted outside any span of the op
                span = by_id[min(by_id)]
            span.jobs += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                for st in self._stage_attempts(store, sid):
                    if str(st.status()) not in ("COMPLETE", "FAILED"):
                        continue
                    self._seen_stages.add(sid)
                    span.task_s += st.executorRunTime() / 1000.0
                    span.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    span.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def _stage_attempts(self, store, stage_id: int):
        """Every attempt of one stage in the app status store."""
        seq = store.stageData(stage_id, False, self._no_status, False,
                              self._no_quantiles)
        return [seq.apply(i) for i in range(seq.size())]

    # ---------------------------------------------------------- output
    def self_times(self, op: int | None = None) -> dict[int, float]:
        """span id → wall minus the walls of its direct children."""
        spans = [s for s in self.spans if op is None or s.op == op]
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.wall
        return {s.id: s.wall - child[s.id] for s in spans}

    def by_name(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name: summed self time and the jobs charged to it."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        selft = self.self_times()
        for s in self.spans:
            if s.op not in ops:
                continue
            agg = out[s.name]
            agg["self_s"] += selft[s.id]
            agg["calls"] += 1
            agg["jobs"] += s.jobs
            agg["task_s"] += s.task_s
            agg["shuffle_bytes"] += s.shuffle_bytes
            agg["spill_bytes"] += s.spill_bytes
            for k, v in s.counts.items():
                agg[k] += v
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["wall"] = s.wall
                fh.write(json.dumps(rec) + "\n")
