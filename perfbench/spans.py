"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded around calls into the engine's public functions by
wrapping them at run time (no source edits): each span keeps its name,
start, end, parent span and op id. A span's self time is its duration
minus the time its child spans cover. Spark job and task counts come
from one job group per op, read back through ``statusTracker``.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        #: [name, start, end, parent index or -1, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        #: wall spent inside the tracer's own bookkeeping calls
        self.overhead_s = 0.0

    # --- spans -----------------------------------------------------------
    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        if idx in self._stack:
            self._stack.remove(idx)

    def wrap(self, owner, attr: str, name: str, after=None, generator=False) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``after(args,
        kwargs, result)`` runs outside the span to record counts."""
        fn = getattr(owner, attr)
        self._restore.append((owner, attr, fn))
        tracer = self

        if generator:
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                def run():
                    idx = tracer.open(name)
                    try:
                        yield from fn(*args, **kwargs)
                    finally:
                        tracer.close(idx)
                return run()
        else:
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                idx = tracer.open(name)
                try:
                    result = fn(*args, **kwargs)
                finally:
                    tracer.close(idx)
                if after is not None:
                    t0 = time.perf_counter()
                    after(args, kwargs, result)
                    tracer.overhead_s += time.perf_counter() - t0
                return result

        setattr(owner, attr, wrapped)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # --- aggregation -------------------------------------------------------
    def self_times(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """name -> total self seconds of the spans in spans[lo:hi] that
        belong to an op."""
        spans = self.spans[lo:hi]
        child = [0.0] * len(spans)
        for _name, start, end, parent, _op in spans:
            if parent >= lo and end is not None:
                child[parent - lo] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _parent, op) in enumerate(spans):
            if end is not None and op is not None:
                out[name] += (end - start) - child[i]
        return dict(out)

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of recording one span (open + close), used to
        report the tracer's own share of a traced run."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            probe.close(probe.open("probe"))
        return (time.perf_counter() - t0) / n


class JobCounter:
    """Per-op Spark job and task counts from a job group per op."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.tracer = tracer

    def group(self, op_id: int) -> str:
        return f"perfbench-op-{op_id}"

    def start(self, op_id: int, kind: str) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(self.group(op_id), kind)
        self.tracer.overhead_s += time.perf_counter() - t0

    def jobs(self, op_id: int) -> list[int]:
        t0 = time.perf_counter()
        ids = list(self.tracker.getJobIdsForGroup(self.group(op_id)))
        self.tracer.overhead_s += time.perf_counter() - t0
        return ids

    def counts(self, op_id: int) -> tuple[int, int]:
        """(jobs, tasks) launched by the op's job group."""
        t0 = time.perf_counter()
        ids = list(self.tracker.getJobIdsForGroup(self.group(op_id)))
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
        self.tracer.overhead_s += time.perf_counter() - t0
        return len(ids), tasks

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
