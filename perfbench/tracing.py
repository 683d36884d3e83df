"""In-memory spans around the benchmark's calls into the engine.

A span records a name, start, end, parent span and run id, plus counters.
With ``spark=True`` it also carries the Spark execution done inside it:
jobs, stages, tasks, executor run/CPU time and bytes, read from the
driver's status store (works with the UI disabled). ``catalyst`` adds the
QueryPlanningTracker phases of a DataFrame the span executed.

Tracing is off unless enabled: a disabled tracer hands out one shared
no-op span, so the untraced run executes the same code with no hooks.
The tracer times its own hooks (``overhead_s``), which is the cost tracing
adds to the traced run.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

#: Stage counters summed per span: status-store field -> (counter, scale).
_STAGE_FIELDS = {
    "numCompleteTasks": ("spark.tasks", 1),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "outputBytes": ("spark.output_mb", 1 / 2**20),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
}
SPARK_COUNTERS = ("spark.jobs", "spark.stages") + tuple(
    c for c, _ in _STAGE_FIELDS.values()
)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class _NullSpan:
    def set(self, **counters) -> None:
        pass

    def add(self, **counters) -> None:
        pass


_NULL = _NullSpan()


class Span:
    __slots__ = ("id", "name", "parent", "run_id", "start", "end", "counters")

    def __init__(self, sid, name, parent, run_id, start, counters):
        self.id, self.name, self.parent, self.run_id = sid, name, parent, run_id
        self.start, self.end, self.counters = start, None, dict(counters)

    def set(self, **counters) -> None:
        self.counters.update(counters)

    def add(self, **counters) -> None:
        for k, v in counters.items():
            self.counters[k] = self.counters.get(k, 0) + v

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "run_id": self.run_id, "start": self.start, "end": self.end,
            "counters": self.counters,
        }


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.spark = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, spark: bool = False, **counters):
        if not self.enabled:
            yield _NULL
            return
        h0 = time.perf_counter()
        marker = self._spark_marker() if spark else None
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent, self.run_id, 0.0, counters)
        self._stack.append(s.id)
        s.start = time.perf_counter()
        self.overhead_s += s.start - h0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if marker is not None:
                s.counters.update(self._spark_delta(marker))
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    def catalyst(self, span, df) -> None:
        """Add the planning-tracker phase times of an executed frame."""
        if not self.enabled:
            return
        h0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for p in CATALYST_PHASES:
            opt = phases.get(p)
            ms = opt.get().endTimeMs() - opt.get().startTimeMs() if opt.isDefined() else 0
            span.add(**{f"catalyst.{p}_s": ms / 1e3})
        self.overhead_s += time.perf_counter() - h0

    # -- Spark status store -------------------------------------------------
    def _status(self):
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # stage completion reaches the status store through the listener
        # bus; drain it so a span sees every stage that ran inside it
        jsc.listenerBus().waitUntilEmpty()
        return sc, jsc.statusStore()

    def _spark_marker(self) -> tuple[int, int]:
        sc, store = self._status()
        stages = store.stageList(
            sc._jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(sc._gateway.jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        jobs = store.jobsList(None)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def _spark_delta(self, marker: tuple[int, int]) -> dict:
        sc, store = self._status()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        stages = store.stageList(
            sc._jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(sc._gateway.jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        # newest first: stop at the first stage that predates the span
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= marker[0]:
                break
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for field, (name, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(st, field)() * scale
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= marker[1]:
                break
            out["spark.jobs"] += 1
        return out

    # -- output -------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict()) + "\n")
