"""Spans, self times and the Spark-side counters the traced run reads.

A span is one timed call into a layer of the program, recorded from the
benchmark's side of the call: ``workload → pass → op →
construct | plan | exec | pull | typedetect | push``. Spans stay in
memory (:class:`Tracer`) and are written out once, when the run ends.

A span's *self time* is its duration minus the part of its interval
that its child spans cover (:func:`self_times`).

:class:`SparkProbe` reads what Spark itself counts: job ids from the
DAG scheduler (exact, including jobs launched from helper threads that
carry no job group), stage and task counts from
``sparkContext.statusTracker()``, Catalyst phase times from the tracker
of the action's own Dataset, shuffle/spill bytes from the status store
through ``bench._stage_metrics``, input bytes from the driver's
executor summary, and GC time from the JVM's GC MXBeans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"header": header, "spans": [asdict(s) for s in self.spans]}, f
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - _covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def total_time(spans: list[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


class SparkProbe:
    """Reads Spark's own counters around a span. JVM access goes through
    py4j, so every read costs a round trip: the traced run pays it, the
    untraced run never constructs a probe."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._gc_beans = (
            self.sc._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status tracker and store reflect every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_counts(self, first: int, end: int) -> dict[str, int]:
        """Jobs, stages and tasks of job ids ``[first, end)``; call after
        :meth:`drain`. Stages skipped because their shuffle output was
        reused are not counted."""
        stages = set()
        tasks = 0
        for jid in range(first, end):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None and sid not in stages and st.numCompletedTasks:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"jobs": end - first, "stages": len(stages), "tasks": tasks}

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Phase times (ms) and physical-plan size of ``df``'s own
        QueryExecution; forces physical planning if not done yet."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for p in SparkProbe.PHASES:
            opt = phases.get(p)
            out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        out["nodes"] = float(
            sum(1 for line in plan.treeString().splitlines() if line.strip())
        )
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def input_bytes(self) -> int:
        execs = self._jsc.statusStore().executorList(True)
        return sum(int(execs.apply(i).totalInputBytes()) for i in range(execs.size()))

    def stage_bytes(self) -> dict[str, int]:
        from bench import _stage_metrics

        m = _stage_metrics(self.spark) or {}
        return {
            "shuffle_write": int(m.get("shuffle_write", 0)),
            "spill": int(m.get("disk_spill", 0)),
        }
