"""Spans around the benchmark's calls into the package, with Spark's own
counters for each span.

A span records name, start, end, parent span and run id.  Spans stay in
memory and are written out when the run ends.  While a span is open the
benchmark sets a Spark job group named after the span id, so the jobs a
call schedules (and their stages, tasks, executor run time, shuffle and
spill bytes) are attributed from the status tracker and the application
status store when the span closes.  A span's self time is its duration
minus the part of its interval that its child spans cover.

``Tracer(spark=None)`` gives spans without Spark counters; while
``enabled`` is False no span is recorded, so untraced rounds pay only
a clock read per call.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_FIELDS = ("span_id", "name", "layer", "parent", "run_id", "start", "end", "counters")
COUNTER_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part covered by its children
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.span_id: s.duration - covered(kids.get(s.span_id, [])) for s in spans}


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every queued event.
    The status stores are filled from that bus asynchronously, so a read
    right after an action can miss its last job and stage events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class SparkCounters:
    """Jobs, stages, tasks and task metrics of one job group, read from
    the status tracker and the application status store over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def for_group(self, group: str) -> dict:
        drain_listener_bus(self.spark)
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTER_FIELDS, 0)
        stages = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped stage (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
        return out


class Tracer:
    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.round_spans = 0  # spans[:round_spans] belong to the timed rounds
        self._spark = spark
        self._counters = SparkCounters(spark) if spark is not None else None

    @contextmanager
    def span(self, name: str, layer: str):
        """Open a span; yields it (``None`` when tracing is off)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        group = f"{self.run_id}-span-{s.span_id}"
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name, False)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                # jobs of child spans carry their own groups, so a
                # span's counters are its self counters
                s.counters = self._counters.for_group(group)
                if parent is not None:
                    sc.setJobGroup(f"{self.run_id}-span-{parent.span_id}", parent.name, False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def self_time_by_layer(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
        return out

    def counters_total(self, spans: list[Span] | None = None) -> dict:
        tot = dict.fromkeys(COUNTER_FIELDS, 0)
        for s in self.spans if spans is None else spans:
            for k, v in s.counters.items():
                tot[k] += v
        return tot

    def counters_for(self, name: str) -> dict:
        """Summed self counters of every span called ``name``."""
        tot = dict.fromkeys(COUNTER_FIELDS, 0)
        for s in self.spans:
            if s.name == name:
                for k, v in s.counters.items():
                    tot[k] += v
        return tot

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        """One JSON object per span, in the order the spans closed."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), sort_keys=True) + "\n")
