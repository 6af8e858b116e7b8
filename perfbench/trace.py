"""Spans around the benchmark's calls into the engine's layers.

A span records its name, parent, start and end, and, when the tracer is
on, the Spark work done inside it. Each traced span runs under its own
Spark job group, so the jobs it fires are exactly the group's jobs;
stage counters come from the application status store, which is kept
with ``spark.ui.enabled=false``. Self time is a span's duration minus
the time its child spans cover.

With tracing off a span only times its body: no job groups, no status
store reads, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
            "peak_exec_mem_bytes")


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "child_s", "counters")

    def __init__(self, sid: int, name: str, parent: Span | None):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = self.end = time.perf_counter()
        self.child_s = 0.0
        self.counters: dict[str, int] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        group = f"perfbench-{sp.sid}"
        if self.enabled:
            sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.duration
            if self.enabled:
                sp.counters = self._counters(group)
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            self.spans.append(sp)

    def _counters(self, group: str) -> dict[str, int]:
        """Jobs of one group and the stages they ran. The listener bus
        is drained first: task-end events are delivered asynchronously,
        and an undrained read would make the counts vary run to run."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info is not None else ()):
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                                 st.peakExecutionMemory())
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name,
                    "parent": s.parent.sid if s.parent else None,
                    "start_s": s.start - t0, "end_s": s.end - t0,
                    "self_s": s.self_s, **s.counters,
                }) + "\n")
