"""Spans around the benchmark's calls into each layer, with Spark's own
counters attached.

A span is (name, start, end, parent).  While a span is open every Spark job
the calling thread starts is tagged with the span's job group, so the jobs,
stages, task time, shuffle, spill and GC that the layer caused are read back
from the status tracker and the status store when the span is resolved.
Spans stay in memory; `Tracer.dump` writes them out once the run is over.

`NullTracer` has the same interface and does nothing, so the untraced run
executes exactly the same benchmark code minus the bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False
    self_s = 0.0

    @contextmanager
    def span(self, name: str):
        yield {}

    def resolve(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._pending: list[dict] = []
        self._opened = 0
        self.self_s = 0.0           # time spent in the tracer's own calls

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self._open[-1] if self._open else None
        self._opened += 1
        rec = {"id": self._opened, "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{self._opened}"}
        self.sc.setJobGroup(rec["group"], name)
        self._open.append(rec)
        self.self_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self._pending.append(rec)
            self.self_s += time.perf_counter() - t

    def resolve(self) -> None:
        """Attach Spark counters to the spans closed since the last call.
        Called between operations, outside their timing, so the status
        store still holds every job and stage."""
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            c = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
                 "output_bytes": 0}
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = self.store.lastStageAttempt(sid)
                    c["tasks"] += st.numCompleteTasks()
                    c["task_s"] += st.executorRunTime() / 1000.0
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
                    c["gc_ms"] += st.jvmGcTime()
                    c["output_bytes"] += st.outputBytes()
            rec["counters"] = c
            self.spans.append(rec)
        self._pending = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
