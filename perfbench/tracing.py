"""Spans around the benchmark's calls into the engine, plus the Spark work
each span caused.

A span records name, start, end, parent and run id, and is kept in memory
until :meth:`Tracer.finish`, which writes every span out as JSON. Spark
jobs and stages are attributed to spans AFTER the run, from Spark's
AppStatusStore (the same store ``tools/scale_jobs.py`` reads): each job and
stage carries the wall-clock time the scheduler submitted it, and goes to
the innermost span open at that time. Nothing is queried from the JVM while
spans are open, so tracing adds no Spark round trips to the measured calls.

With tracing off, :meth:`Tracer.span` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

#: per-span counters filled in from the status store
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        # foreachBatch callbacks run on a py4j thread while the main thread
        # waits inside its own span; the single client keeps them sequential,
        # so one shared stack gives every span its causing parent
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "run_id": self.run_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(rec["id"])

    # -- after the run -------------------------------------------------------

    def attribute_spark(self, spark) -> None:
        """Fill each span's own Spark counters (``self_<counter>``) from the
        status store, then the inclusive ones (span plus descendants)."""
        for s in self.spans:
            for c in COUNTERS:
                s[f"self_{c}"] = 0
        if not self.spans:
            return
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            t = j.submissionTime()
            s = self._innermost(t.get().getTime() / 1000.0) if t.isDefined() else None
            if s is not None:
                s["self_jobs"] += 1
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages = store.stageList(None, *defaults)
        for i in range(stages.size()):
            st = stages.apply(i)
            t = st.submissionTime()
            if not t.isDefined():  # skipped stages never ran
                continue
            s = self._innermost(t.get().getTime() / 1000.0)
            if s is None:
                continue
            s["self_stages"] += 1
            s["self_tasks"] += st.numTasks()
            s["self_executor_run_ms"] += st.executorRunTime()
            s["self_gc_ms"] += st.jvmGcTime()
            s["self_shuffle_write_bytes"] += st.shuffleWriteBytes()
            s["self_spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for s in self.spans:
            for c in COUNTERS:
                s[c] = s[f"self_{c}"]
        # children are recorded after their parents: fold bottom-up
        for s in reversed(self.spans):
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                for c in COUNTERS:
                    p[c] += s[c]
        for s in self.spans:
            kids = [k for k in self.spans if k["parent"] == s["id"]]
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - sum(k["end"] - k["start"] for k in kids)

    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
