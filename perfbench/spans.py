"""Tracing from outside the engine: in-memory spans and Spark counters.

Spans are taken around the benchmark's own calls into each layer (the
engine itself is not instrumented).  Counters are read at the same
boundaries from Spark's status store, its job groups and the streaming
listener, so per-layer ratios come from where the work ran.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from .stats import self_times


class Tracer:
    """Keeps spans (name, start, end, parent, op id, attributes) in
    memory; ``write`` saves them with their self time when the run ends.

    A disabled tracer records nothing, so the untraced run pays nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "attrs": attrs,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self) -> dict[int, float]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        own = self.self_time()
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self=own[s["id"]]) for s in self.spans], fh, default=str
            )


class SparkCounters:
    """Cumulative executor totals and job-group job counts of one session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._groups = 0

    def executor_totals(self) -> dict[str, float]:
        """Tasks, task seconds, GC seconds and shuffle-write MB over all
        executors, after the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()
        lst = self._jsc.statusStore().executorList(True)
        execs = [lst.apply(i) for i in range(lst.size())]
        return {
            "tasks": float(sum(e.totalTasks() for e in execs)),
            "task_s": sum(e.totalDuration() for e in execs) / 1e3,
            "gc_s": sum(e.totalGCTime() for e in execs) / 1e3,
            "shuffle_write_mb": sum(e.totalShuffleWrite() for e in execs) / 2**20,
        }

    @contextmanager
    def job_group(self):
        """Tag jobs started by this thread; yields a callable that counts them."""
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self._sc.setJobGroup(gid, gid)
        try:
            yield lambda: len(self._sc.statusTracker().getJobIdsForGroup(gid))
        finally:
            self._sc._jsc.clearJobGroup()


def batch_listener_class():
    """A ``StreamingQueryListener`` subclass that keeps every progress
    report with input rows (built lazily: pyspark is imported by then)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                with self._cv:
                    self.batches.append(
                        {"rows": p.numInputRows, "ms": dict(p.durationMs)}
                    )
                    self._cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout: float = 60.0) -> None:
            """Block until ``n`` batches were reported (events are async)."""
            with self._cv:
                if not self._cv.wait_for(lambda: len(self.batches) >= n, timeout):
                    raise TimeoutError(
                        f"listener saw {len(self.batches)} of {n} batches"
                    )

    return BatchListener
