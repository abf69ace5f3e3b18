"""Traced mode: in-memory spans around calls into the engine's layers,
annotated with the Spark counters of the jobs each call ran.

Spans are recorded only from the benchmark's side of each layer
boundary (the engine itself is not instrumented).  A span is
``{id, name, start, end, parent, op}``; times are seconds since the
tracer was created.  The spans of one operation share its ``op`` id.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

# StageData getters summed per call, with the unit conversion to the
# reported figure.
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "tasks_failed": ("numFailedTasks", 1),
    "task_busy_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "input_rows": ("inputRecords", 1),
}
COUNTER_NAMES = ("jobs", "stages", *_STAGE_FIELDS)


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


class JobCounters:
    """Counters of the Spark jobs started since the previous ``take``.

    Job ids are assigned sequentially per SparkContext and the load is
    one closed-loop client, so the jobs between two ``take`` calls are
    exactly the jobs of the call in between, including those that a
    streaming query runs under its own job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._next_job = 0
        self.take()

    def _drain_events(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def take(self) -> dict:
        self._drain_events()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTER_NAMES, 0.0)
        stage_ids: set[int] = set()
        while (info := tracker.getJobInfo(self._next_job)) is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
            self._next_job += 1
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            except Exception:  # stage skipped or evicted: it ran no tasks
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numTasks() and sd.numCompleteTasks():
                    out["stages"] += 1
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)() * scale
        return out


class StreamProgress:
    """Collects streaming micro-batch progress while registered."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list = []
        lock = threading.Lock()
        self._events, self._lock = events, lock

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                with lock:
                    events.append(
                        {
                            "run": str(p.runId),
                            "rows": p.numInputRows,
                            "trigger_ms": p.durationMs.get("triggerExecution", 0),
                            "add_batch_ms": p.durationMs.get("addBatch", 0),
                            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        }
                    )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> dict:
        """Totals over the batches reported since the previous take."""
        with self._lock:
            batch, self._events[:] = list(self._events), []
        last_state: dict[str, int] = {}
        for e in batch:
            last_state[e["run"]] = e["state_rows"]
        return {
            "batches": len(batch),
            "input_rows": sum(e["rows"] for e in batch),
            "state_rows": sum(last_state.values()),
            "batch_overhead_s": sum(e["trigger_ms"] - e["add_batch_ms"] for e in batch) / 1e3,
        }
