"""Tracing for the benchmark: spans kept in memory, Spark's status store
read right after each phase, and streaming progress from a listener.

Everything here is driven from the benchmark's own code around the calls
into the program's layers; the program itself is not instrumented.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = float(1 << 20)


class Tracer:
    """Spans with name, start, end, parent and op id. Disabled, it
    records nothing and costs one generator frame per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the children's share."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def root_seconds(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)


class StatusStore:
    """Reads Spark's status store (works with the UI disabled) through
    py4j. ``take()`` waits for the listener bus to drain and returns the
    jobs and stages that appeared since the previous call, so reading
    after every phase keeps each stage even when a run outlives the
    store's retention of 1000 jobs and stages."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._last_stage = -1
        self._last_job = -1
        self.take()

    def take(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        empty = self._jvm.java.util.ArrayList()
        jobs = self._store.jobsList(empty)
        new_jobs, top_job = 0, self._last_job
        for i in range(jobs.size()):  # newest first
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            new_jobs += 1
            top_job = max(top_job, jid)
        self._last_job = top_job
        stages = self._store.stageList(empty, *self._defaults)
        out = defaultdict(float)
        out["jobs"] = new_jobs
        top = self._last_stage
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_mb"] += s.inputBytes() / MB
            out["input_rows"] += s.inputRecords()
            out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            out["peak_exec_mem_mb"] = max(
                out["peak_exec_mem_mb"], s.peakExecutionMemory() / MB
            )
        self._last_stage = top
        return dict(out)


def add_into(total: dict[str, float], part: dict[str, float]) -> None:
    """Accumulate ``part`` into ``total``; peak memory is a max."""
    for k, v in part.items():
        if k == "peak_exec_mem_mb":
            total[k] = max(total.get(k, 0.0), v)
        else:
            total[k] = total.get(k, 0.0) + v


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress event of every query (the
    query's own ``recentProgress`` holds only the last 100)."""

    def __init__(self) -> None:
        self.progress: list = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.id))

    def wait_terminated(self, query_id: str, timeout_s: float = 60.0) -> None:
        """Events arrive asynchronously and in order: once the
        termination event is here, every progress event is too."""
        deadline = time.monotonic() + timeout_s
        while query_id not in self.terminated:
            if time.monotonic() > deadline:
                raise TimeoutError(f"no termination event for query {query_id}")
            time.sleep(0.01)

    def batches(self, query_id: str) -> list:
        return [p for p in self.progress if str(p.id) == query_id]
