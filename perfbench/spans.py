"""Spans, Spark counters, checkpoint timing and memory readings.

Spans are recorded from outside the engine, around calls into its public
functions: name, start, end, parent span and run id (one id per repetition).
They stay in memory and are written out when the benchmark ends. Every run
records span times (the end-to-end PageRank rates need them); a traced run
also reads Spark's counters at each span boundary, after the listener bus has
drained, which is what the tracing overhead measures.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from sparkgraph.pregel import Checkpointer

COUNTERS = ("shuffle_bytes", "task_ms", "gc_ms", "tasks", "failed_tasks", "jobs", "cpu_ms")
_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


class SparkCounters:
    """Cumulative executor totals from the status store, the number of jobs
    submitted so far (the scheduler's next job id, which unlike the status
    store's job list is not capped by UI retention), and the JVM's CPU time.

    ``task_ms`` is the executor's ``totalDuration``: in local mode it grows
    with the wall time during which the executor runs tasks, not with the
    sum over parallel tasks, so core use is read from ``cpu_ms``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.stat = f"/proc/{jvm_pid(spark)}/stat"

    def read(self) -> dict:
        self.sc.listenerBus().waitUntilEmpty(60_000)
        tot = dict.fromkeys(COUNTERS, 0)
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        tot["cpu_ms"] = (int(fields[11]) + int(fields[12])) * _TICK_MS
        executors = self.sc.statusStore().executorList(True)
        for i in range(executors.size()):
            e = executors.apply(i)
            tot["shuffle_bytes"] += e.totalShuffleRead() + e.totalShuffleWrite()
            tot["task_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["tasks"] += e.completedTasks()
            tot["failed_tasks"] += e.failedTasks()
        tot["jobs"] = self.sc.dagScheduler().nextJobId()
        return tot


class Tracer:
    """``run_id`` names the current repetition; ``counting`` turns on the
    counter reads (traced repetitions only)."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = ""
        self.counting = False

    @contextmanager
    def span(self, name: str, **attrs):
        before = self.counters.read() if self.counting else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = self.counters.read()
                sp["counters"] = {k: after[k] - before[k] for k in COUNTERS}

    def rep_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its child spans cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class TimingCheckpointer(Checkpointer):
    """``Checkpointer`` that times its saves and restores and counts the
    bytes it writes. A restore also materializes the restored state (persist
    + count) so the Parquet read lands in the restore, not in the superstep
    that first touches it."""

    def __init__(self, directory: str, every: int, tracer: Tracer):
        super().__init__(directory, every)
        self.tracer = tracer
        self.bytes = 0
        self.restored_from: int | None = None
        self._held = []

    def save(self, state, superstep, *args, **kwargs):
        with self.tracer.span("pregel.checkpoint_save"):
            super().save(state, superstep, *args, **kwargs)
        self.bytes += dir_bytes(self._path(superstep))

    def restore(self, spark):
        with self.tracer.span("pregel.restore"):
            found = super().restore(spark)
            if found is not None:
                superstep, state, metrics = found
                state = state.persist()
                state.count()
                self._held.append(state)
                self.restored_from = superstep
                found = superstep, state, metrics
        return found

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


def _vmhwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM plus the Python driver, in MiB."""
    return (_vmhwm_kb(jvm_pid) + _vmhwm_kb("self")) / 1024.0
