"""Counters the benchmark reads from outside the engine.

Everything here goes through what Spark itself exposes: the JVM
``AppStatusStore`` (job and stage data, populated with the UI off), a
``StreamingQueryListener`` for micro-batch progress, the plan's SQL
metrics via ``ocdb_server_spark.metrics.profile``, and ``/proc`` for
memory and load.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class JobCounters:
    """Summaries of the Spark jobs started since the previous call."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.take()  # skip the jobs that ran before this point

    def take(self) -> dict:
        """Counters summed over the jobs started since the last call. The
        listener bus is drained first, so finished jobs are in the store."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            (
                "jobs", "job_ms", "stages", "tasks", "executor_run_ms",
                "executor_cpu_ns", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "output_bytes",
            ),
            0,
        )
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            out["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                out["job_ms"] += end - start
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: never submitted
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["output_bytes"] += st.outputBytes()
        return out


def jobs_started(spark) -> int:
    """Number of jobs the application has started, from the status store
    once the listener bus is drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._events.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict:
        """Totals over the batches reported since the last call (call
        after ``JobCounters.take``, which drains the listener bus)."""
        with self._lock:
            events, self._events = self._events, []
        dur = lambda *keys: sum(e.get(k, 0) for e in events for k in keys)
        return {
            "batches": len(events),
            "query_planning_ms": dur("queryPlanning"),
            "add_batch_ms": dur("addBatch"),
            "commit_ms": dur("walCommit", "commitOffsets", "commitBatch"),
        }


_PYTHON_METRICS = {
    "pythonBootTime": "boot_ms",
    "pythonInitTime": "init_ms",
    "pythonTotalTime": "total_ms",
    "pythonDataSent": "sent_bytes",
    "pythonDataReceived": "received_bytes",
}


def python_node_metrics(df) -> dict:
    """Python-worker SQL metrics summed over the executed plan's nodes."""
    from ocdb_server_spark.metrics import profile

    out = dict.fromkeys(_PYTHON_METRICS.values(), 0)
    for node in profile(df, materialize=False).nodes:
        for key, name in _PYTHON_METRICS.items():
            out[name] += node.metrics.get(key, 0)
    return out


def cached_mb(spark) -> float:
    """Memory held by cached RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / MB


def job_floor_ms(spark, reps: int = 7) -> float:
    """Median wall time of the cheapest job: one task, one row, fetched."""
    df = spark.range(1)
    df.toArrow()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.toArrow()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def steal_s() -> float:
    """CPU time the hypervisor gave to others since boot, summed over
    the machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its direct children
    (the JVM that PySpark launched)."""
    pids = [os.getpid(), *_children(os.getpid())]
    return sum(_hwm_kb(p) for p in pids) / 1024
