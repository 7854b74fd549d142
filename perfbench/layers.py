"""Per-layer accounting for the traced run, recorded from outside the engine.

* ``JobLedger`` assigns Spark jobs to a time window by submission time,
  read from the status store. Job groups do not reach the threads that
  run micro-batches, so a window is the only assignment that also sees
  stream jobs. It is read after every traced op, before
  ``spark.ui.retainedJobs`` evicts the entries.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps the
  per-micro-batch durations of every query started while it is added.
* ``weather_write_spans`` wraps ``write_merged_partitioned`` in the
  ``plans.weather_pipeline`` namespace, which splits one ``run_batch``
  call into extract+transform, load and quality.
* ``jvm_heap_used_mb``, ``jvm_gc_s``, ``jvm_peak_rss_mb`` and
  ``python_peak_rss_mb`` read the driver processes.
"""

from __future__ import annotations

import contextlib
import gc
import resource
import sys
import threading
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def now_ms() -> float:
    """Wall clock in epoch milliseconds, the clock the status store uses."""
    return time.time() * 1000.0


@dataclass(frozen=True)
class Job:
    submit_ms: float
    end_ms: float
    stages: int
    tasks: int


class JobLedger:
    """Spark jobs by submission time, from the JVM status store."""

    def __init__(self, spark: SparkSession):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[Job]:
        """Jobs submitted in ``[t0_ms, t1_ms]``; stages and tasks count
        only what ran, not what was skipped."""
        jobs = self._store.jobsList(None)  # newest job id first
        out: list[Job] = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            submitted = j.submissionTime()
            if not submitted.isDefined():
                continue
            submit_ms = float(submitted.get().getTime())
            if submit_ms < t0_ms:
                break  # job ids grow with submission time
            if submit_ms > t1_ms:
                continue
            completed = j.completionTime()
            end_ms = (
                float(completed.get().getTime()) if completed.isDefined() else t1_ms
            )
            out.append(
                Job(
                    submit_ms=submit_ms,
                    end_ms=end_ms,
                    stages=int(j.stageIds().size()) - int(j.numSkippedStages()),
                    tasks=int(j.numTasks()) - int(j.numSkippedTasks()),
                )
            )
        return out


def busy_ms(jobs: list[Job], t0_ms: float, t1_ms: float) -> float:
    """Length of the union of the jobs' intervals, clipped to the window."""
    spans = sorted(
        (max(j.submit_ms, t0_ms), min(j.end_ms, t1_ms)) for j in jobs
    )
    total, cur_start, cur_end = 0.0, None, None
    for start, end in spans:
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class StreamProgress(StreamingQueryListener):
    """Collects ``durationMs`` of every micro-batch and counts queries
    that started but have not terminated yet."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._running: set[str] = set()
        self.batches: list[dict[str, float]] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._running.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        durations = {k: float(v) for k, v in event.progress.durationMs.items()}
        with self._lock:
            self.batches.append(durations)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._running.discard(str(event.id))

    def drain(self, timeout_s: float = 10.0) -> list[dict[str, float]]:
        """Wait until every started query has reported its termination
        (events arrive asynchronously), then hand over and reset the
        collected batches."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if not self._running:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.batches = self.batches, []
            self._running.clear()
        return out


@contextlib.contextmanager
def stream_listener(spark: SparkSession, listener: StreamProgress):
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        spark.streams.removeListener(listener)


@contextlib.contextmanager
def weather_write_spans(marks: dict[str, float]):
    """Record the start and end (epoch ms) of ``run_batch``'s call into
    ``write_merged_partitioned`` while the block runs."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.plans import (
        weather_pipeline as wp,
    )

    original = wp.write_merged_partitioned

    def timed_write(*args, **kwargs):
        marks["write_start"] = now_ms()
        try:
            return original(*args, **kwargs)
        finally:
            marks["write_end"] = now_ms()

    wp.write_merged_partitioned = timed_write
    try:
        yield marks
    finally:
        wp.write_merged_partitioned = original


def _management(spark: SparkSession):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def jvm_gc_s(spark: SparkSession) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = _management(spark).getGarbageCollectorMXBeans()
    return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0


def jvm_heap_used_mb(spark: SparkSession, settle: int = 3, rounds: int = 16) -> float:
    """JVM heap in use once full collections stop freeing memory.

    Python collects first, so that py4j proxies it frees release their
    JVM objects. Spark's ContextCleaner drops the blocks of unreachable
    RDDs asynchronously, so one collection can free little and a later
    one a lot. Collect until ``settle`` collections in a row free less
    than 1 MB, and report the lowest reading.
    """
    heap = _management(spark).getMemoryMXBean()
    system = spark.sparkContext._jvm.java.lang.System
    low, calm = float("inf"), 0
    readings = []
    for _ in range(rounds):
        gc.collect()
        system.gc()
        time.sleep(0.2)
        used = int(heap.getHeapMemoryUsage().getUsed()) / 2**20
        readings.append(round(used, 1))
        calm = calm + 1 if used > low - 1.0 else 0
        low = min(low, used)
        if calm >= settle:
            break
    print(f"[perfbench] heap MB after each full GC: {readings}", file=sys.stderr)
    return low


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for JVM pid {pid}")


def python_peak_rss_mb() -> float:
    """Peak RSS of this driver process (ru_maxrss is in KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
