"""Readings taken from outside the program: process CPU and memory from
``/proc``, and Spark job/stage counters from the driver's in-process status
store (it is kept with ``spark.ui.enabled=false`` too).

Counters are read after a timer has stopped. Inside a timed region the
benchmark only takes ``StatusStore.mark``, one job-id lookup.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _ticks(stat_path: str) -> tuple[str, int]:
    """(thread or process name, user + system clock ticks) from a stat file."""
    with open(stat_path) as f:
        head, rest = f.read().rsplit(")", 1)  # the name may hold spaces
    fields = rest.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def cpu_seconds(pids) -> float:
    """User plus system CPU seconds consumed so far by ``pids``, without the
    JVM's JIT compiler threads: how much compiling a JVM does, and when, is
    up to the JVM and varies from run to run far more than the work it
    compiles for."""
    total = 0
    for pid in pids:
        total += _ticks(f"/proc/{pid}/stat")[1]
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                name, ticks = _ticks(f"/proc/{pid}/task/{tid}/stat")
            except FileNotFoundError:  # the thread ended meanwhile
                continue
            if "CompilerThre" in name:
                total -= ticks
    return total / _TICK


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set size (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024


@dataclass
class StageTotals:
    """Counters summed over the stages of a set of Spark jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_execution_memory_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for name in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                     "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_execution_memory_bytes = max(
            self.peak_execution_memory_bytes, other.peak_execution_memory_bytes
        )


class StatusStore:
    """Reads jobs newer than a watermark from ``SparkContext.statusStore``.

    ``mark()`` returns the highest job id submitted so far; ``between(lo,
    hi)`` sums the stage counters of the jobs submitted after mark ``lo`` up
    to mark ``hi``. The listener bus is drained first so the store has seen
    every finished job.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        return int(self._sc.dagScheduler().nextJobId()) - 1

    def between(self, lo: int, hi: int) -> StageTotals:
        self._drain()
        store = self._sc.statusStore()
        out = StageTotals()
        for job_id in range(lo + 1, hi + 1):
            try:
                job = store.job(job_id)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            out.jobs += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage: no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                out.executor_run_s += int(st.executorRunTime()) / 1e3
                out.executor_cpu_s += int(st.executorCpuTime()) / 1e9
                out.jvm_gc_s += int(st.jvmGcTime()) / 1e3
                out.shuffle_read_bytes += int(st.shuffleReadBytes())
                out.shuffle_write_bytes += int(st.shuffleWriteBytes())
                out.spill_bytes += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                out.peak_execution_memory_bytes = max(
                    out.peak_execution_memory_bytes, int(st.peakExecutionMemory())
                )
        return out
