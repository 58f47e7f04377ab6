"""Spark's own counters, read back through py4j after each operation:
jobs of the operation's job group and their stages from the status
store, Catalyst phase times from the query execution's tracker, cached
storage, and peak resident memory of the driver and its JVM."""

from __future__ import annotations

import time

from spans import Tracer

STAGE_FIELDS = {
    "tasks": "numTasks",
    "task_time_ms": "executorRunTime",
    "scan_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


def _epoch_to_perf(ms: int) -> float:
    return ms / 1000.0 - (time.time() - time.perf_counter())


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def read_jobs(spark, group: str, tracer: Tracer, totals: dict[str, float]) -> None:
    """Add one ``exec.job`` span per job of ``group`` and accumulate its
    stages' counters into ``totals``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            tracer.add("exec.job", _epoch_to_perf(sub.get().getTime()),
                       _epoch_to_perf(done.get().getTime()))
        totals["jobs"] = totals.get("jobs", 0) + 1
        for stage_id in _seq(job.stageIds()):
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # skipped stages have no attempt
                continue
            totals["stages"] = totals.get("stages", 0) + 1
            for key, attr in STAGE_FIELDS.items():
                attrs = attr if isinstance(attr, tuple) else (attr,)
                totals[key] = totals.get(key, 0) + sum(getattr(st, a)() for a in attrs)
            totals["peak_mem_bytes"] = max(totals.get("peak_mem_bytes", 0), st.peakExecutionMemory())
        if job.numFailedTasks() or str(job.status()) == "FAILED":
            totals["failed"] = totals.get("failed", 0) + 1


def read_phases(df, tracer: Tracer) -> None:
    """Add ``plan.<phase>`` spans from Catalyst's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        p = kv._2()
        tracer.add(f"plan.{kv._1()}", _epoch_to_perf(p.startTimeMs()), _epoch_to_perf(p.endTimeMs()))


def storage_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) from /proc."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
