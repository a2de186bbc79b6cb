"""Per-stage job profile read from Spark's driver status store.

A pipeline stage owns every Spark job *submitted* inside its wall-clock
window. Attribution by submission time needs no job group, so it also
catches the jobs the matcher submits from its ThreadPoolExecutor
threads (a job group set on the calling thread does not reach them).
The caller reads the store right after each stage, before later jobs
can push the stage's jobs out of the store's retention limit.
"""

from __future__ import annotations

import os


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def python_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's Python daemon and workers.

    Spark's executorCpuTime counts JVM threads only; the Python UDFs
    run in worker processes forked by the daemon. A worker that exited
    and was reaped shows in its parent's cutime/cstime, so summing
    utime+stime+cutime+cstime over the JVM's live descendants counts
    each worker once."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while listing
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class StatusStore:
    """Reads jobs and stage metrics through the JVM's AppStatusStore."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway

    def profile(self, t0_ms: float, t1_ms: float) -> dict:
        """Work of the jobs submitted in [t0_ms, t1_ms]: job and task
        counts, executor time, shuffle bytes and the driver gap (window
        time during which none of those jobs was running)."""
        jobs = []
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            job = seq.apply(i)
            sub = _ms(job.submissionTime())
            if sub is not None and t0_ms <= sub <= t1_ms:
                jobs.append(job)
        stage_ids, spans = set(), []
        tasks = failed = 0
        for job in jobs:
            done = _ms(job.completionTime())
            spans.append((_ms(job.submissionTime()), done if done is not None else t1_ms))
            tasks += job.numTasks() - job.numSkippedTasks()
            failed += job.numFailedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(j) for j in range(ids.size()))
        run_ms = cpu_ns = shuffle_bytes = 0
        no_statuses = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, no_statuses, False, no_quantiles)
            for j in range(attempts.size()):
                st = attempts.apply(j)
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                shuffle_bytes += st.shuffleWriteBytes()
        wall_ms = t1_ms - t0_ms
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "failed_tasks": failed,
            "executor_run_s": run_ms / 1e3,
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle_bytes / 1e6,
            "driver_gap_s": (wall_ms - covered_ms(spans, t0_ms, t1_ms)) / 1e3,
        }
