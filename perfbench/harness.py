"""Closed-loop load generator, latency statistics, memory and Spark counters.

Nothing here knows a workload: a workload hands ``closed_loop`` a job
source and a job runner, gets back one ``Op`` per attempted operation
and turns them into the end-to-end metrics with ``summarize``.
"""

from __future__ import annotations

import os
import resource
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

TAIL_BEYOND = 10


@dataclass
class Op:
    client: int
    name: str
    start: float
    end: float
    error: str | None = None
    output: Any = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def closed_loop(
    n_clients: int,
    next_job: Callable[[int], Any],
    run_job: Callable[[int, Any], tuple[Any, dict]],
    name_of: Callable[[Any], str] = str,
) -> list[Op]:
    """Each client runs its next job only after the previous one ended.
    ``next_job(client)`` returns None to stop that client. An exception
    from ``run_job`` is recorded on the op, never raised."""
    ops: list[Op] = []
    lock = threading.Lock()

    def client(i: int) -> None:
        while (job := next_job(i)) is not None:
            t0 = time.perf_counter()
            try:
                out, info = run_job(i, job)
                err = None
            except Exception as e:  # noqa: BLE001 - a failed op is data
                out, info, err = None, {}, f"{type(e).__name__}: {e}"[:400]
            op = Op(i, name_of(job), t0, time.perf_counter(), err, out, info)
            with lock:
                ops.append(op)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(ops, key=lambda o: o.start)


def tail_latency(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    ``TAIL_BEYOND`` samples above it: the (TAIL_BEYOND+1)-th largest
    sample, at percentile 100*(n-TAIL_BEYOND)/n."""
    n = len(latencies)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: the tail needs more than {TAIL_BEYOND}")
    ordered = sorted(latencies)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def summarize(ops: list[Op], t0: float) -> dict:
    """End-to-end figures over the timed window that started at ``t0``.
    A failed op counts against throughput and, for latency, as taking
    the whole window."""
    if not ops:
        raise ValueError("no operation ran in the timed window")
    wall = max(o.end for o in ops) - t0
    ok = [o for o in ops if o.error is None]
    lat = [o.seconds if o.error is None else wall for o in ops]
    tail, pct = tail_latency(lat)
    return {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "error_rate": (len(ops) - len(ok)) / len(ops),
        "window_s": wall,
        "throughput_per_s": len(ok) / wall,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "tail_percentile": pct,
    }


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


class SparkCounters:
    """Job, stage and task counters from Spark's status store for the
    jobs of one job group (the benchmark tags each operation's thread
    with its own group)."""

    KEYS = (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "shuffle_bytes",
        "stage_s",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str | None) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> dict:
        out = dict.fromkeys(self.KEYS, 0.0)
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for s in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 - evicted or never ran
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["stage_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
