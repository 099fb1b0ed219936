"""Readers for what the benchmark measures from outside the program:
Spark's own status store (per job group), the SQL plan metrics of the
executions those jobs ran, the memory of the process tree, and host
telemetry (cores, load, steal)."""

from __future__ import annotations

import os
import statistics
import threading


def _seq(x) -> list:
    """A py4j Scala ``Seq`` (or Java array) as a Python list."""
    try:
        return list(x)
    except TypeError:
        return [x.apply(i) for i in range(x.size())]


def _opt(x):
    return x.get() if x.isDefined() else None


class StatusReader:
    """Stage and SQL metrics for the jobs a job group ran, read from the
    SparkContext status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list[dict]:
        """One dict per stage attempt that ran (skipped stages excluded)."""
        tracker = self.sc.statusTracker()
        seen, out = set(), []
        for jid in self.job_ids(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in _seq(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                for s in _seq(self._store.stageData(
                        sid, False, self.sc._jvm.java.util.ArrayList(), True, self._quantiles)):
                    if s.status().toString() == "SKIPPED":
                        continue
                    sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
                    dist = _opt(s.taskMetricsDistributions())
                    run_q = _seq(dist.executorRunTime()) if dist is not None else [0.0, 0.0]
                    out.append({
                        "stage": sid,
                        "tasks": s.numTasks(),
                        "run_s": s.executorRunTime() / 1e3,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "input_bytes": s.inputBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "shuffle_write_records": s.shuffleWriteRecords(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        "start": sub.getTime() / 1e3 if sub is not None else None,
                        "end": done.getTime() / 1e3 if done is not None else None,
                        "task_median_s": run_q[0] / 1e3,
                        "task_max_s": run_q[1] / 1e3,
                    })
        return out

    def node_rows(self, group: str, node_prefix: str) -> int:
        """Sum of "number of output rows" over the SQL plan nodes whose
        name starts with ``node_prefix``, in the executions of ``group``."""
        jobs = set(self.job_ids(group))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for e in _seq(sql.executionsList()):
            if not jobs.intersection(int(j) for j in _seq(e.jobs().keySet().toSeq())):
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                if not node.name().startswith(node_prefix):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = _opt(values.get(m.accumulatorId()))
                        if v is not None:
                            total += int(v.replace(",", ""))
        return total


def summarize_stages(stages: list[dict], jobs: int, windows: list[tuple[float, float]]) -> dict:
    """Engine totals over ``stages`` (of ``jobs`` jobs); ``windows`` are
    the wall intervals of the operations that ran them, for the
    driver-gap measure: op wall time during which no stage was active."""
    longest = max(stages, key=lambda s: s["run_s"], default=None)
    skew = (longest["task_max_s"] / longest["task_median_s"]
            if longest and longest["task_median_s"] > 0 else 1.0)
    busy = [(s["start"], s["end"]) for s in stages if s["start"] and s["end"]]
    gap = sum((b - a) - covered(busy, a, b) for a, b in windows)
    return {
        "spark.jobs": jobs,
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.jvm_gc_s": sum(s["gc_s"] for s in stages),
        "spark.input_bytes": sum(s["input_bytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.task_s.max_over_median": skew,
        "spark.driver_gap_s": gap,
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss(root: int) -> dict[int, int]:
    """Proportional set size in bytes of ``root`` and of each descendant.
    PSS splits each shared page among the processes mapping it, so forked
    children (Python workers, the JVM's short-lived helper forks) add only
    the pages they own, where summed RSS would count the shared ones again."""
    kids = _children()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


class MemSampler:
    """Samples the process tree's summed PSS on a background thread
    between ``start()`` and ``stop()``, which returns the peak in MB."""

    # reading smaps_rollup takes the target's memory-map lock, so sampling
    # stays sparse to keep the JVM's own page faults from waiting on it
    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        procs = tree_pss(os.getpid())
        if sum(procs.values()) > self.peak:
            self.peak, self.at_peak = sum(procs.values()), procs

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak / 2**20

    def breakdown_mb(self) -> list[float]:
        """Per-process resident MB at the peak, largest first."""
        return sorted((round(b / 2**20, 1) for b in self.at_peak.values()), reverse=True)


def read_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostMeter:
    """Host telemetry over a run: cores, 1-minute load and steal %."""

    def __init__(self):
        self.steal0 = read_steal()

    def stop(self, cores_used: int) -> dict:
        s1, t1 = read_steal()
        s0, t0 = self.steal0
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "cores_used": cores_used,
            "loadavg_1m": os.getloadavg()[0],
            "steal_pct": 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0,
        }


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
