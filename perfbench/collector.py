"""Per-call measurement: wall time always; with tracing on, also a span and
the Spark work the call ran, read from Spark's status store.

Tracing wraps each call in its own job group (`sc.setJobGroup`). After the
call it lists the group's jobs (`statusTracker().getJobIdsForGroup`), their
stages, and each stage attempt's record in the status store
(`statusStore().stageData`). Reading the status store runs no Spark job;
the collector does its reading under a job group of its own and checks
that this group stays empty (`collector_jobs`).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from networkit_spark.plans.checkpoint import SuperstepCheckpointer

COLLECTOR_GROUP = "perfbench-collector"
MB = float(1 << 20)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Times calls; when `enabled`, records spans and status-store counters.

    Spans (name, start, end, parent) stay in memory until `dump`."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.collector_jobs = 0
        self._stack: list[int] = []
        self._seq = 0
        self.attach(spark)

    def attach(self, spark) -> None:
        """Point the tracer at a (re)started session."""
        self.sc = spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self._median_max = self.sc._gateway.new_array(self._jvm.double, 2)
        self._median_max[0], self._median_max[1] = 0.5, 1.0

    @contextmanager
    def span(self, name: str, counters: bool = True):
        """Times the block and yields a dict that holds `s` once it ends.
        Traced, it also records a span, and for a leaf call (`counters`)
        runs the block under its own job group and adds the counters."""
        rec: dict = {}
        self._seq += 1
        span_id = self._seq
        group = f"perfbench-{span_id}:{name}"
        leaf = self.enabled and counters
        if leaf:
            self.sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.time()
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.cpu_s() - c0
            self._stack.pop()
            if self.enabled:
                self.spans.append({"id": span_id, "name": name, "parent": parent,
                                   "start": start, "end": start + rec["s"]})
            if leaf:
                t_c = time.perf_counter()
                self.sc.setJobGroup(COLLECTOR_GROUP, "status-store reads")
                rec.update(self._counters(group, start, start + rec["s"]))
                self.collector_jobs = len(
                    self.sc.statusTracker().getJobIdsForGroup(COLLECTOR_GROUP))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["collect_s"] = time.perf_counter() - t_c

    def cpu_s(self) -> float:
        """CPU time used so far by the driver JVM (driver and, in local mode,
        executor threads) plus this Python process. Unlike wall time, it
        leaves out time the host took from the VM's vCPUs (steal)."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        utime, stime = int(fields[11]), int(fields[12])  # fields 14 and 15 of stat
        return (utime + stime) / CLK_TCK + time.process_time()

    def _counters(self, group: str, start: float, end: float) -> dict:
        # the status store is fed asynchronously by the listener bus; drain
        # it so every finished stage and task of the call is recorded
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        stages = tasks = failed = 0
        run_ms = shuffle = spill = med_ms = max_ms = 0.0
        intervals = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) in ("SKIPPED", "PENDING") or not sd.submissionTime().isDefined():
                    continue
                stages += 1
                tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                failed += sd.numFailedTasks()
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
                t_sub = sd.submissionTime().get().getTime()
                t_end = (sd.completionTime().get().getTime()
                         if sd.completionTime().isDefined() else end * 1000.0)
                intervals.append((float(t_sub), float(t_end)))
                if sd.numCompleteTasks() > 1:
                    summ = self._store.taskSummary(sid, sd.attemptId(), self._median_max)
                    if summ.isDefined():
                        q = summ.get().executorRunTime()
                        med_ms += q.apply(0)
                        max_ms += q.apply(1)
        wall = end - start
        task_s = run_ms / 1000.0
        gap = wall - covered_ms(intervals, start * 1000.0, end * 1000.0) / 1000.0
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "task_s": task_s,
            "busy_frac": task_s / (wall * self.cores) if wall > 0 else 0.0,
            "driver_gap_s": max(gap, 0.0),
            "shuffle_write_mb": shuffle / MB,
            "spill_mb": spill / MB,
            # summed per-stage max over summed per-stage median task time;
            # executorRunTime has 1 ms resolution, hence the 1 ms floor
            "task_skew": max_ms / max(med_ms, 1.0) if max_ms else 1.0,
            "tasks_failed": failed,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TimingCheckpointer(SuperstepCheckpointer):
    """SuperstepCheckpointer that counts its saves, their wall time and the
    bytes each save leaves on disk."""

    def __init__(self, spark, base_dir: str, algo: str):
        super().__init__(spark, base_dir, algo)
        self.reset_counters()

    def reset_counters(self) -> None:
        self.saves = 0
        self.save_s = 0.0
        self.written_bytes = 0

    def save(self, superstep, dfs, metrics=None):
        t0 = time.perf_counter()
        out = super().save(superstep, dfs, metrics)
        self.save_s += time.perf_counter() - t0
        self.saves += 1
        step_dir = os.path.join(self.state_dir, f"step={superstep}")
        for root, _, files in os.walk(step_dir):
            self.written_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return out
