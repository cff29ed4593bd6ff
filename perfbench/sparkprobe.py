"""Per-op engine counters read from outside the program: Spark's own
status store (jobs, stages, task metrics), the driver JVM's GC beans and
``StreamingQueryListener`` progress events.

One client runs one op at a time, so the jobs an op caused are exactly
those with ids above the newest id seen before it started.
"""

from __future__ import annotations

import threading

from measure import covered

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MIB = float(1 << 20)
#: Stages with fewer tasks say nothing about skew.
SKEW_MIN_TASKS = 4


class StatusStore:
    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(beans.getGarbageCollectorMXBeans())

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store reflects the op that just returned."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def newest_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _quantiles(self, stage_id: int, attempt: int) -> tuple[float, float] | None:
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage_id, attempt, arr)
        if not summary.isDefined():
            return None
        run = summary.get().executorRunTime()
        return float(run.apply(0)), float(run.apply(1))

    def jobs_since(self, after_job: int) -> dict[str, float]:
        """Totals over every job newer than ``after_job`` and its stages.
        ``stage_wall_s`` is the time at least one of those stages ran (the
        union of their submit-to-complete intervals); the rest of an op's
        action is driver-side planning and scheduling between stages."""
        jobs = self.store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after_job:
                break  # newest first
            n_jobs += 1
            sids = job.stageIds()
            stage_ids.update(int(sids.apply(k)) for k in range(sids.size()))
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s", "shuffle_read_mib",
             "shuffle_write_mib", "spill_mib", "input_mib"),
            0.0,
        )
        out["jobs"] = float(n_jobs)
        skews, spans = [], []
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never submitted
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_run_s"] += sd.executorRunTime() / 1000.0
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["task_gc_s"] += sd.jvmGcTime() / 1000.0
            out["shuffle_read_mib"] += sd.shuffleReadBytes() / MIB
            out["shuffle_write_mib"] += sd.shuffleWriteBytes() / MIB
            out["spill_mib"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MIB
            out["input_mib"] += sd.inputBytes() / MIB
            start, end = sd.submissionTime(), sd.completionTime()
            if start.isDefined() and end.isDefined():
                spans.append((start.get().getTime() / 1000.0, end.get().getTime() / 1000.0))
            if sd.numCompleteTasks() >= SKEW_MIN_TASKS:
                q = self._quantiles(sid, sd.attemptId())
                if q is not None and q[0] > 0:
                    skews.append(q[1] / q[0])
        out["skew_max"] = max(skews, default=1.0)
        out["stage_wall_s"] = covered(spans, float("-inf"), float("inf"))
        return out


class ProgressLog(StreamingQueryListener):
    """Collects every streaming progress event and counts terminations.
    Events arrive on the listener bus thread."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self.progress: list = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cond:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def wait_terminated(self, n: int, timeout_s: float = 10.0) -> bool:
        """Wait until ``n`` queries have terminated; their progress events
        were posted before their termination events."""
        with self._cond:
            return self._cond.wait_for(lambda: self.terminated >= n, timeout_s)

    def take(self) -> list:
        """Every progress event so far, then forget them."""
        with self._cond:
            events, self.progress = self.progress, []
        return events


def progress_durations(events: list) -> dict[str, float]:
    """Seconds per streaming phase, summed over progress events:
    add_batch; commit = walCommit + commitOffsets; planning = queryPlanning
    + getBatch + latestOffset; trigger = triggerExecution."""
    def total(*keys: str) -> float:
        return sum(e.durationMs.get(k, 0) for e in events for k in keys) / 1000.0

    return {
        "add_batch_s": total("addBatch"),
        "commit_s": total("walCommit", "commitOffsets"),
        "planning_s": total("queryPlanning", "getBatch", "latestOffset"),
        "trigger_s": total("triggerExecution"),
    }
