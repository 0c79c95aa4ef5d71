"""Per-operation Spark counters read from outside the engine.

Jobs come from `statusTracker()` by job group: a group the benchmark
sets around its own driver-side calls, or `str(query.runId)`, the group
Structured Streaming gives each trigger's jobs. Jobs submitted from
plain driver threads carry no group; they are collected from the
no-group list and attributed to an operation by submission time.
Stage metrics (executor run and CPU time, shuffle write, spill) come
from the live status store, `sc._jsc.sc().statusStore()`, which works
with the UI disabled. The session keeps only the last 30 jobs and 100
stages, so `JobLog.poll` must run often (at least once per operation)
while work is in flight.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "unattributed_jobs",
)


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submit: float | None = None  # wall seconds
    stage_ids: tuple[int, ...] = ()
    done: bool = False


@dataclass
class JobLog:
    """Accumulates every job of the watched groups, plus no-group jobs."""

    sc: object
    groups: list = field(default_factory=list)
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)  # stage id → metrics dict

    def __post_init__(self) -> None:
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        # jobs that existed before watching began are never attributed
        self._seen_before = set(self._tracker.getJobIdsForGroup(None))
        for g in self.groups:
            self._seen_before |= set(self._tracker.getJobIdsForGroup(g))

    def watch(self, group: str) -> None:
        self.groups.append(group)

    def poll(self) -> None:
        """Pick up new jobs and finish reading the ones that completed."""
        with self._lock:
            for g in [*self.groups, None]:
                for jid in self._tracker.getJobIdsForGroup(g):
                    if jid not in self.jobs and jid not in self._seen_before:
                        self.jobs[jid] = JobRecord(jid, g)
            for rec in self.jobs.values():
                if not rec.done:
                    self._read_job(rec)

    def start(self, interval: float = 0.1) -> None:
        """Poll from a background thread until `stop()`, so jobs of a long
        synchronous call are read before the status store drops them."""

        def loop():
            while not self._stop.wait(interval):
                self.poll()

        self._thread = threading.Thread(target=loop, name="perfbench-joblog", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
        self.poll()

    def _read_job(self, rec: JobRecord) -> None:
        info = self._tracker.getJobInfo(rec.job_id)
        try:
            data = self._store.job(rec.job_id)
        except Exception:  # evicted from the status store before it was read
            info = None
        if info is None:
            rec.done = True
            return
        if data.submissionTime().isDefined():
            rec.submit = data.submissionTime().get().getTime() / 1000.0
        rec.stage_ids = tuple(info.stageIds)
        if data.completionTime().isDefined():
            for sid in rec.stage_ids:
                if sid not in self.stages:
                    self.stages[sid] = self._read_stage(sid)
            rec.done = True

    def _read_stage(self, sid: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # never ran (skipped) or already evicted
            return None
        return {
            "tasks": int(st.numCompleteTasks()),
            "exec_run_s": st.executorRunTime() / 1000.0,
            "exec_cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_write_bytes": int(st.shuffleWriteBytes()),
            "spill_bytes": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
        }

    def counters(self, group: str | None, lo: float, hi: float) -> dict[str, float]:
        """Counters of the jobs of `group` submitted in [lo, hi], plus the
        no-group jobs submitted in that window (`unattributed_jobs`)."""
        mine = [j for j in self.jobs.values()
                if j.submit is not None and lo <= j.submit <= hi and j.group in (group, None)]
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = len(mine)
        out["unattributed_jobs"] = sum(1 for j in mine if j.group is None and group is not None)
        seen: set[int] = set()
        for j in mine:
            for sid in j.stage_ids:
                m = self.stages.get(sid)
                if sid in seen or not m or m["tasks"] == 0:
                    continue
                seen.add(sid)
                out["stages"] += 1
                for k in ("tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes", "spill_bytes"):
                    out[k] += m[k]
        return out
