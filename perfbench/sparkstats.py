"""Job, stage and task counters read from the Spark app status store.

Everything is read over py4j from ``SparkContext.statusStore()``, which
the app status listener fills whether or not the web UI runs. Counts
come from the store, not from ``statusTracker`` job groups, because
structured-streaming micro-batch jobs run outside the caller's group.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.procs import tree

#: status-store retention raised so no job of a run is evicted before it
#: is read; passed to the session as extra conf
RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
}

MB = 1024.0 * 1024.0


@dataclass
class StageCounters:
    tasks: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    #: (max task run time / median task run time) of the heaviest stage
    skew: float = 1.0
    heaviest_ms: int = -1

    def add(self, other: "StageCounters") -> None:
        self.tasks += other.tasks
        self.shuffle_read += other.shuffle_read
        self.shuffle_write += other.shuffle_write
        self.spill += other.spill
        if other.heaviest_ms > self.heaviest_ms:
            self.heaviest_ms, self.skew = other.heaviest_ms, other.skew


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    counters: StageCounters = field(default_factory=StageCounters)


class StatusStore:
    """Reads finished jobs from the status store, each job once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._seen_stages: set[int] = set()
        self._read_upto = self._last_job_id()

    def _last_job_id(self) -> int:
        # wait until the listener has seen every event posted so far
        self._bus.waitUntilEmpty(30_000)
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> list[Job]:
        """Every job submitted since the previous call (or since the store
        was opened), with its stage counters."""
        last_id = self._last_job_id()
        out = []
        for jid in range(self._read_upto + 1, last_id + 1):
            jd = self._store.job(jid)
            group = jd.jobGroup()
            job = Job(jid, group.get() if group.isDefined() else None,
                      jd.submissionTime().get().getTime())
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid not in self._seen_stages:
                    self._seen_stages.add(sid)
                    job.counters.add(self._stage(sid))
            out.append(job)
        self._read_upto = last_id
        return out

    def _stage(self, sid: int) -> StageCounters:
        c = StageCounters()
        attempts = self._store.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False,
            self._gw.new_array(self._jvm.double, 0))
        for a in range(attempts.size()):
            s = attempts.apply(a)
            if str(s.status()) == "SKIPPED":
                continue
            run_ms = int(s.executorRunTime())
            c.tasks += int(s.numCompleteTasks())
            c.shuffle_read += int(s.shuffleReadBytes())
            c.shuffle_write += int(s.shuffleWriteBytes())
            c.spill += int(s.diskBytesSpilled())
            if run_ms > c.heaviest_ms:
                c.heaviest_ms, c.skew = run_ms, self._skew(sid, s.attemptId())
        return c

    def _skew(self, sid: int, attempt: int) -> float:
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(sid, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else 1.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Summed peak RSS (VmHWM) of the driver JVM and every process under
    it, i.e. the Python worker daemon and its workers."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return sum(_hwm_kb(p) for p in tree(jvm_pid)) / 1024.0
