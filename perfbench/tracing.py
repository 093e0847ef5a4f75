"""Per-call Spark counters read from the driver's status stores.

A traced call runs under its own job group. Right after it returns, the
harvester waits for the listener bus to drain and reads, for exactly the
jobs that call launched:

- jobs, tasks, failed tasks, executor run time, CPU and GC time, input
  and shuffle bytes of the stages that ran, from the core status store
  (``SparkContext.statusStore``);
- files read and scan output rows from the SQL status store
  (``SharedState.statusStore``), per ``Scan parquet`` plan node.

Both stores are kept with ``spark.ui.enabled=false``. They keep only the
last 1,000 jobs, stages and SQL executions, so harvesting happens after
every call, and a call whose group is missing jobs fails loudly instead of
under-counting. No ``Observation`` is used and nothing here launches a
Spark job: every read is a py4j call into driver-side state.
"""

from __future__ import annotations

COUNTERS = (
    "jobs", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s", "input_bytes",
    "shuffle_bytes", "files_read", "rows_scanned", "job_s",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _sum_metric(text: str | None) -> int:
    """A SUM-type SQL metric as stored ("1,234"); anything else reads 0."""
    if not text:
        return 0
    try:
        return int(text.replace(",", ""))
    except ValueError:
        return 0


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


class Harvester:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        core = self.sc._jsc.sc()
        self._dag = core.dagScheduler()
        self._bus = core.listenerBus()
        self._store = core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self._counted_stages: set[int] = set()

    def next_job_id(self) -> int:
        """Id the next job will get; the difference across a call is the
        number of jobs it launched, traced or not."""
        return int(self._dag.nextJobId())

    def tag(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def skip_executions(self) -> None:
        """Forget SQL executions run so far (set-up, untraced prep)."""
        self._bus.waitUntilEmpty()
        self._executions()

    def harvest(self, group: str, first_job: int, end_job: int, t0: float, t1: float) -> dict:
        """Counters of the jobs ``first_job`` .. ``end_job - 1``, which must
        all carry job group ``group``; ``t0``/``t1`` are the call's epoch
        seconds, used to split its wall into job time and driver time."""
        self._bus.waitUntilEmpty()
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        want = list(range(first_job, end_job))
        if ids != want:
            raise RuntimeError(
                f"job group {group!r} holds jobs {ids}, the call launched {want}: "
                "the status store lost jobs or a job ran outside the group"
            )
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(ids)
        spans = []
        for jid in ids:
            job = self._store.job(jid)
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                spans.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            for sid in _seq(job.stageIds()):
                if sid in self._counted_stages:
                    continue
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused, nothing ran
                self._counted_stages.add(sid)
                out["tasks"] += stage.numTasks()
                out["failed_tasks"] += stage.numFailedTasks()
                out["task_s"] += stage.executorRunTime() / 1e3
                out["cpu_s"] += stage.executorCpuTime() / 1e9
                out["gc_s"] += stage.jvmGcTime() / 1e3
                out["input_bytes"] += stage.inputBytes()
                out["shuffle_bytes"] += stage.shuffleReadBytes() + stage.shuffleWriteBytes()
        out["job_s"] = _covered_s(spans, t0, t1)
        for eid in self._executions():
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan parquet"):
                    continue
                for m in _seq(node.metrics()):
                    key = {"number of files read": "files_read",
                           "number of output rows": "rows_scanned"}.get(m.name())
                    if key:
                        out[key] += _sum_metric(_opt(values.get(m.accumulatorId())))
        return out

    def _executions(self) -> list[int]:
        """Ids of SQL executions recorded since the last call. Ids are
        sequential; a short look-ahead steps over an id that never posted."""
        found, miss, eid = [], 0, self._next_exec
        while miss < 4:
            if self._sql.execution(eid).isDefined():
                found.append(eid)
                miss = 0
                self._next_exec = eid + 1
            else:
                miss += 1
            eid += 1
        return found
