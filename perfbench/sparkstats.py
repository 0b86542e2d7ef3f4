"""Status-store reader: per-job-group jobs, stages and task metrics.

Reads Spark's AppStatusStore through py4j, which works with
``spark.ui.enabled=false``. Stages are attributed through the jobs of a job
group, never by stage name: Spark names write stages
``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``, whatever
submitted them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from tracing import union_length

_QUANTILES = (0.5, 1.0)


@dataclass
class GroupStats:
    """What one job group (one span) cost the cluster."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # max / median task time in the widest stage
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def driver_gap_s(self, start: float, end: float) -> float:
        """Span wall time not covered by any of its jobs."""
        return (end - start) - union_length(self.job_intervals, start, end)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def read_groups(spark_context) -> dict[str, GroupStats]:
    """GroupStats for every job group the status store still holds."""
    jsc = spark_context._jsc.sc()
    # the store is fed asynchronously by the listener bus
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = spark_context._gateway
    q = gw.new_array(gw.jvm.double, len(_QUANTILES))
    for i, v in enumerate(_QUANTILES):
        q[i] = v

    stages: dict[int, list] = {}
    it = store.stageList(None, True, True, q, None).iterator()
    while it.hasNext():
        s = it.next()
        if str(s.status()) != "SKIPPED":
            stages.setdefault(s.stageId(), []).append(s)

    out: dict[str, GroupStats] = {}
    group_stages: dict[str, dict[int, list]] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        if not job.jobGroup().isDefined():
            continue
        name = job.jobGroup().get()
        g = out.setdefault(name, GroupStats())
        g.jobs += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            g.job_intervals.append((job.submissionTime().get().getTime() / 1000.0,
                                    job.completionTime().get().getTime() / 1000.0))
        for sid in _seq(job.stageIds()):
            if sid in stages:
                group_stages.setdefault(name, {})[sid] = stages[sid]

    for name, by_id in group_stages.items():
        g = out[name]
        widest = None
        for attempts in by_id.values():
            for s in attempts:
                g.stages += 1
                g.tasks += s.numTasks()
                g.executor_ms += s.executorRunTime()
                g.shuffle_read_bytes += s.shuffleReadBytes()
                g.shuffle_write_bytes += s.shuffleWriteBytes()
                g.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if widest is None or s.numTasks() > widest.numTasks():
                    widest = s
        if widest is not None and widest.taskMetricsDistributions().isDefined():
            med, mx = _seq(widest.taskMetricsDistributions().get().executorRunTime())
            g.task_skew = mx / med if med > 0 else 1.0
    return out
