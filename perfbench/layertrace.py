"""Outside-in layer tracing over Spark's own bookkeeping.

Every call the benchmark makes into a layer's public function runs
inside `Tracer.span(layer, op)`. A span puts the call's Spark jobs in a
job group of its own and records its wall interval; nothing inside the
package is touched. After the timed loop, `Tracer.collect` drains the
listener bus, reads the status store for each span's jobs and stages,
and derives per span:

* jobs, stages (that ran, not skipped), tasks
* cpu_s (executor CPU), run_s (executor run time), gc_s (JVM GC)
* input/output/shuffle bytes, SQL "number of files read"
* driver_s: wall time minus the union of the span's job intervals

Statistics are read once, after the loop, so the loop itself pays only
for setting the job group. Spans are plain dicts kept in memory.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str, op: str):
        """Time one layer call. The yielded dict takes extra job groups
        (a streaming query's run id) under "groups" and counts under any
        other key."""
        rec: dict = {"layer": layer, "op": op, "groups": [], "traced": self.enabled}
        sc = self.spark.sparkContext
        if self.enabled:
            group = f"perfbench-{next(self._ids)}-{layer}.{op}"
            sc.setJobGroup(group, f"{layer}.{op}")
            rec["groups"].append(group)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["t0_ms"], rec["t1_ms"] = t0 * 1000, time.time() * 1000
            if rec["traced"]:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.spans.append(rec)

    def collect(self) -> None:
        """Fill every span with its Spark statistics (see module doc)."""
        if not self.spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        bus = jsc.listenerBus()
        bus.waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        files_by_job = _files_read_by_job(self.spark)
        for rec in self.spans:
            job_ids = sorted({j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g)})
            intervals = []
            agg = dict(jobs=len(job_ids), stages=0, tasks=0, cpu_s=0.0, run_s=0.0,
                       gc_s=0.0, input_bytes=0, output_bytes=0, shuffle_bytes=0,
                       files_read=0)
            for jid in job_ids:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                agg["files_read"] += files_by_job.get(jid, 0)
                stage_ids = job.stageIds()
                for i in range(stage_ids.length()):
                    st = store.lastStageAttempt(stage_ids.apply(i))
                    if st.status().toString() == "SKIPPED" or st.numCompleteTasks() == 0:
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += st.numCompleteTasks()
                    agg["cpu_s"] += st.executorCpuTime() / 1e9
                    agg["run_s"] += st.executorRunTime() / 1e3
                    agg["gc_s"] += st.jvmGcTime() / 1e3
                    agg["input_bytes"] += st.inputBytes()
                    agg["output_bytes"] += st.outputBytes()
                    agg["shuffle_bytes"] += st.shuffleWriteBytes()
            covered = _union_ms(intervals, rec["t0_ms"], rec["t1_ms"]) / 1000
            agg["jobs_s"] = covered
            agg["driver_s"] = max(0.0, rec["wall_s"] - covered)
            rec.update(agg)


def _union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _files_read_by_job(spark) -> dict[int, int]:
    """Job id -> SQL metric "number of files read", summed over the
    scans of the SQL execution the job belongs to (charged to the
    execution's first job, so a multi-job execution counts once)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, int] = {}
    execs = sql.executionsList()
    for i in range(execs.length()):
        ex = execs.apply(i)
        jobs = ex.jobs().keys().toList()
        if jobs.length() == 0:
            continue
        first = min(jobs.apply(j) for j in range(jobs.length()))
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes()
        n = 0
        for k in range(nodes.length()):
            metrics = nodes.apply(k).metrics()
            for m in range(metrics.length()):
                metric = metrics.apply(m)
                if metric.name() == "number of files read":
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        n += int(str(v.get()).replace(",", ""))
        out[first] = out.get(first, 0) + n
    return out
