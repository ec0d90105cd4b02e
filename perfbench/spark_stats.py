"""Read-outs from Spark's own status stores after a group of jobs: job
walls, stage task metrics, and the SQL metrics of each execution (where
MapInArrow reports its Python-boundary counters)."""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from .metrics import parse_sql_metric

#: status-store listeners run on their own thread; an action can return
#: before its job-end event is applied
SETTLE_TIMEOUT_S = 30.0


def _iterate(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._next_execution = 0  # SQL execution ids are consecutive

    @contextmanager
    def group(self, out: dict):
        """Run the body's jobs in a fresh job group; on exit fill ``out``
        with ``jobs``, ``stages`` and ``sql`` read-outs for them."""
        gid = "perfbench-" + uuid.uuid4().hex
        self.sc.setJobGroup(gid, gid)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        out.update(self.read(sorted(self.sc.statusTracker().getJobIdsForGroup(gid))))

    def _settled_jobs(self, job_ids: list[int]) -> list:
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = [self.store.job(j) for j in job_ids]
            if all(j.completionTime().isDefined() for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def read(self, job_ids: list[int]) -> dict:
        jobs, stages = [], dict.fromkeys(("output_bytes", "shuffle_write_bytes", "cpu_s", "gc_s"), 0)
        for jd in self._settled_jobs(job_ids):
            jobs.append({
                "id": jd.jobId(),
                "submit": jd.submissionTime().get().getTime() / 1000,
                "complete": jd.completionTime().get().getTime() / 1000,
            })
            for sid in _iterate(jd.stageIds()):
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                stages["output_bytes"] += sd.outputBytes()
                stages["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                stages["cpu_s"] += sd.executorCpuTime() / 1e9
                stages["gc_s"] += sd.jvmGcTime() / 1e3
        return {"jobs": jobs, "stages": stages, "sql": self._sql(set(job_ids))}

    def _sql(self, job_ids: set[int]) -> list[dict]:
        """SQL metric totals, summed by name over distinct accumulators, for
        every execution that ran one of ``job_ids``."""
        out = []
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            found = self.sql.execution(self._next_execution)
            if not found.isDefined():
                break
            ex = found.get()
            self._next_execution += 1
            if not any(ex.jobs().contains(j) for j in job_ids):
                continue
            eid = ex.executionId()
            while (not self.sql.execution(eid).get().completionTime().isDefined()
                   and time.monotonic() < deadline):
                time.sleep(0.05)
            ex = self.sql.execution(eid).get()
            values = self.sql.executionMetrics(eid)
            totals: dict[str, float] = {}
            seen = set()
            for m in _iterate(ex.metrics()):
                acc = m.accumulatorId()
                v = values.get(acc)
                if acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                totals[m.name()] = totals.get(m.name(), 0.0) + parse_sql_metric(v.get())
            out.append({"execution": eid, "jobs": sorted(j for j in job_ids if ex.jobs().contains(j)),
                        "metrics": totals})
        return out


def sql_total(readout: dict, name: str) -> float:
    return sum(e["metrics"].get(name, 0.0) for e in readout["sql"])
