"""Spark stage ledger: per-layer numbers read from Spark's status store.

Every traced pass runs under its own job group.  Afterwards the ledger
walks the group's jobs and stages (``statusTracker`` for ids,
``statusStore().lastStageAttempt`` for metrics, ``operationGraphForStage``
for the operators a stage holds, ``taskList`` for skew) and maps stages to
the pipeline's layers:

* ``udf``: the stage running ``MapInPandas`` (the OCR kernel, or the
  invoice field kernel plus its normalizer projections);
* ``explode``: the stage whose shuffle output the UDF stage reads (scan +
  explode + round-robin exchange write);
* ``reassembly``: the stage that reads the UDF stage's shuffle output
  (the ``groupBy(doc_id)`` collect and the sink).

Stages are matched by shuffle bytes, not by position, because AQE splits
one query into several jobs and a checkpoint pass interleaves commit jobs
(stats re-reads, lineage appends) that also scan parquet.  UDF stages use
``executorRunTime``: ``executorCpuTime`` leaves out the Python workers.
"""

from __future__ import annotations

import statistics


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _scope_names(graph) -> set[str]:
    names: set[str] = set()
    todo = [graph.rootCluster()]
    while todo:
        c = todo.pop()
        names.add(c.name().strip())
        todo.extend(_seq(c.childClusters()))
    return names


class Ledger:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def run(self, group: str, fn):
        """Run ``fn`` with every job it starts tagged with ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _stage(self, sid: int) -> dict | None:
        st = self.store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            return None
        names = _scope_names(self.store.operationGraphForStage(sid))
        task_ms = [
            t.taskMetrics().get().executorRunTime()
            for t in _seq(self.store.taskList(sid, st.attemptId(), 100000))
            if t.taskMetrics().isDefined()
        ]
        med = statistics.median(task_ms) if task_ms else 0
        return {
            "id": sid,
            "udf": "MapInPandas" in names,
            "run_s": st.executorRunTime() / 1000.0,
            "read_bytes": st.shuffleReadBytes(),
            "write_bytes": st.shuffleWriteBytes(),
            "output_bytes": st.outputBytes(),
            "skew": max(task_ms) / med if med > 0 else 1.0,
        }

    def group(self, group: str) -> dict:
        """Layer numbers of one job group (one pass)."""
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        stages: list[dict] = []
        job_of: dict[int, int] = {}
        job_s: dict[int, float] = {}
        for j in jobs:
            jd = self.store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                job_s[j] = (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                ) / 1000.0
            for sid in self.sc.statusTracker().getJobInfo(j).stageIds:
                st = self._stage(sid)
                if st is not None:
                    stages.append(st)
                    job_of[sid] = j
        udf = [s for s in stages if s["udf"]]
        udf_in = {s["read_bytes"] for s in udf if s["read_bytes"]}
        udf_out = {s["write_bytes"] for s in udf if s["write_bytes"]}
        explode = [s for s in stages if not s["udf"] and s["write_bytes"] in udf_in]
        reasm = [s for s in stages if not s["udf"] and s["read_bytes"] in udf_out]
        pipeline_jobs = {job_of[s["id"]] for s in udf + explode + reasm}
        return {
            "jobs": len(jobs),
            "explode.task_s": sum(s["run_s"] for s in explode),
            "exchange.bytes": sum(s["write_bytes"] for s in explode),
            "udf.task_s": sum(s["run_s"] for s in udf),
            "udf.task_skew": max((s["skew"] for s in udf), default=1.0),
            "reassembly.task_s": sum(s["run_s"] for s in reasm),
            "reassembly.bytes": sum(s["read_bytes"] for s in reasm),
            "pipeline_wall_s": sum(job_s.get(j, 0.0) for j in pipeline_jobs),
            "output_bytes": sum(s["output_bytes"] for s in stages),
        }


def median_of(records: list[dict], key: str) -> float:
    vals = [r[key] for r in records if key in r]
    return float(statistics.median(vals)) if vals else 0.0
