"""In-memory spans around calls into the program's layers.

A span records its name, start, end, parent span, the run id, and a Spark
job group set for its duration. When it ends, the Spark status store is
read for the stages of the jobs submitted while it was open (this also
catches a streaming query's micro-batch jobs, which run on Spark's own
thread under the query's group), so each span carries its run time, CPU
time, shuffle, spill, output bytes, job and task counts. Spans are written
to one JSON file when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("run_ms", "cpu_ms", "shuffle_read_b", "shuffle_write_b",
            "spill_b", "out_b", "jobs", "tasks")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = spark._jsc.sc().statusStore()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _counters(self, first_job: int, last_job: int) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        seen: set[int] = set()
        for job_id in range(first_job, last_job + 1):
            try:
                job = self.store.job(job_id)
            except Exception:  # evicted from the store or never submitted
                continue
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
                out["out_b"] += st.outputBytes()
                out["tasks"] += st.numTasks()
        return out

    @contextmanager
    def span(self, name: str, **counts):
        """Open a span; extra keyword values (and any the body adds to the
        yielded dict's ``counts``) are stored with it."""
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "job_group": f"{self.run_id}/{len(self.spans)}/{name}",
               "counts": dict(counts)}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["job_group"], name)
        first_job = self._last_job_id() + 1
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["job_group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["spark"] = self._counters(first_job, self._last_job_id())

    def self_s(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover (children
        of one parent never overlap: they are opened one after another)."""
        children = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == rec["id"])
        return rec["end"] - rec["start"] - children

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": [
                {**s, "self_s": self.self_s(s)} for s in self.spans]},
                fh, indent=1)


class Phases:
    """Consecutive sibling spans, for code that cannot be wrapped in one
    ``with`` block: ``phases(name)`` closes the open phase (if any) and
    opens the next one; ``phases(None)`` only closes."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.name: str | None = None
        self._cm = None

    def __call__(self, name: str | None) -> dict | None:
        if self._cm is not None:
            cm, self._cm, self.name = self._cm, None, None
            cm.__exit__(None, None, None)
        if name is None:
            return None
        self._cm = self.tracer.span(name)
        self.name = name
        return self._cm.__enter__()
