"""Spans, Spark job-group counts and the event-log reduction.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent); they stay in memory and are written once,
when the run ends.  A span's self time is its duration minus the part
of it that its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Duration of the last finished span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        raise KeyError(name)

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        out = {}
        for rec in self.spans:
            covered, last = 0.0, rec["start"]
            for k in sorted(kids.get(rec["id"], []), key=lambda r: r["start"]):
                lo, hi = max(k["start"], last), min(k["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[rec["id"]] = (rec["end"] - rec["start"]) - covered
        return out

    def write(self, path: str) -> float:
        """Write spans with self times; return the smallest self time."""
        selfs = self.self_times()
        recs = [dict(r, self=selfs[r["id"]]) for r in self.spans]
        with open(path, "w") as f:
            json.dump(recs, f, indent=1)
        return min(selfs.values()) if selfs else 0.0


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(spark, group: str) -> dict[str, int]:
    """Exact jobs, stages and tasks that ran under a job group, from the
    status tracker (skipped stages never run, so they are not counted)."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": n_stages, "spark.tasks": n_tasks}


# stage accumulable name -> (metric, scale)
_STAGE_METRICS = {
    "internal.metrics.shuffle.write.bytesWritten": ("spark.shuffle_write_bytes", 1.0),
    "internal.metrics.shuffle.write.recordsWritten": ("spark.shuffle_write_records", 1.0),
    "internal.metrics.executorRunTime": ("spark.executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("spark.jvm_gc_s", 1e-3),
    "data sent to Python workers": ("spark.python_bytes_to_worker", 1.0),
    "data returned from Python workers": ("spark.python_bytes_from_worker", 1.0),
}
EVENT_LOG_METRICS = sorted({m for m, _ in _STAGE_METRICS.values()})


def reduce_event_log(log_dir: str, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job run under ``group``, read from
    Spark's own (uncompressed) event log after the session stopped."""
    # glob skips the hidden .crc checksum files next to each log file
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    stage_ids: set[int] = set()
    completed: dict[int, list] = {}
    for p in files:
        with open(p) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stage_ids.update(ev["Stage IDs"])
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    completed[info["Stage ID"]] = info.get("Accumulables", [])
    out = {m: 0.0 for m in EVENT_LOG_METRICS}
    for s in stage_ids & completed.keys():
        for acc in completed[s]:
            hit = _STAGE_METRICS.get(acc.get("Name"))
            if hit is not None:
                out[hit[0]] += float(acc.get("Value", 0)) * hit[1]
    return out
