"""Spans and Spark status-store counters for the traced run.

Every leaf span (one phase of one op) runs under its own Spark job
group.  When the span closes, the listener bus is drained (as
``smile_spark/plans/audit.py`` does) and the span's jobs, their stages
and per-stage task-time quantiles are read from the application's
status store at once, before ``spark.ui.retainedJobs`` can evict them.
The store objects are serialized to JSON inside the JVM with the
Jackson mapper Spark ships, so one read costs one py4j call per job or
stage.  Each span also records the bytes and files the op wrote to the
warehouse directory, where the persisted index and label tables and
their sidecars live.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    attrs: dict
    start: float = 0.0
    end: float = 0.0
    job_count: int = 0
    jobs: list = field(default_factory=list)  # [(submit_s, complete_s)]
    stages: list = field(default_factory=list)  # stage dicts
    bytes_written: int = 0
    files_written: int = 0
    jobs_launched: int = 0  # every job the scheduler started in the span

    @property
    def wall(self) -> float:
        return self.end - self.start


def warehouse_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


_STAGE_KEYS = (
    "stageId", "attemptId", "status", "numTasks", "executorRunTime",
    "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


class Tracer:
    """Collects spans for one run; see the module docstring."""

    def __init__(self, spark, warehouse: str):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._dag = self._jsc.dagScheduler()
        jvm = self._sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)
        self._quantiles = self._sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.warehouse = warehouse
        self._seen_stages: set[int] = set()
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    @contextlib.contextmanager
    def span(self, name: str, leaf: bool = False, **attrs):
        """Open a span; a ``leaf`` span runs under its own job group
        and records the jobs, stages and warehouse writes inside it."""
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, attrs)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        group = f"perfbench-{sp.span_id}"
        before = warehouse_files(self.warehouse) if leaf else None
        if leaf:
            self._sc.setJobGroup(group, name)
        first_job = self._dag.nextJobId()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.jobs_launched = self._dag.nextJobId() - first_job
            self._stack.pop()
            if leaf:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                self._collect(sp, group, before)

    def _collect(self, sp: Span, group: str, before: dict) -> None:
        after = warehouse_files(self.warehouse)
        changed = [p for p, v in after.items() if before.get(p) != v]
        sp.files_written = len(changed)
        sp.bytes_written = sum(after[p][0] for p in changed)
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        sp.job_count = len(job_ids)
        for job_id in sorted(job_ids):
            job = self._json(self._store.job(job_id))
            submit = job.get("submissionTime")
            done = job.get("completionTime")
            if submit is not None and done is not None:
                sp.jobs.append((submit / 1000.0, done / 1000.0))
            for sid in job["stageIds"]:
                if sid in self._seen_stages:
                    continue
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage["status"] == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                rec = {k: stage.get(k) or 0 for k in _STAGE_KEYS}
                rec["status"] = stage["status"]
                summary = self._store.taskSummary(
                    sid, stage["attemptId"], self._quantiles
                )
                if summary.isDefined():
                    dur = self._json(summary.get())["duration"]
                    rec["task_median_ms"], rec["task_max_ms"] = dur
                sp.stages.append(rec)

    def write(self, path: str) -> None:
        """Write every span as JSON (name, start, end, parent and the
        span's counters)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = [
            {
                "id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                **s.attrs,
                "jobs": s.job_count,
                "jobs_launched": s.jobs_launched,
                "stages": len(s.stages),
                "bytes_written": s.bytes_written,
                "files_written": s.files_written,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
