"""Spans, Spark job attribution and event-log metrics for traced runs.

A span is (id, name, parent, start, end). ``Tracer.span`` tags every
Spark job the wrapped call starts with the job group ``<name>`` and,
on exit, reads the call's jobs and tasks from ``statusTracker``. Jobs
that the program starts from its own pool threads carry no group
(job groups are thread-local), so the ungrouped jobs that appeared
during the span are counted too; the loop is closed, so nothing else
runs meanwhile. Spans stay in memory until ``dump``.

Shuffle and spill bytes are not in ``statusTracker``: ``EventLogTotals``
reads them from the Spark event log after the session stops and
attributes each job to the span that was open when it was submitted.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _tasks(self, job_ids) -> int:
        st = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                total += info.numCompletedTasks
        return total

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the block; yields the span dict so the
        caller can attach counts. Spans nest through a parent stack."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self._ungrouped()
        self.sc.setJobGroup(name, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else None
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(name))
            jobs |= self._ungrouped() - before
            rec["jobs"] = len(jobs)
            rec["tasks"] = self._tasks(jobs)

    def wall(self, span: dict) -> float:
        return span["end"] - span["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class EventLogTotals:
    """Per-span shuffle-write and spill bytes from a Spark event log
    directory (read after ``spark.stop()``, which flushes the log)."""

    def __init__(self, log_dir: str):
        self.jobs: list[tuple[float, list[int]]] = []  # (submit s, stage ids)
        self.stage_shuffle: dict[int, int] = {}
        self.stage_spill: dict[int, int] = {}
        for path in sorted(glob.glob(f"{log_dir}/*")):  # one uncompressed log
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append((ev["Submission Time"] / 1000.0, list(ev["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.stage_shuffle[sid] = self.stage_shuffle.get(sid, 0) + written
            spilled = m.get("Disk Bytes Spilled", 0)
            self.stage_spill[sid] = self.stage_spill.get(sid, 0) + spilled

    def totals(self, start: float, end: float) -> tuple[int, int]:
        """(shuffle bytes written, disk bytes spilled) by the stages of
        the jobs submitted in [start, end]; a stage shared by two jobs
        counts once."""
        stages = {s for t, ids in self.jobs if start <= t <= end for s in ids}
        return (
            sum(self.stage_shuffle.get(s, 0) for s in stages),
            sum(self.stage_spill.get(s, 0) for s in stages),
        )
