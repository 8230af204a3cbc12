"""In-memory spans and per-op Spark metrics for the traced run.

Spans are recorded by the benchmark around its own calls into each layer
(``run`` > ``setup`` > ``session.start`` / ``warmup``; ``op`` >
``queries.build`` / ``queries.action`` or ``export.main`` > ``collection``)
and kept in memory until the run ends. Spark jobs are attached as child
spans of the op that ran them, from the driver's UI REST API, filtered by
the op's job group and read right after the op (the status listener is
asynchronous and the UI keeps only the last 1000 jobs and stages).
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op, so the
    untraced run pays nothing for the instrumentation points."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.time(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a finished span (job-log collections, Spark jobs)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, parent, attrs))

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part of the interval its children cover)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            dur = s.end - s.start
            covered = _union([(max(c.start, s.start), min(c.end, s.end))
                              for c in kids.get(s.sid, [])])
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _ts(s: str) -> float:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkProbe:
    """Reads one job group's jobs, stages and SQL executions from the
    driver's UI REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.sql_seen = 0

    def mark(self) -> None:
        """Call right before an op: SQL executions after this belong to it."""
        self.sql_seen += len(self._get(self._sql_page()))

    def _sql_page(self) -> str:
        return f"/sql?details=false&planDescription=false&offset={self.sql_seen}&length=100000"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def read(self, group: str) -> dict:
        """Metrics of every job in ``group``; waits until the status store
        has seen each job and stage finish."""
        tracker = self.sc.statusTracker()
        ids = sorted(tracker.getJobIdsForGroup(group))
        deadline = time.time() + 30
        while True:
            jobs = [self._get(f"/jobs/{i}") for i in ids]
            done = all(j["status"] != "RUNNING" for j in jobs)
            stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
            stages = [a for s in stage_ids for a in self._get(f"/stages/{s}")]
            ran = [a for a in stages if a["status"] != "SKIPPED"]
            if done and all(a["status"] in ("COMPLETE", "FAILED") for a in ran):
                break
            if time.time() > deadline:
                raise TimeoutError(f"status store never finished job group {group}")
            time.sleep(0.02)
        new = self._get(self._sql_page())
        self.sql_seen += len(new)
        job_spans = [
            (_ts(j["submissionTime"]), _ts(j["completionTime"]), j["jobId"])
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(a["numCompleteTasks"] + a["numFailedTasks"] for a in ran),
            "task_failures": sum(a["numFailedTasks"] for a in ran),
            "sql_execs": len(new),
            "executor_run_s": sum(a["executorRunTime"] for a in ran) / 1e3,
            "executor_cpu_s": sum(a["executorCpuTime"] for a in ran) / 1e9,
            "gc_s": sum(a["jvmGcTime"] for a in ran) / 1e3,
            "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in ran),
            "shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in ran),
            "spill_bytes": sum(a["diskBytesSpilled"] for a in ran),
            "input_bytes": sum(a["inputBytes"] for a in ran),
            "output_bytes": sum(a["outputBytes"] for a in ran),
            "job_spans": job_spans,
        }


def job_cover(job_spans, start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one job's submit→complete."""
    return _union([(max(a, start), min(b, end)) for a, b, _ in job_spans])
