"""Spans, Spark job groups and the per-layer counts read at span boundaries.

Every span the benchmark opens around a call into an engine layer is kept
in memory (name, start, end, parent, op id) and summarized at the end.
Spans that may fire Spark jobs run under their own job group, so jobs,
stages and tasks read back from the status REST API are attributed to the
span (plan build versus execution) that caused them.  The same job group is
what a per-op timer cancels when an op overruns its cap.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    group: str | None = None
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one run.  ``span(..., group=True)`` also sets a
    Spark job group named after the span, which :meth:`cap` cancels."""

    def __init__(self, spark, op_cap_s: float):
        self.sc = spark.sparkContext
        self.op_cap_s = op_cap_s
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._group: str | None = None

    @contextmanager
    def span(self, name: str, *, op: str | None = None, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        idx = len(self.spans)
        gname = f"pb:{idx}:{name}" if group else None
        sp = Span(name, 0.0, parent=parent, op=self._op, group=gname)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        prev_group = self._group
        if gname:
            self.sc.setJobGroup(gname, name, interruptOnCancel=True)
            self._group = gname
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if gname:
                self._group = prev_group
                if prev_group:
                    self.sc.setJobGroup(prev_group, prev_group, interruptOnCancel=True)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            if op is not None:
                self._op = None

    @contextmanager
    def cap(self):
        """Cancel the current job group if the enclosed op overruns."""
        timer = threading.Timer(self.op_cap_s, self._cancel)
        timer.daemon = True
        timer.start()
        try:
            yield
        finally:
            timer.cancel()

    def _cancel(self) -> None:
        if self._group:
            self.sc.cancelJobGroup(self._group)

    def descendants(self, root: int) -> list[Span]:
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(self.spans[i].children)
        return out


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


class StatusReader:
    """Jobs and stages from the session's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        jobs = self._get("/jobs")
        stages = {}
        for st in self._get("/stages"):
            # keep the latest attempt of each stage
            if st["stageId"] not in stages or st["attemptId"] > stages[st["stageId"]]["attemptId"]:
                stages[st["stageId"]] = st
        return jobs, stages


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def scheduler_exec_counts(
    spans: list[Span], jobs: list[dict], stages: dict[int, dict], slots: int
) -> dict[str, float]:
    """Scheduler and executor counts for the jobs fired inside ``spans``.

    A job belongs to the span whose job group it carries; a job under a
    group of Spark's own (a streaming query's micro-batches run under its
    run id) belongs to the grouped span it was submitted in.  A stage is
    attributed to the first job that lists it.  The scheduler gap is the
    part of each execution span's wall time during which none of its stages
    was running."""
    grouped = [sp for sp in spans if sp.group]
    by_group = {sp.group: sp for sp in grouped}

    def submitted_in(job: dict) -> Span | None:
        t = _rest_time(job.get("submissionTime"))
        return next((sp for sp in grouped if t is not None and sp.start <= t <= sp.end), None)

    owner: dict[int, Span] = {}
    n_jobs = build_jobs = 0
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sp = by_group.get(job.get("jobGroup")) or submitted_in(job)
        if sp is None:
            continue
        n_jobs += 1
        build_jobs += sp.name == "plans.build"
        for sid in job.get("stageIds", []):
            owner.setdefault(sid, sp)
    out = {
        "scheduler.jobs": n_jobs, "plans.build_jobs": build_jobs,
        "scheduler.stages": 0, "scheduler.tasks": 0, "scheduler.gap_s": 0.0,
        "exec.task_run_s": 0.0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.0,
        "exec.input_bytes": 0, "exec.shuffle_write_bytes": 0,
        "exec.shuffle_read_bytes": 0, "exec.spill_bytes": 0,
    }
    running: dict[int, list[tuple[float, float]]] = {}
    for sid, sp in owner.items():
        st = stages.get(sid)
        if st is None or st.get("status") not in ("COMPLETE", "FAILED"):
            continue  # skipped: its output was reused from an earlier stage
        out["scheduler.stages"] += 1
        out["scheduler.tasks"] += st.get("numTasks", 0)
        out["exec.task_run_s"] += st.get("executorRunTime", 0) / 1e3
        out["exec.task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
        out["exec.input_bytes"] += st.get("inputBytes", 0)
        out["exec.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["exec.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        out["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        s, e = _rest_time(st.get("submissionTime")), _rest_time(st.get("completionTime"))
        if s is not None and e is not None:
            i = spans.index(sp)
            running.setdefault(i, []).append((max(s, sp.start), min(e, sp.end)))
    exec_wall = 0.0
    for i, sp in enumerate(spans):
        if not sp.group or sp.name == "plans.build":
            continue
        exec_wall += sp.dur
        ivs = [(s, e) for s, e in running.get(i, []) if e > s]
        out["scheduler.gap_s"] += sp.dur - _union_len(ivs)
    out["exec.busy_share"] = out["exec.task_run_s"] / (exec_wall * slots) if exec_wall else 0.0
    return out


class StreamingProgress:
    """Collects ``StreamingQueryProgress.durationMs`` of every micro-batch."""

    KEYS = {
        "triggerExecution": "streaming.trigger_ms",
        "addBatch": "streaming.add_batch_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
        "latestOffset": "streaming.latest_offset_ms",
        "queryPlanning": "streaming.query_planning_ms",
    }

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)
