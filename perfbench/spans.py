"""Span recording and Spark job accounting for the traced run.

Spans (name, start, end, parent, op id) are recorded around calls into
the package from the benchmark's own files, kept in memory, and written
out once when the run ends. With tracing off every method is a cheap
no-op, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        # Seconds spent in the tracer's own bookkeeping: the cost that
        # tracing adds to the traced run.
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, role: str | None = None):
        """Record one call. ``role`` is ``build`` for a call that returns
        a DataFrame plan and ``exec`` for one that runs Spark jobs."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name,
            "role": role,
            "start": 0.0,
            "end": 0.0,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def layer_summary(self) -> dict[str, dict]:
        """Per span name: calls, total, self time (duration minus the
        time its child spans cover) and median duration, in seconds."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        by_name: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            agg = by_name.setdefault(
                s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "_d": []}
            )
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_time[i]
            agg["_d"].append(dur)
        for agg in by_name.values():
            agg["p50_s"] = statistics.median(agg.pop("_d"))
        return by_name

    def per_op_role(self, role: str) -> dict[int, float]:
        """Per operation id, the summed duration of its spans of
        ``role``; operations without such spans are left out."""
        per_op: dict[int, float] = {}
        for s in self.spans:
            if s["role"] == role and s["op"] is not None:
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["end"] - s["start"]
        return per_op

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Per-operation Spark job/stage/task counts from the public
    ``SparkContext.statusTracker()``: each operation runs under its own
    job group (set before the operation, replaced by the next one), and
    the counts are read once the run's operations are done, after the
    status store has caught up."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.groups: list[str] = []
        self.overhead_s = 0.0

    def begin(self, op_id: int) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            group = f"perfbench-op-{op_id}"
            self.sc.setJobGroup(group, group)
            self.groups.append(group)
            self.overhead_s += time.perf_counter() - t0

    def totals(self, timeout_s: float = 30.0) -> dict[str, int]:
        st = self.sc.statusTracker()
        out = {"ops": len(self.groups), "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        deadline = time.monotonic() + timeout_s
        for group in self.groups:
            for job_id in st.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = st.getJobInfo(job_id)
                while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                    time.sleep(0.05)
                    info = st.getJobInfo(job_id)
                for stage_id in info.stageIds if info is not None else ():
                    si = st.getStageInfo(stage_id)
                    while si is not None and si.numActiveTasks and time.monotonic() < deadline:
                        time.sleep(0.05)
                        si = st.getStageInfo(stage_id)
                    if si is None:
                        continue
                    ran = si.numCompletedTasks + si.numFailedTasks
                    if ran:
                        out["stages"] += 1
                        out["tasks"] += ran
                        out["failed_tasks"] += si.numFailedTasks
        return out
