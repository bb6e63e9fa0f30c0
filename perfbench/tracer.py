"""Spans, Spark job groups and event-log counters for the traced run.

Spans (name, start, end, parent) are recorded around the benchmark's
calls into the program's public functions and kept in memory until
:meth:`Tracer.dump`. When a span names a job group, every Spark job
started inside it is tagged with that group (``setJobGroup``), so the
status tracker gives its jobs, stages and tasks, and the event log
gives its executor time, input, shuffle and spill bytes.

A disabled tracer (the untraced run) records nothing and touches no
Spark state: its spans cost one ``perf_counter`` pair.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
# stage accumulables summed per job group
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block; in a traced run also record it as a span and,
        when ``group`` is given, tag its Spark jobs with that group."""
        if not self.enabled:
            t0 = time.perf_counter()
            rec = {"name": name, "start": t0}
            yield rec
            rec["end"] = time.perf_counter()
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if group is not None:
            prev = self._sc.getLocalProperty(_GROUP)
            self._sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty(_GROUP, prev)

    def job_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages run and tasks completed under ``group``, from
        the status tracker (stages skipped by shuffle reuse run no
        task and are not counted)."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run = tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                run += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": run, "tasks": tasks}

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s.get("end", s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, allow_nan=False)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: the stage counters of every completed stage whose
    first job carried that group. Call after the SparkContext stopped,
    when the log is complete."""
    # Spark 4 rolls the log by default: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(("appstatus_", "."))
    )
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = totals[group]
                    for a in info.get("Accumulables", []):
                        key = _STAGE_METRICS.get(a.get("Name"))
                        if key is not None:
                            acc[key] += float(a.get("Value", 0))
    return {g: dict(v) for g, v in totals.items()}
