"""Outside-in layer trace for the benchmark's traced run.

A span wraps one call into a public function of one engine layer. It
records name, start, end, parent and op id in memory, and tags the Spark
jobs it launches with its own job group, so job, stage and task counts
attribute to the span that caused them. Spans are written out once, when
the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op_id": op_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{op_id}-{len(self.spans)}",
            "counts": {},
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(spark_counts(self.sc, rec["group"]))

    def self_ms(self, rec) -> float:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: calls are sequential)."""
        covered = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
        )
        return (rec["end"] - rec["start"] - covered) * 1000.0

    def per_op(self, name: str, key: str = None) -> list:
        """One value per op for span ``name``: its self time in ms, or
        the recorded count or Spark counter ``key``."""
        return [
            self.self_ms(r) if key is None else r["counts"].get(key, r.get(key))
            for r in self.spans
            if r["name"] == name
        ]

    def dump(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        rows = [
            {
                **{k: v for k, v in r.items() if k not in ("start", "end")},
                "start_ms": (r["start"] - t0) * 1000.0,
                "end_ms": (r["end"] - t0) * 1000.0,
                "self_ms": self.self_ms(r),
            }
            for r in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def wait_listener(sc) -> None:
    """Let the status store see every job event posted so far; job-end
    events reach it asynchronously after the action returns."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def spark_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks and failed tasks of one job group,
    from the status tracker. Stages skipped because their shuffle output
    was reused run no tasks and are not counted."""
    wait_listener(sc)
    tracker = sc.statusTracker()
    stages = set()
    jobs = tracker.getJobIdsForGroup(group)
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = executed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is None:
            continue
        if st.numCompletedTasks or st.numFailedTasks:
            executed += 1
        tasks += st.numCompletedTasks
        failed += st.numFailedTasks
    return {
        "spark.jobs": len(jobs),
        "spark.stages": executed,
        "spark.tasks": tasks,
        "spark.tasks_failed": failed,
    }


def event_log_metrics(log_dir: str) -> dict:
    """Executor metrics per job group from an uncompressed event log:
    {group: {metric: total}}. Stages map to the group of the first job
    that lists them. Spark writes one directory of rolled ``events_*``
    files per application."""
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(log_dir)
        for f in names
        if f.startswith("events_")
    )
    stage_group = {}
    out = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    group = stage_group.get(ev.get("Stage ID"))
                    if not m or group is None:
                        continue
                    acc = out[group]
                    acc["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["spark.jvm_gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["spark.shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


def median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
