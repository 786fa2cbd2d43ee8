"""Spans recorded from the benchmark's own files, and the Spark event
log reader for the traced run.

A span is (name, start, end, parent, run id). Spans live in memory and
are written as one JSON file when the run ends. Stage metrics are read
from the uncompressed event log Spark writes when
``spark.eventLog.enabled`` is set; only jobs started under the traced
job group (or a group named after it, such as a leaf's build group)
are counted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid

TRACE_GROUP = "perfbench-traced"


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def read_event_logs(log_dir: str) -> dict:
    """Job, task and stage totals of the jobs started under TRACE_GROUP
    or a group whose name starts with it
    (TaskEnd fields as in the Spark listener JSON protocol)."""
    stages: set[int] = set()
    jobs = 0
    durations: list[float] = []
    shuffle_w = spill = gc = 0
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in files:
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            if ev.get("Event") != "SparkListenerJobStart":
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(TRACE_GROUP):
                jobs += 1
                stages.update(ev.get("Stage IDs", []))
        # stage ids restart in every application, so match per file
        for ev in events:
            if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stages:
                continue
            ti = ev.get("Task Info", {})
            durations.append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
            tm = ev.get("Task Metrics") or {}
            shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            gc += tm.get("JVM GC Time", 0)
        stages = set()
    durations.sort()
    n = len(durations)
    return {
        "spark.jobs": jobs,
        "spark.tasks": n,
        "spark.task_p50_ms": durations[n // 2] if n else 0,
        "spark.task_max_ms": durations[-1] if n else 0,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.gc_ms": gc,
    }
