"""Spans recorded around the benchmark's calls into each layer, and the
per-layer task/shuffle/spill counters read back from Spark's event log.

Spans live in memory (name, start, end, parent, run id) and are written out
once, when the run ends. A span's self time is its duration minus the part
of it that its child spans cover. Jobs are attributed to a layer by the
job description set when the span opens (``setJobDescription``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id, self.spark = run_id, spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        self.label(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.label(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span under the innermost open one."""
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id})

    def label(self, name: str | None) -> None:
        """Tag the jobs that follow with ``name`` (None clears the tag)."""
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = sum(c["end"] - c["start"] for c in self.spans[i + 1:]
                          if c["parent"] == s["name"]
                          and s["start"] <= c["start"] and c["end"] <= s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """{job description: {tasks, task_failures, shuffle_write_mb,
    spill_mb}} summed over every task of every stage the jobs ran.
    Needs ``spark.eventLog.compress=false`` (stdlib json only)."""
    stage_label: dict[int, str] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "(unlabelled)"
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"tasks": 0, "task_failures": 0, "shuffle_write_mb": 0.0,
                 "spill_mb": 0.0})
    for ev in tasks:
        c = out[stage_label.get(ev["Stage ID"], "(unlabelled)")]
        c["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
            c["task_failures"] += 1
        m = ev.get("Task Metrics") or {}
        c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 2**20
        c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return dict(out)
