"""Reads the Spark event log of a traced run: job submissions and task
metrics, attributed to a job group or to a time window."""

from __future__ import annotations

import json
import os


class EventLog:
    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []  # {"id", "time" (epoch s), "group", "stages"}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metrics
        for base, _dirs, names in sorted(os.walk(log_dir)):
            for name in sorted(names):
                with open(os.path.join(base, name)) as fh:
                    for line in fh:
                        self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append({
                "id": e["Job ID"],
                "time": e["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "stages": e.get("Stage IDs", []),
            })
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            self.tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])

    def jobs_in(self, start: float, end: float) -> int:
        return sum(1 for j in self.jobs if start <= j["time"] <= end)

    def group_metrics(self, group: str) -> dict[str, float]:
        """Shuffle bytes written, bytes spilled, executor run time and JVM
        GC time summed over the tasks of every job in ``group``."""
        stages = {s for j in self.jobs if j["group"] == group for s in j["stages"]}
        out = {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "executor_run_s": 0.0, "gc_s": 0.0}
        for s in stages:
            for m in self.tasks.get(s, []):
                out["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        return out
