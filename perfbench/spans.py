"""Spans kept in memory, and Spark's own accounting read from its event log.

A span wraps one call the benchmark makes into a layer. Each span is also a
Spark job group, so every job, stage and task the call starts can be read
back from the event log (the UI is disabled) and attributed to it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) sharing one run id. Disabled, it
    times nothing and sets no job group."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"run_id": self.run_id, "name": name, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(parent, parent)

    def add(self, name: str, start: float, end: float, parent: str):
        """A span reconstructed after the fact (pipeline stage walls)."""
        self.spans.append({"run_id": self.run_id, "name": name, "start": start,
                           "end": end, "parent": parent})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Span time minus the time its child spans cover."""
        total = self.seconds(name)
        kids = [s for s in self.spans if s["parent"] == name]
        return total - sum(s["end"] - s["start"] for s in kids)

    def write(self, path: str):
        spans = [dict(s, self_s=self.self_time(s["name"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans}, fh, indent=1)


class EventLog:
    """Per-job-group totals from a finished application's event log."""

    def __init__(self, log_dir: str, app_id: str):
        paths = glob.glob(os.path.join(log_dir, app_id + "*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.group_of_job: dict[int, str | None] = {}
        self.job_of_stage: dict[int, int] = {}
        self.exec_group: dict[int, str | None] = {}
        self.plans: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    self.group_of_job[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        self.job_of_stage.setdefault(sid, ev["Job ID"])
                    if "spark.sql.execution.id" in props:
                        self.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(ev)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]

    def _group_tasks(self, group: str) -> list[dict]:
        return [t for t in self.tasks
                if self.group_of_job.get(self.job_of_stage.get(t["Stage ID"])) == group]

    def jobs(self, group: str) -> int:
        return sum(1 for g in self.group_of_job.values() if g == group)

    def totals(self, group: str) -> dict:
        """Task counts, bytes, spill, GC and the task-time skew of the
        heaviest stage of one job group."""
        tasks = self._group_tasks(group)
        out = defaultdict(float)
        by_stage = defaultdict(list)
        accum = defaultdict(float)
        for t in tasks:
            m = t.get("Task Metrics") or {}
            info = t["Task Info"]
            out["tasks"] += 1
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            out["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            by_stage[t["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)):
                    try:
                        accum[a["Name"]] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            out["max_task_s"] = max(heavy)
            out["median_task_s"] = statistics.median(heavy)
        out["python_bytes_sent"] = accum.get("data sent to Python workers", 0.0)
        out["python_bytes_received"] = accum.get("data returned from Python workers", 0.0)
        out["jobs"] = self.jobs(group)
        return dict(out)

    def _nodes(self, group: str):
        def walk(node):
            yield node
            for child in node.get("children", []):
                yield from walk(child)

        for eid, plan in self.plans.items():
            if self.exec_group.get(eid) == group:
                yield from walk(plan)

    def exchanges(self, group: str) -> int:
        """Shuffle Exchange nodes in the final executed plans of the group."""
        return sum(1 for n in self._nodes(group) if n.get("nodeName") == "Exchange")

    def max_join_rows(self, group: str, key: str) -> int:
        """Largest ``number of output rows`` of a join on ``key`` in the group."""
        ids = {m["accumulatorId"] for n in self._nodes(group)
               if "Join" in n.get("nodeName", "") and f"[{key}#" in n.get("simpleString", "")
               for m in n.get("metrics", []) if m.get("name") == "number of output rows"}
        per_id = defaultdict(float)
        for t in self._group_tasks(group):
            for a in t["Task Info"].get("Accumulables", []):
                if a.get("ID") in ids:
                    per_id[a["ID"]] += float(a.get("Update", 0))
        return int(max(per_id.values(), default=0))
