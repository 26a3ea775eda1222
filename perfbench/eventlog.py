"""Spark event-log parser: per-span layer metrics and the plan census.

The harness tags every span it times (``sc.addJobTag``), and Spark
copies the tags into each job, stage and SQL execution it records in
the event log, broadcast jobs included. This module reads one
uncompressed, non-rolling event log (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) and sums the executor, shuffle,
source and Python-worker counters of everything a tag owns. No UI, REST
API or network is involved.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

from stats import covered, gaps

PY_NODE = re.compile(r"InPandas|EvalPython|InArrow|PythonUDTF|ArrowPython")
SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

MB = 1024.0 * 1024.0

# counters summed over the tasks (and driver updates) a span owns
COUNTERS = (
    "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "shuffle_write_s", "fetch_wait_s",
    "spill_mb", "scan_mb", "scan_rows", "write_mb", "write_rows", "write_files",
    "write_s", "py_run_s", "py_sent_mb", "py_returned_mb",
)


def event_log_path(log_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def _tags(props: dict | None) -> frozenset:
    raw = (props or {}).get("spark.job.tags") or ""
    return frozenset(t for t in raw.split(",") if t)


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def census(plan: dict | None) -> dict:
    """Node counts of one physical plan (``sparkPlanInfo`` tree)."""
    nodes: dict[str, int] = defaultdict(int)
    for node in _walk(plan or {}):
        if "nodeName" in node:
            nodes[node["nodeName"].strip()] += 1
    return {
        "exchanges": nodes.get("Exchange", 0) + nodes.get("BroadcastExchange", 0),
        "bnl_joins": nodes.get("BroadcastNestedLoopJoin", 0)
        + nodes.get("CartesianProduct", 0),
        "cached_scans": nodes.get("InMemoryTableScan", 0),
        "python_nodes": sum(c for n, c in nodes.items() if PY_NODE.search(n)),
        "nodes": dict(sorted(nodes.items())),
    }


class AppLog:
    """Jobs, stages, task counters and final plans of one application."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_tags: dict[int, frozenset] = {}
        self.stage_counts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.python_stages: set[int] = set()
        self.exec_tags: dict[int, frozenset] = {}
        self.exec_plan: dict[int, dict] = {}
        self.exec_counts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.accum_name: dict[int, str] = {}
        for ev in events:
            self._add(ev)

    @classmethod
    def read(cls, path: str) -> "AppLog":
        def events():
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        return  # a truncated last line of an unfinished log
        return cls(events())

    def _learn_metrics(self, plan: dict) -> None:
        for node in _walk(plan):
            for m in node.get("metrics", ()):
                self.accum_name[m["accumulatorId"]] = m["name"]

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "tags": _tags(ev.get("Properties")),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            self.stage_tags[sid] = _tags(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            self._add_task(ev)
        elif kind == SQL_EXEC_START:
            eid = ev["executionId"]
            self.exec_tags[eid] = frozenset(ev.get("jobTags") or ())
            self.exec_plan[eid] = ev.get("sparkPlanInfo")
            self._learn_metrics(ev.get("sparkPlanInfo") or {})
        elif kind == SQL_AQE_UPDATE:
            self.exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo")
            self._learn_metrics(ev.get("sparkPlanInfo") or {})
        elif kind == SQL_AQE_METRICS:
            for m in ev.get("sqlPlanMetrics", ()):
                self.accum_name[m["accumulatorId"]] = m["name"]
        elif kind == SQL_DRIVER_ACCUM:
            counts = self.exec_counts[ev["executionId"]]
            for acc_id, value in ev.get("accumUpdates", ()):
                if self.accum_name.get(acc_id) == "number of written files":
                    counts["write_files"] += float(value)

    def _add_task(self, ev: dict) -> None:
        sid = ev["Stage ID"]
        c = self.stage_counts[sid]
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        inp = tm.get("Input Metrics") or {}
        out = tm.get("Output Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        c["tasks"] += 1
        c["run_s"] += run_s
        c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        c["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        c["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        c["scan_mb"] += inp.get("Bytes Read", 0) / MB
        c["scan_rows"] += inp.get("Records Read", 0)
        written = out.get("Bytes Written", 0)
        c["write_mb"] += written / MB
        c["write_rows"] += out.get("Records Written", 0)
        if written:
            c["write_s"] += run_s
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name")
            try:
                update = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == "time to run Python workers":
                c["py_run_s"] += update / 1000.0
                self.python_stages.add(sid)
            elif name == "data sent to Python workers":
                c["py_sent_mb"] += update / MB
                self.python_stages.add(sid)
            elif name == "data returned from Python workers":
                c["py_returned_mb"] += update / MB
            elif name == "number of written files":
                c["write_files"] += update

    def span(self, tag: str) -> dict:
        """Layer counters of everything Spark recorded under ``tag``."""
        jobs = [j for j in self.jobs.values() if tag in j["tags"]]
        stages = [s for s, tags in self.stage_tags.items() if tag in tags]
        execs = [e for e, tags in self.exec_tags.items() if tag in tags]
        out = {k: 0.0 for k in COUNTERS}
        for sid in stages:
            for k, v in self.stage_counts.get(sid, {}).items():
                out[k] += v
        for eid in execs:
            out["write_files"] += self.exec_counts.get(eid, {}).get("write_files", 0.0)
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        out["python_stages"] = len([s for s in stages if s in self.python_stages])
        out["job_intervals"] = sorted(
            (j["start"], j["end"]) for j in jobs if j["end"] is not None
        )
        plans = [census(self.exec_plan.get(e)) for e in sorted(execs)]
        out["census"] = merge_census(plans)
        return out


def merge_census(parts) -> dict:
    total = {"exchanges": 0, "bnl_joins": 0, "cached_scans": 0, "python_nodes": 0}
    nodes: dict[str, int] = defaultdict(int)
    for part in parts:
        for k in total:
            total[k] += part[k]
        for n, c in part["nodes"].items():
            nodes[n] += c
    total["nodes"] = dict(sorted(nodes.items()))
    return total


def plan_seconds(wall: tuple[float, float], job_intervals) -> float:
    """Driver time of an action span not covered by any of its jobs."""
    lo, hi = wall
    return max(0.0, (hi - lo) - covered(job_intervals, lo, hi))


def job_gap_seconds(job_intervals) -> float:
    """Driver time between consecutive jobs of one entry execution."""
    return gaps(job_intervals)
