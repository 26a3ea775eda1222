"""Tests of the benchmark's own code: statistics, intervals, event-log parsing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import (  # noqa: E402
    SQL_AQE_UPDATE,
    SQL_DRIVER_ACCUM,
    SQL_EXEC_START,
    AppLog,
    census,
    event_log_path,
    job_gap_seconds,
    plan_seconds,
)
from stats import covered, gaps, tail_percentile, union  # noqa: E402
from workloads import WORKLOADS  # noqa: E402
from run import schedule  # noqa: E402


# ------------------------------------------------------------ tail rule


def test_tail_needs_twenty_samples():
    assert tail_percentile(range(19)) is None
    assert tail_percentile(range(20)) == (50, 9, 20)


@pytest.mark.parametrize("n", [20, 21, 25, 30, 42, 57, 100, 1000])
def test_tail_is_highest_percentile_with_ten_above(n):
    xs = list(range(n))
    p, value, count = tail_percentile(reversed(xs))
    assert count == n
    assert sum(1 for x in xs if x > value) >= 10
    # one percentile higher would leave fewer than ten samples above
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_of_known_sample():
    # 42 samples: p = floor(100 * 32 / 42) = 76, rank ceil(31.92) = 32
    assert tail_percentile([float(i) for i in range(1, 43)]) == (76, 32.0, 42)


# ------------------------------------------------------------ intervals


def test_union_merges_overlapping_and_touching():
    assert union([(5, 6), (0, 2), (1, 3), (3, 4)]) == [(0, 4), (5, 6)]


def test_covered_clips_to_window():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2.5


def test_gaps_between_jobs():
    assert gaps([]) == 0
    assert gaps([(0, 1), (0.5, 2), (3, 4), (6, 7)]) == 3


def test_plan_seconds_is_action_wall_minus_job_union():
    # action 10..14; jobs cover 11..12.5 and 13..13.5 (one overlaps twice)
    jobs = [(11, 12), (11.5, 12.5), (13, 13.5), (20, 21)]
    assert plan_seconds((10, 14), jobs) == pytest.approx(2.0)
    assert plan_seconds((10, 10.5), []) == pytest.approx(0.5)


def test_job_gap_seconds():
    assert job_gap_seconds([(1, 2), (2.5, 3), (2.6, 2.8)]) == pytest.approx(0.5)


# ------------------------------------------------------------ event log


def _plan(*names, metrics=()):
    node = {"nodeName": names[-1], "children": [], "metrics": list(metrics)}
    for name in reversed(names[:-1]):
        node = {"nodeName": name, "children": [node], "metrics": []}
    return node


def _task(stage, run_ms, cpu_ns, *, shuffle_w=0, read=0, rows=0, out=0, acc=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": str(v)} for i, n, v in acc]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2 * 1048576,
                                     "Fetch Wait Time": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w,
                                      "Shuffle Write Time": 2_000_000},
            "Input Metrics": {"Bytes Read": read, "Records Read": rows},
            "Output Metrics": {"Bytes Written": out, "Records Written": out // 10},
        },
    }


def _events():
    props = {"spark.job.tags": "t:build"}
    aprops = {"spark.job.tags": "t:action,spark-session-x"}
    files = {"name": "number of written files", "accumulatorId": 77,
             "metricType": "sum"}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props},
        _task(0, 100, 50_000_000, read=1048576, rows=500),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": SQL_EXEC_START, "executionId": 3, "jobTags": ["t:action"],
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "Exchange", "Scan parquet")},
        {"Event": SQL_AQE_UPDATE, "executionId": 3, "sparkPlanInfo": _plan(
            "AdaptiveSparkPlan", "BroadcastNestedLoopJoin", "BroadcastExchange",
            "MapInPandas", "InMemoryTableScan", "Execute InsertIntoHadoopFsRelationCommand",
            metrics=[files])},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Properties": aprops},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": aprops},
        _task(1, 200, 150_000_000, shuffle_w=3 * 1048576, out=4000,
              acc=[(9, "time to run Python workers", 120),
                   (10, "data sent to Python workers", 1048576),
                   (11, "data returned from Python workers", 524288)]),
        _task(1, 300, 250_000_000),
        {"Event": SQL_DRIVER_ACCUM, "executionId": 3, "accumUpdates": [[77, 2]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Properties": {"spark.job.tags": "other"}},
    ]


@pytest.fixture
def applog(tmp_path):
    path = tmp_path / "local-1"
    with open(path, "w") as fh:
        for ev in _events():
            fh.write(json.dumps(ev) + "\n")
        fh.write('{"Event": "SparkListenerTaskEnd", "Stage')  # truncated tail
    assert event_log_path(str(tmp_path), "local-1") == str(path)
    return AppLog.read(str(path))


def test_build_span_counters(applog):
    b = applog.span("t:build")
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 1)
    assert b["job_intervals"] == [(1.0, 1.5)]
    assert b["run_s"] == pytest.approx(0.1)
    assert b["cpu_s"] == pytest.approx(0.05)
    assert b["scan_mb"] == pytest.approx(1.0)
    assert b["scan_rows"] == 500
    assert b["python_stages"] == 0


def test_action_span_counters_and_census(applog):
    a = applog.span("t:action")
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 2)
    assert a["cpu_s"] == pytest.approx(0.4)
    assert a["gc_s"] == pytest.approx(0.02)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["shuffle_read_mb"] == pytest.approx(4.0)
    assert a["shuffle_write_s"] == pytest.approx(0.004)
    assert a["fetch_wait_s"] == pytest.approx(0.01)
    assert a["write_rows"] == 400
    assert a["write_files"] == 2
    assert a["write_s"] == pytest.approx(0.2)
    assert a["python_stages"] == 1
    assert a["py_run_s"] == pytest.approx(0.12)
    assert a["py_sent_mb"] == pytest.approx(1.0)
    assert a["py_returned_mb"] == pytest.approx(0.5)
    # the census reads the final (AQE-updated) plan, not the first one
    c = a["census"]
    assert (c["exchanges"], c["bnl_joins"], c["cached_scans"], c["python_nodes"]) == (
        1, 1, 1, 1)
    assert "Exchange" not in c["nodes"]


def test_unknown_tag_is_empty(applog):
    s = applog.span("nope")
    assert s["jobs"] == 0 and s["tasks"] == 0 and s["job_intervals"] == []


def test_census_counts_python_nodes():
    plan = _plan("ArrowEvalPython", "FlatMapGroupsInPandas", "Exchange", "Project")
    c = census(plan)
    assert c["python_nodes"] == 2 and c["exchanges"] == 1


# ------------------------------------------------------------ schedule


def test_schedule_is_a_seeded_permutation():
    entries = WORKLOADS["lineage"].entries
    a = schedule(7, 0, entries)
    assert sorted(a) == sorted(entries)
    assert a == schedule(7, 0, entries)
    assert {tuple(schedule(s, p, entries)) for s in range(3) for p in range(3)} != {
        tuple(a)}
