"""Event-log replay on a small synthetic log.

Run with ``python3 -m pytest perfbench/test_eventlog.py -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

MB = 1024 * 1024
SQL = "org.apache.spark.sql.execution.ui."


def _job_start(jid, start, stages, group=""):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": start,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group},
    }


def _job_end(jid, end):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end}


def _stage(sid, submitted, scope="Exchange"):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {
            "Stage ID": sid,
            "Stage Attempt ID": 0,
            "Submission Time": submitted,
            "RDD Info": [{"Name": "MapPartitionsRDD", "Scope": json.dumps({"id": "1", "name": scope})}],
        },
    }


def _task(sid, finish, run_ms, records=10, shuffle_read=0, failed=False, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Stage Attempt ID": 0,
        "Task Info": {"Finish Time": finish, "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": metrics.get("gc_ms", 0),
            "Memory Bytes Spilled": metrics.get("spill", 0),
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": shuffle_read,
                "Total Records Read": 1 if shuffle_read else 0,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("shuffle_write", 0)},
            "Input Metrics": {"Bytes Read": metrics.get("input", 0), "Records Read": records},
            "Output Metrics": {"Bytes Written": metrics.get("output", 0)},
        },
    }


def _progress(run_id, stamp, rows):
    return {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "runId": run_id,
            "timestamp": stamp,
            "stateOperators": [{"numRowsTotal": rows}],
        },
    }


# Epoch ms of 2024-01-01T00:00:00Z, so progress timestamps line up.
T = 1_704_067_200_000


@pytest.fixture
def log_dir(tmp_path):
    events = [
        # window "q1" = [T, T+1000): two overlapping jobs and one later
        # job, under different job groups (as a drain and an MLlib fit).
        _job_start(1, T + 100, [1], group="q1"),
        _stage(1, T + 110, scope="ArrowEvalPython"),
        _task(1, T + 200, 80, input=2 * MB, gc_ms=5),
        _job_start(2, T + 200, [2], group="stream-xyz"),
        _stage(2, T + 210),
        _task(1, T + 250, 60, records=0, failed=True),
        _job_end(1, T + 300),
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 1},
        _task(2, T + 390, 100, shuffle_write=MB, spill=MB // 2),
        _job_end(2, T + 400),
        _job_start(3, T + 600, [3]),
        _stage(3, T + 601),
        _progress("run-a", "2024-01-01T00:00:00.650Z", 7),
        _task(3, T + 690, 50, records=0, shuffle_read=3 * MB, output=MB),
        _job_end(3, T + 700),
        _progress("run-a", "2024-01-01T00:00:00.800Z", 9),
        # window "q2" = [T+1000, T+2000): one job running past its end.
        _job_start(4, T + 1500, [4]),
        _stage(4, T + 1500),
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 2},
        _task(4, T + 2400, 900),
        _job_end(4, T + 2500),
        # outside every window
        _job_start(5, T + 5000, [5]),
        _job_end(5, T + 5100),
    ]
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n{truncated")
    (tmp_path / "appstatus_local-1").write_text("not json")
    return str(tmp_path)


def test_replay_attributes_by_time_window(log_dir):
    windows = [eventlog.Window("q1", T, T + 1000), eventlog.Window("q2", T + 1000, T + 2000)]
    out = eventlog.replay(eventlog.read_events(log_dir), windows)
    q1, q2 = out["q1"], out["q2"]

    assert q1["jobs"] == 3 and q1["stages"] == 3 and q1["tasks"] == 4
    # jobs 1 and 2 overlap: [100, 400) plus [600, 700) = 400 ms covered
    assert q1["job_covered_s"] == pytest.approx(0.4)
    assert q1["driver_gap_s"] == pytest.approx(0.6)
    assert q1["aqe_replans"] == 1
    assert q1["failed_tasks"] == 1
    assert q1["executor_run_s"] == pytest.approx(0.29)
    assert q1["executor_cpu_s"] == pytest.approx(0.145)
    assert q1["gc_s"] == pytest.approx(0.005)
    assert q1["python_stage_s"] == pytest.approx(0.14)
    assert q1["input_mb"] == pytest.approx(2.0)
    assert q1["shuffle_write_mb"] == pytest.approx(1.0)
    assert q1["shuffle_read_mb"] == pytest.approx(3.0)
    assert q1["output_mb"] == pytest.approx(1.0)
    assert q1["spill_mb"] == pytest.approx(0.5)
    assert q1["empty_tasks"] == 1  # the failed task read nothing; job 3's read shuffle
    assert q1["stream_batches"] == 2
    assert q1["state_rows"] == 9  # last batch of the run, not the sum

    assert q2["jobs"] == 1 and q2["tasks"] == 1
    assert q2["job_covered_s"] == pytest.approx(0.5)  # clipped at the window end
    assert q2["driver_gap_s"] == pytest.approx(0.5)
    assert q2["aqe_replans"] == 1
    assert q2["stream_batches"] == 0


def test_replay_reports_every_metric_for_empty_windows(log_dir):
    out = eventlog.replay(eventlog.read_events(log_dir), [eventlog.Window("idle", T - 500, T)])
    assert set(out["idle"]) == set(eventlog.METRICS)
    assert out["idle"]["driver_gap_s"] == pytest.approx(0.5)
    assert out["idle"]["jobs"] == 0
