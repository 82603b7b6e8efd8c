"""Replay a Spark JSON event log and attribute its work to time windows.

Jobs are attributed to the window that contains their submission time,
not by job group: streaming drains and MLlib fits submit jobs under
their own thread-local groups, so a group filter would miss them.
Stages belong to the window of their submission time, tasks to the
window of their stage. Events that carry no timestamp of their own
(``SparkListenerSQLAdaptiveExecutionUpdate``) take the latest
timestamp seen before them in the log.

Per window the replay reports:

- ``jobs``, ``stages``, ``tasks``, ``failed_tasks``;
- ``job_covered_s``: the union of job intervals clipped to the window,
  and ``driver_gap_s``: the rest of the window, where no job ran
  (driver-side planning, py4j round trips, AQE re-planning);
- ``aqe_replans``: adaptive plan updates;
- task metrics summed over the window's tasks: ``executor_run_s``,
  ``executor_cpu_s``, ``gc_s``, ``spill_mb``, ``shuffle_write_mb``,
  ``shuffle_read_mb``, ``input_mb``, ``output_mb``, ``empty_tasks``
  (tasks that read no input and no shuffle records);
- ``python_stage_s``: executor run time of tasks in stages whose RDD
  scopes hold a Python evaluation node (pandas / Arrow UDFs);
- ``stream_batches``: streaming ``QueryProgressEvent`` count, and
  ``state_rows``: the state-store rows each stream run held after its
  last batch in the window.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

_MB = 1024.0 * 1024.0
_PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow")
_SQL = "org.apache.spark.sql.execution.ui."
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

METRICS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_covered_s",
    "driver_gap_s", "aqe_replans", "executor_run_s", "executor_cpu_s",
    "gc_s", "spill_mb", "shuffle_write_mb", "shuffle_read_mb", "input_mb",
    "output_mb", "empty_tasks", "python_stage_s", "stream_batches",
    "state_rows",
)


@dataclass(frozen=True)
class Window:
    """A named interval in epoch milliseconds, end exclusive."""

    name: str
    start_ms: float
    end_ms: float


def read_events(log_dir: str) -> Iterator[dict]:
    """Yield every JSON event in the (uncompressed) logs under
    ``log_dir``, file by file, skipping lines that do not parse (the
    last line of a log cut short)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("appstatus_"):
                continue
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue


def _iso_ms(stamp: str) -> float:
    return _dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def _later(a: float | None, b: float | None) -> float | None:
    return b if a is None else a if b is None else max(a, b)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class _Locator:
    """Maps a timestamp to the window that contains it."""

    def __init__(self, windows: Iterable[Window]):
        self.windows = sorted(windows, key=lambda w: w.start_ms)

    def find(self, t_ms: float | None) -> Window | None:
        if t_ms is None:
            return None
        for w in self.windows:
            if w.start_ms <= t_ms < w.end_ms:
                return w
        return None


def replay(events: Iterable[dict], windows: Iterable[Window]) -> dict[str, dict[str, float]]:
    """Attribute the events' work to ``windows``; returns
    ``{window name: {metric: value}}`` with every name in ``METRICS``."""
    loc = _Locator(windows)
    out = {w.name: dict.fromkeys(METRICS, 0.0) for w in loc.windows}
    job_iv: dict[str, list[tuple[float, float]]] = {w.name: [] for w in loc.windows}
    job_start: dict[int, tuple[Window, float]] = {}
    stage_win: dict[tuple[int, int], Window] = {}
    python_stages: set[tuple[int, int]] = set()
    last_progress: dict[str, tuple[str, float]] = {}
    last_ms: float | None = None

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            last_ms = _later(last_ms, t)
            w = loc.find(t)
            if w is not None:
                job_start[ev["Job ID"]] = (w, t)
                out[w.name]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            t = ev["Completion Time"]
            last_ms = _later(last_ms, t)
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                w, t0 = started
                job_iv[w.name].append((max(t0, w.start_ms), min(t, w.end_ms)))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            t = info.get("Submission Time")
            last_ms = _later(last_ms, t)
            w = loc.find(t)
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if w is not None:
                stage_win[key] = w
                out[w.name]["stages"] += 1
            scopes = " ".join(
                f"{r.get('Name', '')} {r.get('Scope', '')}" for r in info.get("RDD Info", [])
            )
            if _PYTHON_SCOPE.search(scopes):
                python_stages.add(key)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            info = ev.get("Task Info", {})
            last_ms = _later(last_ms, info.get("Finish Time"))
            w = stage_win.get(key)
            if w is None:
                continue
            m = out[w.name]
            m["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            m["executor_run_s"] += run_s
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / _MB
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            outp = tm.get("Output Metrics") or {}
            m["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            m["input_mb"] += inp.get("Bytes Read", 0) / _MB
            m["output_mb"] += outp.get("Bytes Written", 0) / _MB
            if not inp.get("Records Read", 0) and not sr.get("Total Records Read", 0):
                m["empty_tasks"] += 1
            if key in python_stages:
                m["python_stage_s"] += run_s
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            last_ms = _later(last_ms, ev.get("time"))
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            w = loc.find(last_ms)
            if w is not None:
                out[w.name]["aqe_replans"] += 1
        elif kind == _PROGRESS:
            progress = ev.get("progress") or {}
            t = _iso_ms(progress["timestamp"]) if progress.get("timestamp") else last_ms
            w = loc.find(t)
            if w is None:
                continue
            out[w.name]["stream_batches"] += 1
            rows = sum(op.get("numRowsTotal", 0) for op in progress.get("stateOperators") or [])
            last_progress[progress.get("runId", "")] = (w.name, rows)

    for name, rows in last_progress.values():
        out[name]["state_rows"] += rows
    for w in loc.windows:
        covered = _union_ms(job_iv[w.name])
        out[w.name]["job_covered_s"] = covered / 1000.0
        out[w.name]["driver_gap_s"] = max(0.0, w.end_ms - w.start_ms - covered) / 1000.0
    return out
