"""Spark event-log reader: jobs, stages and tasks attributed to job groups.

Grown from BENCH/profile_gaps.py ``load``: the same single pass over an
uncompressed, non-rolling event log, keeping per task the fields the
per-layer metrics need (run time, shuffle and spill bytes, records
written, and the bytes moved to and from Python workers by
ArrowEvalPython / MapInPandas nodes), and per job its job group, which
the tracer sets to the span that submitted it.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

#: SQL metric names of the Python-crossing plan nodes (PythonSQLMetrics)
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)      # job id -> {start, group}
    stage_job: dict = field(default_factory=dict)  # stage id -> job id
    tasks: list = field(default_factory=list)      # per-task dicts, see load()


def _accum(task_info: dict, names) -> int:
    total = 0
    for a in task_info.get("Accumulables", []):
        if a.get("Name") in names:
            try:
                total += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def load(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = {"start": e["Submission Time"],
                                         "group": props.get("spark.jobGroup.id")}
                for s in e.get("Stage IDs", []):
                    log.stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                out = tm.get("Output Metrics") or {}
                log.tasks.append({
                    "stage": e["Stage ID"],
                    "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)),
                    "records_written": out.get("Records Written", 0),
                    "python_bytes": _accum(ti, PYTHON_METRICS),
                })
    return log


def find_log(log_dir: str) -> str:
    """The single finished application log under ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def totals(log: EventLog, groups=None, window=None) -> dict:
    """Job/stage/task counts and summed task metrics for the jobs whose
    job group is in ``groups`` (all jobs when None) and that were
    submitted inside ``window`` = (start_ms, end_ms) when given."""
    jobs = {j for j, v in log.jobs.items()
            if (groups is None or v["group"] in groups)
            and (window is None or window[0] <= v["start"] <= window[1])}
    stages = {s for s, j in log.stage_job.items() if j in jobs}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    return {"jobs": len(jobs), "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "task_s": sum(t["finish"] - t["launch"] for t in tasks) / 1000,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "records_written": sum(t["records_written"] for t in tasks),
            "python_bytes": sum(t["python_bytes"] for t in tasks)}


def zero_task_s(log: EventLog, start_ms: float, end_ms: float) -> float:
    """Wall time inside [start_ms, end_ms] with no task running: the
    driver-only time of profile_gaps (planning, AQE stage transitions,
    listing, py4j), clipped to one window."""
    pts = sorted([(max(t["launch"], start_ms), 1) for t in log.tasks
                  if t["finish"] > start_ms and t["launch"] < end_ms]
                 + [(min(t["finish"], end_ms), -1) for t in log.tasks
                    if t["finish"] > start_ms and t["launch"] < end_ms])
    gap, cur, last = 0.0, 0, start_ms
    for t, d in pts:
        if cur == 0 and t > last:
            gap += t - last
        cur += d
        if cur == 0:
            last = t
    if cur == 0 and end_ms > last:
        gap += end_ms - last
    return gap / 1000
