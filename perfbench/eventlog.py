"""Spark event-log reader for the traced benchmark run.

Reads the uncompressed, non-rolling JSON event log a traced session writes
and turns the jobs of one timed iteration (selected by their
``spark.jobGroup.id``) into the ``job.*`` and ``udf.*`` per-layer metrics.

Job intervals overlap whenever Spark runs jobs concurrently (broadcast
builds, AQE stage re-planning), so busy time is the length of the *union*
of the job intervals, never their sum; the driver gap is the iteration's
wall time minus that busy time.
"""

from __future__ import annotations

import json
import statistics

MB = 1024 * 1024

# Spark 4.1 Python SQL metrics, as task accumulables (times in ms)
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """Union of [start, end] intervals, as sorted disjoint intervals."""
    merged: list[list[float]] = []
    for start, end in sorted(intervals):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [(s, e) for s, e in merged]


def covered(intervals) -> float:
    """Total length of the union of the intervals."""
    return sum(e - s for s, e in merge_intervals(intervals))


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def group_jobs(events: list[dict], group: str
               ) -> tuple[dict[int, list[float]], dict[int, int]]:
    """Jobs of job group ``group`` as {job id: [submit ms, end ms]}, and
    {stage id: job id} over their stages."""
    jobs: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") != group:
                continue
            jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
    return jobs, stage_job


def group_metrics(events: list[dict], group: str, wall_s: float,
                  cores: int) -> dict[str, float]:
    """``job.*`` and ``udf.*`` metrics of the jobs in job group ``group``;
    ``wall_s`` is the iteration's wall time, ``cores`` the session's."""
    jobs, stage_job = group_jobs(events, group)

    stages: set[int] = set()
    task_run_ms: dict[int, list[float]] = {}
    py_run_by_stage: dict[int, float] = {}
    totals = dict.fromkeys(
        ("run_ms", "shuffle_w", "shuffle_r", "spill", "py_run", "py_init",
         "py_boot", "py_sent", "py_recv"), 0.0)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages.add(sid)
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            sid = e["Stage ID"]
            tm = e.get("Task Metrics") or {}
            ti = e.get("Task Info") or {}
            run_ms = float(tm.get("Executor Run Time", 0))
            task_run_ms.setdefault(sid, []).append(run_ms)
            totals["run_ms"] += run_ms
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            totals["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
            totals["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            totals["spill"] += tm.get("Disk Bytes Spilled", 0)
            py_run = _accum(ti, PY_RUN)
            py_run_by_stage[sid] = py_run_by_stage.get(sid, 0.0) + py_run
            totals["py_run"] += py_run
            totals["py_init"] += _accum(ti, PY_INIT)
            totals["py_boot"] += _accum(ti, PY_BOOT)
            totals["py_sent"] += _accum(ti, PY_SENT)
            totals["py_recv"] += _accum(ti, PY_RECV)

    busy_s = covered(jobs.values()) / 1000.0
    # the extraction (mapInArrow) stage is the one whose tasks spent the
    # most time running Python
    skew = 0.0
    if py_run_by_stage and max(py_run_by_stage.values()) > 0:
        sid = max(py_run_by_stage, key=py_run_by_stage.get)
        times = task_run_ms[sid]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 0.0
    return {
        "job.count": float(len(jobs)),
        "job.stage_count": float(len(stages)),
        "job.task_count": float(sum(len(v) for v in task_run_ms.values())),
        "job.busy_s": busy_s,
        "job.driver_gap_s": max(wall_s - busy_s, 0.0),
        "job.cpu_util": (totals["run_ms"] / 1000.0) / (wall_s * cores)
        if wall_s > 0 else 0.0,
        "job.extract_task_skew": skew,
        "job.shuffle_write_mb": totals["shuffle_w"] / MB,
        "job.shuffle_read_mb": totals["shuffle_r"] / MB,
        "job.spill_mb": totals["spill"] / MB,
        "udf.py_run_s": totals["py_run"] / 1000.0,
        "udf.py_init_s": totals["py_init"] / 1000.0,
        "udf.py_boot_s": totals["py_boot"] / 1000.0,
        "udf.to_py_mb": totals["py_sent"] / MB,
        "udf.from_py_mb": totals["py_recv"] / MB,
    }
