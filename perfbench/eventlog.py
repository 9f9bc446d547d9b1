"""Fold a Spark event log into per-label rows.

The traced run turns the event log on from outside the program
(`spark.eventLog.enabled=true`, `spark.eventLog.compress=false`) and
labels every job through `spark.job.description`. This module reads the
uncompressed JSON-lines log and sums, per label, the task metrics of the
jobs carrying it. Jobs without a label fold into `UNATTRIBUTED`.
"""

from __future__ import annotations

import glob
import json
import os

from stats import median

UNATTRIBUTED = "unattributed"
PYTHON_RUN_METRIC = "time to run Python workers"

COLUMNS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "python_worker_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "slot_wait_s", "task_skew",
)


def log_files(path: str) -> list[str]:
    """The event files of one application: `path` itself, or the
    `events_*` parts of a rolling event-log directory in order."""
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(path: str):
    for fn in log_files(path):
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(events, label_of=lambda desc: desc or UNATTRIBUTED) -> dict[str, dict]:
    """label -> {column: value}; `label_of` maps a job description (None
    when the job had none) to the label it is counted under."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "label": label_of(props.get("spark.job.description")),
                "submit_ms": e["Submission Time"],
                "first_launch_ms": None,
                "task_ms": [],
                "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "py_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            }
            # a stage listed by several jobs runs under the newest job that
            # lists it before it is submitted; later jobs only skip it
            for sid in e.get("Stage IDs", []):
                if sid not in submitted:
                    stage_job[sid] = jid
        elif kind == "SparkListenerStageSubmitted":
            submitted.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            launch = info["Launch Time"]
            if job["first_launch_ms"] is None or launch < job["first_launch_ms"]:
                job["first_launch_ms"] = launch
            job["task_ms"].append(info["Finish Time"] - launch)
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["cpu_ns"] += m.get("Executor CPU Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job["spill"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    job["py_ms"] += int(acc.get("Update") or 0)

    rows: dict[str, dict] = {}
    task_ms: dict[str, list[int]] = {}
    for job in jobs.values():
        r = rows.setdefault(job["label"], {c: 0 for c in COLUMNS})
        r["jobs"] += 1
        r["tasks"] += len(job["task_ms"])
        r["executor_run_s"] += job["run_ms"] / 1e3
        r["executor_cpu_s"] += job["cpu_ns"] / 1e9
        r["gc_s"] += job["gc_ms"] / 1e3
        r["python_worker_s"] += job["py_ms"] / 1e3
        r["shuffle_read_bytes"] += job["shuffle_read"]
        r["shuffle_write_bytes"] += job["shuffle_write"]
        r["spill_bytes"] += job["spill"]
        if job["first_launch_ms"] is not None:
            r["slot_wait_s"] += max(0, job["first_launch_ms"] - job["submit_ms"]) / 1e3
        task_ms.setdefault(job["label"], []).extend(job["task_ms"])
    for label, ms in task_ms.items():
        if ms:
            mid = median(ms)
            rows[label]["task_skew"] = max(ms) / mid if mid > 0 else 1.0
    return rows


def unattributed_share(rows: dict[str, dict]) -> float:
    """Share of all executor run time that ran in unlabelled jobs."""
    total = sum(r["executor_run_s"] for r in rows.values())
    if total <= 0:
        return 0.0
    return rows.get(UNATTRIBUTED, {}).get("executor_run_s", 0.0) / total
