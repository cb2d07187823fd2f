"""Reduce a Spark JSON-lines event log to per-job-group layer numbers.

The benchmark tags every public call it makes with a job group
(``SparkContext.setJobGroup``); this module sums the tasks of each
group's jobs. Standard library only.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"


def _events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def reduce_log(path: str, since_ms: int = 0) -> dict[str, dict[str, float]]:
    """→ {job group: {wall_s, executor_run_s, tasks, task_skew,
    shuffle_write_mb, python_sent_mb, jobs}} over the jobs
    submitted at or after ``since_ms`` (epoch milliseconds).

    ``wall_s`` is the union of the group's job intervals; ``task_skew``
    is the slowest task's duration over the median task's.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    jobs: dict[str, int] = defaultdict(int)
    durations: dict[str, list[int]] = defaultdict(list)
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev["Submission Time"] < since_ms:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            jobs[group] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                intervals[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue  # a job from before since_ms
            info = ev["Task Info"]
            metrics = ev.get("Task Metrics") or {}
            durations[group].append(info["Finish Time"] - info["Launch Time"])
            acc = sums[group]
            acc["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1000
            acc["shuffle_write_mb"] += (
                (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            )
            for a in info.get("Accumulables") or ():
                if a.get("Name") == PY_SENT and "Update" in a:
                    acc["python_sent_mb"] += float(a["Update"]) / 2**20
    out = {}
    for group in set(jobs) | set(durations):
        d = durations.get(group) or [0]
        med = statistics.median(d)
        out[group] = {
            "jobs": jobs.get(group, 0),
            "wall_s": _union_seconds(intervals.get(group, [])),
            "executor_run_s": sums[group]["executor_run_s"],
            "tasks": len(durations.get(group, ())),
            "task_skew": max(d) / med if med else 0.0,
            "shuffle_write_mb": sums[group]["shuffle_write_mb"],
            "python_sent_mb": sums[group]["python_sent_mb"],
        }
    return out


def merge(groups: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Sum every group whose name is ``prefix`` or starts with
    ``prefix + '.'`` (task_skew: the largest)."""
    picked = [v for k, v in groups.items() if k == prefix or k.startswith(prefix + ".")]
    if not picked:
        return {}
    out = {k: sum(p[k] for p in picked) for k in picked[0] if k != "task_skew"}
    out["task_skew"] = max(p["task_skew"] for p in picked)
    return out
