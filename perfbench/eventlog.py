"""Read Spark's JSON-lines event log and total task metrics per job group.

The benchmark tags every phase it times with a job group id
(``SparkContext.setJobGroup``); Spark copies that id into the properties of
each stage it submits. This module reads an uncompressed event log
(``spark.eventLog.compress=false``) and returns, per job group, the number
of jobs, stages and tasks and the sums of the task metrics the per-layer
report uses.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_records",
    "input_bytes",
    "scan_tasks",
    "max_task_input_records",
)


def find_log(event_dir: str) -> list[str]:
    """The event files of the single application logged in ``event_dir``,
    in order: a rolling log (``eventlog_v2_<app>/events_<n>_<app>``, Spark's
    default) or one plain file."""
    apps = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def group_metrics(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: counts and summed task metrics.

    ``scan_tasks`` counts tasks of stages in which some task read input
    records; ``max_task_input_records`` is the largest input any single task
    of the group read (a single-task scan shows as max == total).
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_tasks: dict[int, list[int]] = defaultdict(list)  # stage -> input records per task
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group:
                out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = out[group]
            g["tasks"] += 1
            g["task_run_ms"] += tm.get("Executor Run Time", 0)
            g["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            inp = tm.get("Input Metrics") or {}
            recs = inp.get("Records Read", 0)
            g["input_records"] += recs
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["max_task_input_records"] = max(g["max_task_input_records"], recs)
            stage_tasks[sid].append(recs)
    for sid, recs in stage_tasks.items():
        if any(recs):
            out[stage_group[sid]]["scan_tasks"] += len(recs)
    return dict(out)
