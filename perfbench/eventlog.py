"""Task, shuffle, spill, GC and Python-runner facts from a Spark event
log, per job group (the harness tags every timed repetition with one).

The Python-runner numbers are the SQL metrics Spark attaches to the
MapInPandas node and reports in every task's accumulables.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Dict, List

PY_METRICS = {
    "data sent to Python workers": "arrow_bytes_to_py",
    "data returned from Python workers": "arrow_bytes_from_py",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_total_ms",
}


def read_events(path: str) -> List[dict]:
    """Events of one uncompressed, non-rolling event log file."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def tasks_by_group(events: List[dict]) -> Dict[str, List[dict]]:
    """{job group id: [task record]} over successful tasks. A task
    record holds its stage, duration, run time, GC time, shuffle and
    spill bytes, and the Python-runner metrics when its stage runs a
    MapInPandas node."""
    stage_group: Dict[int, str] = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
    out: Dict[str, List[dict]] = defaultdict(list)
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev["Stage ID"])
        info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
        if group is None or info.get("Failed") or info.get("Killed"):
            continue
        rec = {
            "stage": ev["Stage ID"],
            "duration_ms": info["Finish Time"] - info["Launch Time"],
            "run_ms": metrics.get("Executor Run Time", 0),
            "gc_ms": metrics.get("JVM GC Time", 0),
            "shuffle_bytes": metrics.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0),
            "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
            + metrics.get("Disk Bytes Spilled", 0),
        }
        for acc in info.get("Accumulables", []):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                rec[key] = rec.get(key, 0) + int(acc["Update"])
        out[group].append(rec)
    return dict(out)


def group_facts(tasks: List[dict]) -> Dict[str, float]:
    """Totals over one job group, plus the straggler ratio (slowest /
    median task) of its Python stages."""
    facts: Dict[str, float] = {
        "tasks": len(tasks),
        "gc_ms": sum(t["gc_ms"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
    }
    for key in PY_METRICS.values():
        facts[key] = sum(t.get(key, 0) for t in tasks)
    py = [t["duration_ms"] for t in tasks if "py_total_ms" in t]
    facts["py_tasks"] = len(py)
    facts["task_max_over_median"] = (
        max(py) / statistics.median(py) if py and statistics.median(py) else 0.0
    )
    return facts
