"""Per-job-group totals from a Spark event log (uncompressed JSON lines).

The benchmark tags every layer call with `sc.setJobGroup`; this reader
maps stages to the job group of the job that submitted them and sums,
per group, the task metrics and the SQL metrics Spark reports for the
Python bridge. Standard library only.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# SQL metric name -> output key. Timing metrics are milliseconds.
SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes_out",
    "data returned from Python workers": "python_bytes_in",
}
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _empty() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "python_ms": 0,
        "python_bytes_out": 0,
        "python_bytes_in": 0,
        "python_rows": 0,
        "shuffle_write_bytes": 0,
        "fetch_wait_ms": 0,
        "spill_bytes": 0,
        "stage_task_ms": defaultdict(list),
    }


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of 'number of output rows' on Python eval nodes:
    the rows that crossed the Arrow bridge."""
    if plan.get("nodeName", "").startswith(PYTHON_EVAL_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def group_metrics(events) -> dict:
    """events -> {job group: totals}. Jobs without a group are under
    None. Task skew is max/median task time of the group's stage with
    the most task time."""
    stage_group: dict = {}
    python_rows_ids: set = set()
    groups: dict = defaultdict(_empty)
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            groups[g]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_row_accumulators(e.get("sparkPlanInfo") or {}, python_rows_ids)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e.get("Stage ID"))]
            info = e.get("Task Info") or {}
            g["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            g["stage_task_ms"][e.get("Stage ID")].append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
            tm = e.get("Task Metrics") or {}
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = SQL_METRICS.get(acc.get("Name"))
                if key:
                    g[key] += int(acc.get("Update", 0))
                elif acc.get("ID") in python_rows_ids:
                    g["python_rows"] += int(acc.get("Update", 0))
    out = {}
    for name, g in groups.items():
        stages = g.pop("stage_task_ms")
        g["task_skew"] = 1.0
        if stages:
            heaviest = max(stages.values(), key=sum)
            med = statistics.median(heaviest)
            g["task_skew"] = max(heaviest) / med if med > 0 else 1.0
        out[name] = g
    return out
