"""Fold a Spark event log into per-job-group totals.

The traced run gives every layer its own Spark job group, so folding the
task-end events by the group of the stage they ran in attributes every task
to a layer.  Read an uncompressed, non-rolling log (``spark.eventLog.compress
=false``, ``spark.eventLog.rolling.enabled=false``): one JSON event per line.

Totals per group:

- ``jobs``, ``tasks``, ``failed_tasks``
- ``task_s`` (executor run time), ``cpu_s`` (executor CPU), ``gc_s`` (JVM GC
  time inside tasks)
- ``wait_s``: scheduler delay plus result fetch, as the Spark UI derives
  them from the task's launch/finish times
- ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb`` (bytes spilled to
  disk)
- ``python_mb``: Arrow bytes sent to and returned from Python workers
- ``udf_rows``: rows out of scalar pandas UDF nodes (``ArrowEvalPython``)
"""
from __future__ import annotations

import json
from collections import defaultdict

NO_GROUP = "(none)"
FIELDS = ("jobs", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
          "wait_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
          "python_mb", "udf_rows")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_UDF_NODE = "ArrowEvalPython"
_MB = 1024.0 * 1024.0


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or NO_GROUP


def _udf_row_accumulators(plan: dict, out: set) -> None:
    if plan.get("nodeName") == _UDF_NODE:
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m.get("name") == "number of output rows")
    for child in plan.get("children", []):
        _udf_row_accumulators(child, out)


def _inside(ms, windows) -> bool:
    return windows is None or any(a <= (ms or 0) <= b for a, b in windows)


def fold(lines, windows=None) -> dict[str, dict[str, float]]:
    """Per-group totals (see module docstring) from event-log lines.  With
    ``windows``, a list of ``(start_ms, end_ms)`` in epoch milliseconds,
    only jobs submitted and tasks launched inside one of them count."""
    events = [json.loads(line) for line in lines if line.strip()]
    udf_accs: set = set()
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:  # SQL execution start / AQE plan update
            _udf_row_accumulators(e["sparkPlanInfo"], udf_accs)
        elif kind == "SparkListenerJobStart":
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, _group(e.get("Properties")))
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's properties: authoritative for a stage
            # that several jobs list but only one runs
            stage_group[e["Stage Info"]["Stage ID"]] = _group(
                e.get("Properties"))

    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if _inside(e.get("Submission Time"), windows):
                out[_group(e.get("Properties"))]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            if _inside(e["Task Info"]["Launch Time"], windows):
                _add_task(out[stage_group.get(e["Stage ID"], NO_GROUP)], e,
                          udf_accs)
    return dict(out)


def _add_task(g: dict, e: dict, udf_accs: set) -> None:
    info = e["Task Info"]
    tm = e.get("Task Metrics") or {}
    g["tasks"] += 1
    if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
        g["failed_tasks"] += 1
    if not tm:  # a task lost before reporting metrics: counted, not timed
        return
    run_ms = tm.get("Executor Run Time", 0)
    g["task_s"] += run_ms / 1e3
    g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    duration = info["Finish Time"] - info["Launch Time"]
    fetch = (info["Finish Time"] - info["Getting Result Time"]
             if info.get("Getting Result Time", 0) > 0 else 0)
    delay = max(0, duration - run_ms - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0) - fetch)
    g["wait_s"] += (delay + fetch) / 1e3
    read = tm.get("Shuffle Read Metrics", {})
    g["shuffle_read_mb"] += (read.get("Remote Bytes Read", 0)
                             + read.get("Local Bytes Read", 0)) / _MB
    g["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0) / _MB
    g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
    for acc in info.get("Accumulables", []):
        if acc.get("Name") in _PY_BYTES:
            g["python_mb"] += int(acc["Update"]) / _MB
        elif acc.get("ID") in udf_accs:
            g["udf_rows"] += int(acc["Update"])


def fold_file(path: str, windows=None) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return fold(f, windows)
