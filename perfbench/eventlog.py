"""Task metrics from a Spark event log, attributed to job groups.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
set (uncompressed and non-rolling here, so no codec is needed to read
it). Every stage carries the submitting job's local properties, among
them ``spark.jobGroup.id``; ``spans.py`` sets that to the open span's
name. ``read(path)`` sums per group:

- ``jobs``, ``tasks``, ``failed_tasks``;
- ``run_ms``, ``cpu_ms``, ``gc_ms`` (executor run, CPU and JVM GC time);
- ``input_bytes``, ``output_bytes``, ``shuffle_write_bytes``,
  ``shuffle_read_bytes``, ``spill_bytes`` (memory + disk spill);
- ``persist_read_bytes``: input bytes of the stages that read a
  DISK_ONLY persisted RDD after the first stage that included it (which
  computed and stored it);
- the Arrow Python-UDF SQL metrics, summed over tasks:
  ``py_bytes_sent``, ``py_bytes_returned``, ``py_start_ms``,
  ``py_init_ms``, ``py_run_ms``;
- the SQL metrics ``files_read_bytes`` (file scans) and
  ``written_bytes`` (file writes), which arrive as accumulator updates
  at the end of a SQL execution, attributed through the SQL
  execution's description, which Spark takes from
  ``spark.job.description`` (also set to the span name).

Jobs and stages with no group are summed under ``None``.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


SQL_METRICS = {
    "size of files read": "files_read_bytes",
    "written output": "written_bytes",
}


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _disk_persisted(stage_info: dict) -> set[int]:
    return {
        rdd["RDD ID"]
        for rdd in stage_info.get("RDD Info", [])
        if rdd.get("Storage Level", {}).get("Use Disk")
        and not rdd.get("Storage Level", {}).get("Use Memory")
    }


def read(path: str) -> dict:
    """``{group: Counter(metric -> value)}`` for the log at ``path``."""
    groups: dict = defaultdict(Counter)
    stage_group: dict[int, str | None] = {}
    persist_stages: set[int] = set()
    persisted: set[int] = set()
    acc_names: dict[int, str] = {}
    exec_desc: dict[int, str | None] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                stage_group[sid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                rdds = _disk_persisted(info)
                if rdds & persisted:
                    persist_stages.add(sid)
                persisted |= rdds
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                c = groups[stage_group.get(sid)]
                c["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                tm = e.get("Task Metrics") or {}
                if tm:
                    c["run_ms"] += tm["Executor Run Time"]
                    c["cpu_ms"] += tm["Executor CPU Time"] / 1e6
                    c["gc_ms"] += tm["JVM GC Time"]
                    c["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    read_bytes = tm["Input Metrics"]["Bytes Read"]
                    c["input_bytes"] += read_bytes
                    if sid in persist_stages:
                        c["persist_read_bytes"] += read_bytes
                    c["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
                    c["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    sr = tm["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        c[key] += int(acc.get("Update") or 0)
            elif ev.endswith("SQLExecutionStart"):
                exec_desc[e["executionId"]] = e.get("description")
                _plan_metrics(e["sparkPlanInfo"], acc_names)
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], acc_names)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                c = groups[exec_desc.get(e["executionId"])]
                for acc_id, value in e["accumUpdates"]:
                    key = SQL_METRICS.get(acc_names.get(acc_id))
                    if key is not None:
                        c[key] += value
    return dict(groups)


def total(groups: dict, names) -> Counter:
    """Sum of the counters of the groups in ``names``."""
    out: Counter = Counter()
    for n in names:
        out.update(groups.get(n, Counter()))
    return out
