"""Per-layer totals from a Spark event log (uncompressed JSON lines).

The traced run turns on ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` and sets a job description
``layer=<name>`` around every call it times. This module reads the log
with stdlib ``json`` and attributes every task to one row:

1. a job's layer is the ``layer=`` prefix of its ``spark.job.description``;
2. a job without one (a thread that did not inherit local properties —
   ``build_kg``'s cache-warming thread is one) takes the layer of another
   job of the same SQL execution (``spark.sql.execution.id``);
3. anything left lands in the ``unattributed`` row.

A task belongs to the first job that lists its stage, so a stage reused
by a later job is counted once. ``jobs_in_windows`` picks the jobs
submitted inside the traced operations, and the table and the totals
count only those, so the warm-up, the untraced cycle and the output
checks of the same session stay out. ``log_totals`` sums the stages'
own ``executorRunTime`` accumulators, a figure the driver keeps apart
from the per-task metrics the table adds up; ``reconcile`` compares the
two (a gap means task events were lost or mis-assigned).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

UNATTRIBUTED = "unattributed"
DESC_PREFIX = "layer="
#: the accepted relative gap between the rows' executor run time (task
#: metrics) and the stages' run-time accumulators; both sum the same
#: integer milliseconds when no event is lost
RECONCILE_TOLERANCE = 1e-3

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def find_log(log_dir: str) -> str:
    """The single event-log file under ``log_dir``: ``local-<app id>``, or
    ``eventlog_v2_*/events_1_*`` when Spark writes rolling logs."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_") or f.startswith("local-"):
                found.append(os.path.join(root, f))
    if len(found) != 1:
        raise FileNotFoundError(f"expected one event log under {log_dir}, found {found}")
    return found[0]


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _layer_of(desc: str | None) -> str | None:
    if desc and desc.startswith(DESC_PREFIX):
        return desc[len(DESC_PREFIX):].split(" ", 1)[0]
    return None


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def new_row() -> dict:
    return {
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "jobs": 0, "tasks": 0,
        "failed_tasks": 0, "task_skew": 1.0,
    }


def jobs_in_windows(events: list[dict], windows: list[tuple[float, float]]) -> set[int]:
    """Ids of the jobs submitted inside any ``(start_ms, end_ms)`` window
    (epoch milliseconds, the clock of the log's ``Submission Time``)."""
    return {e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"
            and any(a <= e.get("Submission Time", -1) <= b for a, b in windows)}


def _stage_owner(events: list[dict]) -> dict[int, int]:
    """stage id → the first job that lists it."""
    owner: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e.get("Stage IDs", []):
                owner.setdefault(sid, e["Job ID"])
    return owner


def layer_table(events: list[dict], jobs: set[int] | None = None) -> dict[str, dict]:
    """layer → totals over ``jobs`` (every job when None): executor_run_s,
    executor_cpu_s, gc_s, shuffle_write_bytes, spill_bytes, jobs, tasks,
    failed_tasks and task_skew (the largest max ÷ median task run time
    over the layer's stages with at least 4 tasks)."""
    job_layer: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    stage_job = _stage_owner(events)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_layer[jid] = _layer_of(props.get("spark.job.description"))
            job_exec[jid] = props.get("spark.sql.execution.id")
    exec_layer: dict[str, str] = {}
    for jid in sorted(job_layer):
        if job_layer[jid] and job_exec[jid] is not None:
            exec_layer.setdefault(job_exec[jid], job_layer[jid])
    resolved = {
        jid: layer or exec_layer.get(job_exec[jid]) or UNATTRIBUTED
        for jid, layer in job_layer.items() if jobs is None or jid in jobs
    }

    rows: dict[str, dict] = defaultdict(new_row)
    for jid, layer in resolved.items():
        rows[layer]["jobs"] += 1
    stage_times: dict[int, list[float]] = defaultdict(list)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        if jobs is not None and stage_job.get(sid) not in jobs:
            continue
        layer = resolved.get(stage_job.get(sid), UNATTRIBUTED)
        row = rows[layer]
        m = e.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        row["executor_run_s"] += run_ms / 1e3
        row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        row["tasks"] += 1
        if (e.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
            row["failed_tasks"] += 1
        stage_times[sid].append(run_ms)
    for sid, times in stage_times.items():
        if len(times) < 4:
            continue
        layer = resolved.get(stage_job.get(sid), UNATTRIBUTED)
        med = _median(times)
        skew = max(times) / med if med > 0 else 1.0
        rows[layer]["task_skew"] = max(rows[layer]["task_skew"], skew)
    return dict(rows)


def log_totals(events: list[dict], jobs: set[int] | None = None) -> dict:
    """Totals over ``jobs`` (every job when None) from the stage and job
    events, independent of the task events and of attribution: executor
    run time from each completed stage attempt's ``executorRunTime``
    accumulator, its task count, and the number of jobs."""
    stage_job = _stage_owner(events)
    run_ms = tasks = 0
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        if jobs is not None and stage_job.get(info["Stage ID"]) not in jobs:
            continue
        tasks += info.get("Number of Tasks", 0)
        run_ms += sum(int(a.get("Value", 0)) for a in info.get("Accumulables", [])
                      if a.get("Name") == "internal.metrics.executorRunTime")
    n_jobs = sum(1 for e in events if e["Event"] == "SparkListenerJobStart"
                 and (jobs is None or e["Job ID"] in jobs))
    return {"executor_run_s": run_ms / 1e3, "tasks": tasks, "jobs": n_jobs}


def reconcile(table: dict[str, dict], totals: dict) -> float:
    """Relative gap between the rows' summed executor run time (task
    metrics) and the stages' total from ``log_totals`` (0 when both are 0)."""
    rows = sum(r["executor_run_s"] for r in table.values())
    if totals["executor_run_s"] == 0:
        return 0.0 if rows == 0 else 1.0
    return abs(rows - totals["executor_run_s"]) / totals["executor_run_s"]


def sql_metric(events: list[dict], node_match, metric_name: str,
               layer: str | None = None) -> int:
    """Sum of one SQL metric (e.g. "number of output rows") over the plan
    nodes whose ``simpleString`` satisfies ``node_match``, in every SQL
    execution (or only those attributed to ``layer``). Plans replaced by
    adaptive execution are read from their update events too; values
    come from task accumulator updates and driver-side updates."""
    keep = None if layer is None else _executions_of(events, layer)
    acc_ids = _metric_ids(events, node_match, metric_name, keep)
    total = 0
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in acc_ids and "Update" in acc:
                    total += int(acc["Update"])
        elif e["Event"] == _DRIVER_ACCUM:
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in acc_ids:
                    total += int(value)
    return total


def _metric_ids(events: list[dict], node_match, metric_name: str,
                executions: set[int] | None) -> set[int]:
    """Accumulator ids of one metric on the matching plan nodes."""
    ids = set()
    for e in events:
        if e["Event"] in (_SQL_START, _SQL_ADAPTIVE):
            if executions is not None and e["executionId"] not in executions:
                continue
            for node in _walk_plan(e["sparkPlanInfo"]):
                if node_match(node.get("simpleString", "")):
                    ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                               if m["name"] == metric_name)
    return ids


def scan_totals(events: list[dict], layer: str) -> dict[str, int]:
    """Parquet scans of the SQL executions attributed to ``layer``: rows
    they output, files they read, and how many scan nodes there were."""
    return {
        "rows": sql_metric(events, _is_scan, "number of output rows", layer),
        "files": sql_metric(events, _is_scan, "number of files read", layer),
        "scans": len(_metric_ids(events, _is_scan, "number of files read",
                                 _executions_of(events, layer))),
    }


def _is_scan(simple_string: str) -> bool:
    return simple_string.startswith("FileScan parquet")


def _executions_of(events: list[dict], layer: str) -> set[int]:
    out = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            if eid is not None and _layer_of(props.get("spark.job.description")) == layer:
                out.add(int(eid))
    return out
