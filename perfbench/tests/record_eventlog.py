"""Record the small event log that test_eventlog.py reads.

    python3 perfbench/tests/record_eventlog.py

Runs four tiny jobs in a local[2] session with the event log on:

* ``layer=alpha``: a two-stage aggregation (a shuffle);
* ``layer=beta``: one range count;
* a job started from a plain thread while ``layer=beta`` is set: the
  thread does not inherit the description (as in ``build_kg``'s
  cache-warming thread), so the reader must put it in ``unattributed``;
* ``layer=gamma``: a self-join of two band-keyed frames, whose join node
  carries the ``band_key`` column (the reader's SQL-metric lookup).

The log is trimmed to the events and fields the reader uses and written
to ``data/eventlog_small.jsonl`` next to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

KEEP_TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                     "Memory Bytes Spilled", "Disk Bytes Spilled", "Shuffle Write Metrics")
SQL = "org.apache.spark.sql.execution.ui."


def _trim(e: dict) -> dict | None:
    ev = e["Event"]
    if ev == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {"Event": ev, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: v for k, v in props.items()
                               if k in ("spark.job.description", "spark.sql.execution.id")}}
    if ev == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        return {"Event": ev, "Stage ID": e["Stage ID"],
                "Task End Reason": e.get("Task End Reason"),
                "Task Info": {"Accumulables": [
                    {k: a[k] for k in ("ID", "Name", "Update") if k in a}
                    for a in info.get("Accumulables", [])]},
                "Task Metrics": {k: m[k] for k in KEEP_TASK_METRICS if k in m}}
    if ev == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        return {"Event": ev, "Stage Info": {
            "Stage ID": info["Stage ID"], "Stage Attempt ID": info["Stage Attempt ID"],
            "Number of Tasks": info["Number of Tasks"],
            "Accumulables": [{k: a[k] for k in ("ID", "Name", "Value")}
                             for a in info.get("Accumulables", [])
                             if a.get("Name") == "internal.metrics.executorRunTime"]}}
    if ev in (SQL + "SparkListenerSQLExecutionStart",
              SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        return {"Event": ev, "executionId": e["executionId"],
                "sparkPlanInfo": e["sparkPlanInfo"]}
    if ev == SQL + "SparkListenerDriverAccumUpdates":
        return e
    return None


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import eventlog

    log_dir = os.path.join(root, ".perfbench_work", "record_eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = (SparkSession.builder.master("local[2]").appName("record-eventlog")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.autoBroadcastJoinThreshold", "-1")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .getOrCreate())
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("spark.job.description", "layer=alpha")
        spark.range(0, 200, 1, 2).groupBy((F.col("id") % 3).alias("k")).count().collect()
        sc.setLocalProperty("spark.job.description", "layer=beta")
        spark.range(0, 100, 1, 2).count()
        t = threading.Thread(target=lambda: spark.range(0, 50, 1, 2).count())
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        sc.setLocalProperty("spark.job.description", "layer=gamma")
        bands = spark.range(0, 40, 1, 2).select(
            (F.col("id") % 5).alias("band_key"), F.col("id").alias("a"))
        right = bands.withColumnRenamed("a", "b")
        bands.join(right, "band_key").where(F.col("a") < F.col("b")).count()
    finally:
        spark.stop()
    events = [x for x in (_trim(e) for e in eventlog.read_events(eventlog.find_log(log_dir)))
              if x is not None]
    shutil.rmtree(log_dir, ignore_errors=True)
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "eventlog_small.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")
    print(f"wrote {len(events)} events to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
