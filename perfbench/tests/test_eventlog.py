"""The event-log reader on a small recorded log (see record_eventlog.py).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(LOG)


def test_layer_sums_equal_log_totals(events):
    """The rows' task metrics add up to the stages' own run-time
    accumulators, a separate record in the log."""
    table = eventlog.layer_table(events)
    totals = eventlog.log_totals(events)
    assert totals["executor_run_s"] > 0
    assert eventlog.reconcile(table, totals) <= eventlog.RECONCILE_TOLERANCE
    assert sum(r["tasks"] for r in table.values()) == totals["tasks"]
    assert sum(r["jobs"] for r in table.values()) == totals["jobs"]
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in task_ends) / 1e9
    assert sum(r["executor_cpu_s"] for r in table.values()) == pytest.approx(cpu)


def test_described_jobs_land_in_their_layer(events):
    table = eventlog.layer_table(events)
    assert {"alpha", "beta", "gamma"} <= set(table)
    assert table["alpha"]["shuffle_write_bytes"] > 0  # the aggregation's exchange
    assert table["gamma"]["jobs"] == 1
    for layer in ("alpha", "beta", "gamma"):
        assert table[layer]["failed_tasks"] == 0
        assert table[layer]["task_skew"] >= 1.0


def test_jobs_without_description_are_unattributed(events):
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    bare = [e for e in starts if not e["Properties"].get("spark.job.description")]
    assert bare, "the recorded log has a job from a thread without a description"
    table = eventlog.layer_table(events)
    assert table[eventlog.UNATTRIBUTED]["jobs"] == len(bare)
    assert table[eventlog.UNATTRIBUTED]["tasks"] > 0


def test_reconcile_sees_lost_task_events(events):
    table = eventlog.layer_table(events)
    kept = [e for i, e in enumerate(events)
            if not (e["Event"] == "SparkListenerTaskEnd" and i % 5 == 0)]
    assert eventlog.reconcile(eventlog.layer_table(kept), eventlog.log_totals(kept)) \
        > eventlog.RECONCILE_TOLERANCE
    assert eventlog.reconcile(table, eventlog.log_totals(events)) \
        <= eventlog.RECONCILE_TOLERANCE


def test_window_keeps_only_the_jobs_submitted_inside_it(events):
    starts = {e["Job ID"]: e["Submission Time"] for e in events
              if e["Event"] == "SparkListenerJobStart"}
    gamma = [j for j, e in ((e["Job ID"], e) for e in events
                            if e["Event"] == "SparkListenerJobStart")
             if e["Properties"].get("spark.job.description") == "layer=gamma"]
    first, last = min(starts[j] for j in gamma), max(starts[j] for j in gamma)
    jobs = eventlog.jobs_in_windows(events, [(first, last)])
    assert set(gamma) <= jobs and len(jobs) < len(starts)
    table = eventlog.layer_table(events, jobs)
    assert "alpha" not in table and "beta" not in table
    assert table["gamma"]["jobs"] == len(gamma)
    totals = eventlog.log_totals(events, jobs)
    assert totals["jobs"] == len(jobs)
    assert 0 < totals["executor_run_s"] < eventlog.log_totals(events)["executor_run_s"]
    assert eventlog.reconcile(table, totals) <= eventlog.RECONCILE_TOLERANCE


def test_job_without_description_takes_its_executions_layer():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.job.description": "layer=a", "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Properties": {}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": s,
         "Task Metrics": {"Executor Run Time": 10 * (s + 1)}} for s in (0, 1, 2)
    ] + [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": s, "Number of Tasks": 1, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 10 * (s + 1)}]}}
        for s in (0, 1, 2)
    ]
    table = eventlog.layer_table(events)
    assert table["a"]["jobs"] == 2 and table["a"]["executor_run_s"] == pytest.approx(0.03)
    assert table[eventlog.UNATTRIBUTED]["jobs"] == 1
    assert eventlog.reconcile(table, eventlog.log_totals(events)) == 0


def test_band_join_output_rows_from_sql_metrics(events):
    # 40 ids in 5 band_key groups of 8: 5 × C(8, 2) = 140 pairs with a < b
    assert eventlog.sql_metric(events, lambda s: "Join" in s and "band_key" in s,
                               "number of output rows") == 140
    assert eventlog.sql_metric(events, lambda s: "Join" in s and "band_key" in s,
                               "number of output rows", layer="gamma") == 140
    assert eventlog.sql_metric(events, lambda s: "Join" in s and "band_key" in s,
                               "number of output rows", layer="alpha") == 0
