"""Unit test of the event-log digest on a small recorded log.

``testdata/eventlog_small.jsonl`` is a real Spark 4.1 event log, trimmed
to the events and fields the digest reads, of three actions: a
``mapInPandas`` job in job group ``scan``, a shuffle aggregation in
group ``agg`` (two jobs), and two untagged jobs.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os

from eventlog import FIELDS, digest, digest_file

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "testdata", "eventlog_small.jsonl")


def approx(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def test_groups_and_counts():
    rows = digest_file(LOG)
    assert set(rows) == {"scan", "agg", None}
    assert all(set(r) == set(FIELDS) for r in rows.values())
    assert (rows["scan"]["jobs"], rows["scan"]["tasks"]) == (1, 2)
    assert (rows["agg"]["jobs"], rows["agg"]["tasks"]) == (2, 4)
    assert (rows[None]["jobs"], rows[None]["tasks"]) == (2, 5)


def test_task_metric_sums():
    rows = digest_file(LOG)
    scan, agg = rows["scan"], rows["agg"]
    assert approx(scan["task_run_s"], 4.788)
    assert approx(scan["task_cpu_s"], 0.640227862)
    assert approx(scan["gc_s"], 0.056)
    assert approx(agg["task_run_s"], 0.984)
    assert agg["shuffle_write_bytes"] == 855
    assert scan["shuffle_write_bytes"] == 0
    assert all(r["spill_bytes"] == 0 for r in rows.values())


def test_python_worker_time_is_separate():
    """Python time comes from the mapInPandas SQL metrics, not from the
    JVM CPU counters, and only the Python job has any."""
    rows = digest_file(LOG)
    scan = rows["scan"]
    assert approx(scan["python_s"], 4.06)
    assert approx(scan["python_boot_s"], 2.452)
    assert scan["python_bytes_sent"] == 165376
    assert scan["python_s"] > scan["task_cpu_s"]
    assert rows["agg"]["python_s"] == rows[None]["python_s"] == 0


def test_wall_and_skew():
    rows = digest_file(LOG)
    # first job submission to last job completion of the group
    assert approx(rows["scan"]["wall_s"], 2.808)
    assert approx(rows["agg"]["wall_s"], 0.737)
    assert approx(rows["agg"]["task_skew"], 1.0033112582781456)
    assert all(r["task_skew"] >= 1.0 for r in rows.values())


def test_skew_on_a_synthetic_stage():
    """max / median task run time of the worst stage."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
           "Task Info": {"Accumulables": []},
           "Task Metrics": {"Executor Run Time": ms}} for ms in (100, 100, 400)],
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    row = digest(json.dumps(e) for e in events)["g"]
    assert row["task_skew"] == 4.0
    assert row["wall_s"] == 2.0
    assert row["tasks"] == 3
