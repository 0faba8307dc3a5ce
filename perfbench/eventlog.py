"""Digest a Spark event log into one row per job group.

The traced run tags every span with its own job group
(``SparkContext.setJobGroup``), so each job in the log carries the span
that caused it in ``spark.jobGroup.id``.  This module reads the
uncompressed JSON-lines log the session writes and sums task metrics
per group.  Python worker time comes from the SQL metrics that
``mapInPandas``/``applyInPandas`` operators report per task ("time to
run Python workers" and friends); the JVM's own CPU counters cannot see
it.
"""

from __future__ import annotations

import json
from collections import defaultdict

from harness import median

# span fields, in report order
FIELDS = (
    "wall_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "python_s", "python_boot_s", "python_bytes_sent",
    "shuffle_write_bytes", "spill_bytes", "task_skew",
)

_PY_ACCUMS = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
}


def digest(lines) -> dict[str | None, dict]:
    """Per job group (``None`` for untagged jobs): the span fields above.

    ``wall_s`` runs from the first job's submission to the last job's
    completion in the group.  ``task_skew`` is the largest, over the
    group's stages with at least two tasks, of max/median task run time.
    """
    group_of_job: dict[int, str | None] = {}
    group_of_stage: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    job_end: dict[int, int] = {}
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    rows: dict[str | None, dict] = {}

    def row(group):
        if group not in rows:
            rows[group] = dict.fromkeys(FIELDS, 0)
        return rows[group]

    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jid = e["Job ID"]
            group_of_job[jid] = group
            job_start[jid] = e.get("Submission Time", 0)
            for sid in e.get("Stage IDs", ()):
                group_of_stage[sid] = group
            row(group)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            r = row(group_of_stage.get(sid))
            m = e.get("Task Metrics") or {}
            r["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            stage_task_ms[sid].append(run_ms)
            r["task_run_s"] += run_ms / 1e3
            r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                hit = _PY_ACCUMS.get(acc.get("Name"))
                if hit is not None and acc.get("Update") is not None:
                    field, scale = hit
                    r[field] += float(acc["Update"]) * scale

    spans: dict[str | None, list[int]] = defaultdict(list)
    for jid, group in group_of_job.items():
        if jid in job_end:
            spans[group].extend((job_start[jid], job_end[jid]))
    for group, ts in spans.items():
        row(group)["wall_s"] = (max(ts) - min(ts)) / 1e3
    for sid, times in stage_task_ms.items():
        med = median(times)
        if med > 0:
            r = row(group_of_stage.get(sid))
            r["task_skew"] = max(r["task_skew"], max(times) / med)
    return rows


def digest_file(path: str) -> dict[str | None, dict]:
    with open(path) as fh:
        return digest(fh)
