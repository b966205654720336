"""Per-call attribution from a Spark event log.

The traced run tags every measured call with its own job group
(``SparkContext.setJobGroup``) and turns on Spark's event log through
the launch environment, so no product code changes. This module reads
that log back and sums, per job group:

* ``jobs`` and ``tasks``;
* ``busy_ms``: the union of the group's job intervals (submission to
  completion), i.e. the wall time during which at least one Spark job of
  the call was running;
* ``shuffle_bytes``: shuffle bytes written by its tasks;
* ``python_bytes``: the SQL metric "data sent to Python workers";
* ``records_read`` / ``bytes_read``: task input metrics;
* ``files_read``: the scan metric "number of files read".
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "jobs",
    "tasks",
    "busy_ms",
    "shuffle_bytes",
    "python_bytes",
    "records_read",
    "bytes_read",
    "files_read",
)


def _num(v) -> int:
    return int(float(v))


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, name, out)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def find_log(event_log_dir: str) -> str:
    logs = [f for f in os.listdir(event_log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {logs}")
    return os.path.join(event_log_dir, logs[0])


def parse(path: str) -> dict[str, dict[str, int]]:
    """Job-group id -> summed counters (see module doc). Jobs without a
    group (set-up, checks) are left out."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list] = defaultdict(list)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_ids: dict[int, set] = defaultdict(set)
    files_vals: dict[tuple[int, int], int] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    job_group[e["Job ID"]] = group
                    job_start[e["Job ID"]] = e["Submission Time"]
                    out[group]["jobs"] += 1
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_group:
                    intervals[job_group[jid]].append((job_start[jid], e["Completion Time"]))
            elif ev == "SparkListenerStageSubmitted":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[e["Stage Info"]["Stage ID"]] = group
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                row = out[group]
                row["tasks"] += 1
                for acc in e["Task Info"].get("Accumulables", ()):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == "internal.metrics.shuffle.write.bytesWritten":
                        row["shuffle_bytes"] += _num(upd)
                    elif name == "data sent to Python workers":
                        row["python_bytes"] += _num(upd)
                    elif name == "internal.metrics.input.recordsRead":
                        row["records_read"] += _num(upd)
                    elif name == "internal.metrics.input.bytesRead":
                        row["bytes_read"] += _num(upd)
            elif ev.endswith("SQLExecutionStart"):
                group = e.get("jobGroupId")
                if group is not None:
                    exec_group[_num(e["executionId"])] = group
                    _plan_metric_ids(e["sparkPlanInfo"], "number of files read", files_ids[_num(e["executionId"])])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(e["sparkPlanInfo"], "number of files read", files_ids[_num(e["executionId"])])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                xid = _num(e["executionId"])
                for acc_id, value in e["accumUpdates"]:
                    if acc_id in files_ids.get(xid, ()):
                        files_vals[(xid, acc_id)] = _num(value)
    for (xid, _acc), value in files_vals.items():
        group = exec_group.get(xid)
        if group is not None:
            out[group]["files_read"] += value
    for group, iv in intervals.items():
        out[group]["busy_ms"] = _union_ms(iv)
    return dict(out)
