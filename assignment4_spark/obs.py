"""Measurement of one call's Spark work: the jobs and tasks a call
launches, counted per job group — evidence that timing noise cannot
fake. ``scripts/measure.py`` and the job-count tests read it from here.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import SparkSession

# the local properties ``setJobGroup`` sets; a measured call borrows
# them and hands the caller's values back
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclass(frozen=True)
class Measurement:
    seconds: float
    job_ids: list[int]
    jobs: int
    tasks: int
    result: Any


def measure(spark: SparkSession, fn: Callable[[], Any]) -> Measurement:
    """Run ``fn()`` in a fresh job group and count its Spark work.

    ``tasks`` sums ``numCompletedTasks`` over the distinct stages of the
    group's jobs: a stage shared by several jobs counts once, and a
    stage skipped because an earlier job already ran it counts 0. The
    caller's job group and description are restored on exit, also when
    ``fn`` raises."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"measure-{uuid.uuid4().hex}"
    # no group description: the jobs keep their own, or their call site
    sc.setJobGroup(group, None)
    try:
        t0 = time.perf_counter()
        result = fn()
        seconds = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    tracker = sc.statusTracker()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    stages = {
        s
        for j in job_ids
        if (info := tracker.getJobInfo(j))
        for s in info.stageIds
    }
    tasks = sum(
        info.numCompletedTasks
        for s in stages
        if (info := tracker.getStageInfo(s))
    )
    return Measurement(seconds, job_ids, len(job_ids), tasks, result)


def job_timeline(events: list[dict], job_ids: list[int]) -> list[dict]:
    """One row per job in ``job_ids`` from a Spark event log's events
    (the parsed JSON lines), in job-id order: ``job``, ``start`` and
    ``end`` (epoch ms), ``desc`` (the job description, else its call
    site), ``stages`` and ``tasks`` of the stages that RAN for it, and
    ``skipped``, its listed stages that never ran.

    The tasks follow ``measure``'s rule, so they sum to its ``tasks``:
    a stage counts once, for the first of the jobs that lists it, and
    only if a ``SparkListenerStageCompleted`` event shows it ran; a
    stage an earlier job already ran is listed again by later jobs but
    skipped there."""
    wanted = set(job_ids)
    jobs: dict[int, dict] = {}
    listed: dict[int, list[int]] = {}
    ran: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            ran[info["Stage ID"]] = info.get("Number of Tasks", 0)
        elif ev.get("Job ID") not in wanted:
            continue
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description")
                or props.get("callSite.short", ""),
            }
            listed[jid] = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    seen: set[int] = set()
    rows = []
    for jid in sorted(jobs):
        mine = [s for s in listed[jid] if s in ran and s not in seen]
        seen.update(mine)
        rows.append(
            {
                **jobs[jid],
                "stages": len(mine),
                "tasks": sum(ran[s] for s in mine),
                "skipped": len(listed[jid]) - len(mine),
            }
        )
    return rows
