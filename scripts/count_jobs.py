"""Exact Spark-job and task counts per registered op (deterministic
evidence the shared box's timing noise cannot fake): each op runs once
warm inside its own job group; the group's job-id list length IS the
op's job count, and the tasks its stages ran (a skipped stage runs
none) are its task count.

Usage: python scripts/count_jobs.py <op> [<op> ...]
Prints two JSON lines: JOBS {"op": n_jobs, ...} and
TASKS {"op": n_tasks, ...}
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from assignment4_spark import registry  # noqa: E402
from assignment4_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def group_tasks(tracker, jobs) -> int:
    """Tasks run by the stages of ``jobs``; a stage shared by several
    jobs counts once."""
    stages = {
        s
        for j in jobs
        if (info := tracker.getJobInfo(j))
        for s in info.stageIds
    }
    return sum(
        info.numCompletedTasks
        for s in stages
        if (info := tracker.getStageInfo(s))
    )


def main() -> None:
    ops = sys.argv[1:]
    registry.load_all()
    spark = get_spark("count-jobs")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for op in ops:
        registry.QUERIES[op](spark, SF).count()  # warm (first-touch pools)
        spark.catalog.clearCache()
        group = f"count-{op}"
        sc.setJobGroup(group, op)
        try:
            registry.QUERIES[op](spark, SF).count()
        finally:
            sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        out[op] = len(jobs)
        tasks[op] = group_tasks(tracker, jobs)
        spark.catalog.clearCache()
    print("JOBS " + json.dumps(out))
    print("TASKS " + json.dumps(tasks))
    spark.stop()


if __name__ == "__main__":
    main()
