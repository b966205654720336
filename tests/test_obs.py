"""obs.measure: one call's Spark jobs and tasks, counted per job group,
with the caller's job group handed back."""

from __future__ import annotations

import pytest

from assignment4_spark.obs import measure

_PROPS = ("spark.jobGroup.id", "spark.job.description")


def test_measure_counts_jobs_and_tasks(spark):
    """A 4-partition count runs its 4-task map stage in one job and its
    1-task final aggregate in a second job that skips the map stage
    (AQE submits the map stage first); the skipped stage counts 0."""
    m = measure(spark, lambda: spark.range(0, 100, 1, 4).count())
    assert m.result == 100
    assert (m.jobs, m.tasks) == (2, 5)
    assert len(m.job_ids) == m.jobs and m.seconds > 0


@pytest.fixture
def caller_group(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "caller-group")
    sc.setLocalProperty("spark.job.description", "caller description")
    yield sc
    for k in _PROPS:
        sc.setLocalProperty(k, None)


def _props(sc):
    return tuple(sc.getLocalProperty(k) for k in _PROPS)


def test_measure_restores_caller_group(spark, caller_group):
    sc = caller_group
    inside = measure(spark, lambda: _props(sc)).result
    assert inside[0] not in (None, "caller-group")
    assert _props(sc) == ("caller-group", "caller description")


def test_measure_restores_caller_group_when_fn_raises(spark, caller_group):
    sc = caller_group

    def boom():
        spark.range(10).count()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        measure(spark, boom)
    assert _props(sc) == ("caller-group", "caller description")


def test_job_timeline_counts_only_stages_that_ran():
    """The timeline's tasks follow ``measure``'s rule on a synthetic
    event log: job 1 lists map stage 0, which job 0 already ran, so
    stage 0 is skipped there and counts for job 0 only; jobs outside
    the measured set are ignored."""
    from assignment4_spark.obs import job_timeline

    def start(job, stages, t, desc=None):
        return {
            "Event": "SparkListenerJobStart",
            "Job ID": job,
            "Submission Time": t,
            "Stage Infos": [
                {"Stage ID": s, "Number of Tasks": n} for s, n in stages
            ],
            "Properties": {"callSite.short": f"site{job}"}
            | ({"spark.job.description": desc} if desc else {}),
        }

    def ran(stage, n):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Number of Tasks": n},
        }

    def end(job, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": job,
                "Completion Time": t}

    events = [
        start(0, [(0, 4)], 1000, desc="map"), ran(0, 4), end(0, 1500),
        start(1, [(0, 4), (1, 1)], 1600), ran(1, 1), end(1, 1700),
        start(2, [(2, 8)], 1800), ran(2, 8), end(2, 1900),
    ]
    rows = job_timeline(events, [0, 1])
    assert [
        (r["job"], r["stages"], r["skipped"], r["tasks"], r["desc"])
        for r in rows
    ] == [(0, 1, 0, 4, "map"), (1, 1, 1, 1, "site1")]
    assert [(r["start"], r["end"]) for r in rows] == [(1000, 1500), (1600, 1700)]
    assert sum(r["tasks"] for r in rows) == 5
