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
