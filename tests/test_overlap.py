"""``concurrent_values``: pool-thread jobs keep the caller's job group
and description, and the first failing thunk's exception propagates."""

from __future__ import annotations

import uuid

import pytest

from reports_generator_spark.functions.overlap import concurrent_values


def test_jobs_carry_caller_group_and_description(spark):
    sc = spark.sparkContext
    group = f"test-overlap-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "overlap caller")

    def job():
        spark.range(10).count()
        return sc.getLocalProperty("spark.job.description")

    try:
        descs = concurrent_values(job, job, job)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert descs == ["overlap caller"] * 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_first_failing_thunk_raises(spark):
    def boom(msg):
        def f():
            raise ValueError(msg)

        return f

    with pytest.raises(ValueError, match="first"):
        concurrent_values(lambda: 1, boom("first"), boom("second"))
