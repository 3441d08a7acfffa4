"""The overlap helper every concurrent leg runs through."""

from __future__ import annotations


def test_overlap_leg_job_lands_in_the_callers_job_group(spark):
    """A job a leg submits from its helper thread carries the caller's
    job group, so a per-query or per-request group (the service's, the
    benchmark's) sees it and a cancel of the group reaches it. A bare
    ThreadPoolExecutor thread starts with no local properties and its
    job escapes the group."""
    from imdb_mapreduce_spark.concurrency import overlap

    sc = spark.sparkContext
    group = "test-overlap-leg"
    sc.setJobGroup(group, "overlap leg")
    try:
        rows, other = overlap(
            spark, lambda: spark.range(3).collect(), lambda: "no job"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert [r.id for r in rows] == [0, 1, 2] and other == "no job"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
