"""Job attribution by the DAG scheduler's job-id range catches every job an
operation launched, including jobs from helper threads that escape the
caller's job group."""

from __future__ import annotations

import os

import corpus
import instrument

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_id_range_catches_the_jobs_the_overlapped_ivf_leg_submits_outside_the_group(spark, tmp_path):
    from imdb_mapreduce_spark.plans.registry import all_queries

    # a fresh basename, so the IVF index keyed by it is built cold
    name = f"pb_attr_{os.getpid()}"
    sf_dir = corpus.copy_star_corpus(str(tmp_path / name))
    query = all_queries()["ann_ivf_erasure_topk"]
    stats = instrument.SparkStats(spark)
    sc = spark.sparkContext

    first = stats.next_job_id()
    sc.setJobGroup("attribution-test", "ann_ivf_erasure_topk")
    try:
        rows = query.spark_fn(spark, sf_dir).toPandas()
    finally:
        sc.setJobGroup("attribution-test-done", "")
        instrument.remove_tree(os.path.join(REPO, "spark-warehouse", "ivf", name))
    last = stats.next_job_id()
    stats.settle()

    by_range = stats.collect(range(first, last)).jobs
    group = stats.group_job_ids("attribution-test")
    assert len(rows) > 0
    assert group and all(first <= j < last for j in group), (first, last, group)
    assert by_range == last - first
    # the probe leg's ThreadPoolExecutor jobs escape the group; the id
    # range still counts them
    assert by_range > len(group), (by_range, len(group))
