"""Every Spark job an operator launches carries the caller's job group.

Jobs are counted by DAG-scheduler id range: the scheduler hands out job ids
from one process-wide counter, so the range covers jobs submitted from pool
threads too, whatever their local properties. If a pool thread does not
inherit the caller's properties, its jobs miss the group: cancelJobGroup
cannot reach them and group-based accounting under-counts.
"""

from __future__ import annotations

import uuid

from conftest import SF_DIR


def _jobs_in_and_out_of_group(spark, action) -> tuple[list[int], list[int]]:
    """(ids of the jobs ``action`` launched, ids its job group holds)."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    group = f"job-group-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job group test")
    try:
        job0 = int(dag.nextJobId())
        action()
        job1 = int(dag.nextJobId())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return (list(range(job0, job1)),
            sorted(sc.statusTracker().getJobIdsForGroup(group)))


def test_dsir_select_jobs_all_carry_the_callers_group(spark):
    from vector_db_api_spark import suite

    q = suite.queries()["doc_dsir_select"]
    launched, grouped = _jobs_in_and_out_of_group(
        spark,
        lambda: q(spark, SF_DIR).write.format("noop").mode("overwrite").save(),
    )
    assert launched
    assert grouped == launched


def test_ivf_route_self_join_jobs_all_carry_the_callers_group(
        spark, clustered_vectors):
    from vector_db_api_spark.operators.ivf import IVFIndex

    ids, mat, _ = clustered_vectors
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "id long, embedding array<double>",
    ).cache()
    corpus.count()
    index = IVFIndex.train(corpus, num_centroids=20, seed=3)
    launched, grouped = _jobs_in_and_out_of_group(
        spark, lambda: index.route_self_join(corpus, 3, sample_queries=32)
    )
    corpus.unpersist()
    assert launched
    assert grouped == launched
