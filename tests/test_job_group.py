"""Every Spark job an operator launches carries the caller's job group.

Jobs are counted by DAG-scheduler id range: the scheduler hands out job ids
from one process-wide counter, so the range covers jobs submitted from pool
threads too, whatever their local properties. If a pool thread does not
inherit the caller's properties, its jobs miss the group: cancelJobGroup
cannot reach them and group-based accounting under-counts.
"""

from __future__ import annotations

import uuid

import pandas as pd

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


def test_cancel_job_group_stops_dsir_pool_jobs(spark):
    """cancelJobGroup reaches the jobs DSIR runs concurrently from its two
    pool threads: a sleeping UDF holds a job of each thread active, the
    group is cancelled, the caller raises, and no job of the group that
    had not finished by then succeeds (adaptive execution may already
    have finished the small scan stages). Every wait is bounded."""
    import threading
    import time

    from pyspark.sql import functions as F

    from vector_db_api_spark import suite
    from vector_db_api_spark.operators.dsir import dsir_pipeline

    @F.pandas_udf("string")
    def slow(text: pd.Series) -> pd.Series:
        time.sleep(3)
        return text

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"dsir-cancel-{uuid.uuid4().hex}"
    docs = suite._docs(spark, SF_DIR).withColumn("text", slow("text"))
    target, pool = suite._dsir_split(docs)
    errors: list[BaseException] = []

    def caller():
        sc.setJobGroup(group, "dsir cancel test", interruptOnCancel=True)
        try:
            dsir_pipeline(pool, target, k=suite.DSIR_K,
                          buckets=suite.DSIR_BUCKETS
                          ).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def statuses():
        infos = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
        return {i.jobId: i.status for i in infos if i is not None}

    def running():
        return [j for j, st in statuses().items() if st == "RUNNING"]

    # the pipeline's only concurrency is the pool: two jobs running at
    # once are one from each pool thread
    t = threading.Thread(target=caller, daemon=True)
    t.start()
    deadline = time.monotonic() + 60
    while len(running()) < 2 and t.is_alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    done_before = {j for j, st in statuses().items() if st == "SUCCEEDED"}
    active = running()
    sc.cancelJobGroup(group)
    t.join(60)
    assert len(active) >= 2, f"expected a job of each pool thread active: {active}"
    assert not t.is_alive(), "the caller did not return within 60 s"
    assert errors, "the caller finished without an error after the cancel"

    deadline = time.monotonic() + 60
    while running() and time.monotonic() < deadline:
        time.sleep(0.1)
    after = {j: st for j, st in statuses().items() if j not in done_before}
    assert set(active) <= set(after)
    assert all(st == "FAILED" for st in after.values()), after
