"""Spark job budgets of the facade's serving calls on a small IVF library.

Jobs are counted by DAG-scheduler id range (the pattern of
tests/test_job_group.py): the scheduler hands out job ids from one
process-wide counter, so the range holds every job a call launched,
whatever thread submitted it. Each budget is an upper bound equal to the
count the serving path launches today; a change that adds a job to a call
fails here and has to say why.

What a warm search may not do: re-collect the libraries table, reload the
IVF model or re-infer a posting schema (fixed by the committed versions),
list every cell of the posting table (only the probed cells are read), or
scan the library partition a second time to re-attach hit columns.
"""

from __future__ import annotations

import numpy as np
import pytest

from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine

DIM = 8
SEARCH_JOBS = 2
UPSERT_JOBS = 19
DELETE_JOBS = 7
CREATE_JOBS = 22


def _chunk(cid: str, pos: int, v) -> dict:
    return {"id": cid, "text": f"chunk {cid}", "position": pos,
            "embedding": [float(x) for x in v]}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """(facade, vectors): an IVF library of 240 chunks, built and warmed —
    two searches and one upsert, so every per-version load has happened."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((240, DIM))
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("serving_jobs"))))
    assert fac.create_library({
        "id": "L", "name": "jobs", "embedding_dim": DIM,
        "index_config": {"type": "ivf", "num_centroids": 16, "nprobe": 2},
    })["status"] == 201
    assert fac.create_document_with_chunks("L", {
        "id": "d0", "chunks": [_chunk(f"c{i}", i, v) for i, v in enumerate(vecs)],
    })["status"] == 201
    assert fac.rebuild_index("L")["status"] == 200
    for q in vecs[:2]:
        assert fac.search("L", {"query_embedding": list(q), "k": 5})["status"] == 200
    assert fac.upsert_chunk("L", "d0", _chunk("c1", 1, vecs[7]))["status"] == 200
    return fac, vecs


def _jobs(spark, call) -> tuple[int, dict]:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = int(dag.nextJobId())
    out = call()
    return int(dag.nextJobId()) - job0, out


def test_warm_search_job_budget(spark, served):
    fac, vecs = served
    jobs, out = _jobs(spark, lambda: fac.search(
        "L", {"query_embedding": list(vecs[3]), "k": 5}))
    assert out["status"] == 200
    assert out["data"]["hits"][0]["chunk_id"] == "c3"
    assert jobs <= SEARCH_JOBS, jobs


def test_upsert_chunk_job_budget(spark, served):
    fac, vecs = served
    jobs, out = _jobs(spark, lambda: fac.upsert_chunk(
        "L", "d0", _chunk("c2", 2, vecs[11])))
    assert out["status"] == 200
    assert jobs <= UPSERT_JOBS, jobs


def test_delete_chunk_job_budget(spark, served):
    fac, _ = served
    jobs, out = _jobs(spark, lambda: fac.delete_chunk("L", "d0", "c5"))
    assert out["status"] == 204
    assert jobs <= DELETE_JOBS, jobs


def test_create_document_with_chunks_job_budget(spark, served):
    fac, vecs = served
    body = {"id": "d1", "chunks": [
        _chunk(f"d1-{i}", i, v) for i, v in enumerate(vecs[:16])]}
    jobs, out = _jobs(spark, lambda: fac.create_document_with_chunks("L", body))
    assert out["status"] == 201
    assert jobs <= CREATE_JOBS, jobs
