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

What a write may not do: put its request rows under a pickled Python RDD
(built as a JVM local relation, ``session.local_frame``, collecting them
runs no job), or re-derive on the cluster what the driver holds: the
dim, finite and orphan checks and the global-id bloom walk run over the
collected request rows, an add-only write's id sidecar is the previous
one OR the new ids, the IVF delta is assigned on the driver, and the
upsert reply is built from the request and the write's observed stamps.
The jobs that remain:

- ``upsert_chunk`` and a 16-chunk ``bulk_upsert_chunks`` (4): the MERGE
  partition write — up to three jobs under AQE, among them the broadcast
  of the partition's stored ids for the replace join and the write
  itself — then the posting append of the IVF delta;
- ``delete_chunk`` (4): the ``isEmpty`` presence probe, the partition
  write, the collect of the partition's ids for the exact sidecar (a
  delete removes an id, so the previous bitmap cannot be OR-ed), the
  tombstone append;
- ``create_document_with_chunks`` with 16 chunks (5): the documents
  partition write, then the chunks upsert's four.
"""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest

from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine

DIM = 8
SEARCH_JOBS = 2
UPSERT_JOBS = 4
DELETE_JOBS = 4
CREATE_JOBS = 5
BULK_JOBS = 4
LSH_SEARCH_JOBS = 4


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


def test_bulk_upsert_chunks_job_budget(spark, served):
    fac, vecs = served
    chunks = [dict(_chunk(f"b{i}", i, v), document_id="d0")
              for i, v in enumerate(vecs[20:36])]
    jobs, out = _jobs(spark, lambda: fac.bulk_upsert_chunks("L", chunks))
    assert out["status"] == 200 and out["data"]["upserted"] == 16
    assert jobs <= BULK_JOBS, jobs


def test_warm_lsh_search_job_budget(spark, tmp_path_factory):
    """The LSH hits, collected by the probe, come back as a local relation
    whose hydration join keeps them a top-k: no job re-reads them and the
    final sort needs no shuffle."""
    rng = np.random.default_rng(6)
    vecs = rng.standard_normal((240, DIM))
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("serving_lsh"))))
    assert fac.create_library({
        "id": "H", "name": "lsh", "embedding_dim": DIM,
        "index_config": {"type": "lsh", "num_tables": 4,
                         "hyperplanes_per_table": 4},
    })["status"] == 201
    assert fac.create_document_with_chunks("H", {
        "id": "d0", "chunks": [_chunk(f"c{i}", i, v) for i, v in enumerate(vecs)],
    })["status"] == 201
    assert fac.rebuild_index("H")["status"] == 200
    for q in vecs[:2]:
        assert fac.search("H", {"query_embedding": list(q), "k": 5})["status"] == 200
    jobs, out = _jobs(spark, lambda: fac.search(
        "H", {"query_embedding": list(vecs[3]), "k": 5}))
    assert out["status"] == 200
    hits = out["data"]["hits"]
    assert hits[0]["chunk_id"] == "c3" and hits[0]["text"] == "chunk c3"
    assert [h["score"] for h in hits] == sorted(
        (h["score"] for h in hits), reverse=True)
    assert jobs <= LSH_SEARCH_JOBS, jobs


PKG = pathlib.Path(__file__).resolve().parent.parent / "vector_db_api_spark"


def _limit_one_counts(path: pathlib.Path) -> list[int]:
    """Lines of ``<frame>.limit(1).count()`` calls in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and isinstance(inner := node.func.value, ast.Call)
        and isinstance(inner.func, ast.Attribute)
        and inner.func.attr == "limit"
        and [getattr(a, "value", None) for a in inner.args] == [1]
    ]


def test_existence_probes_use_is_empty():
    """An existence probe is ``isEmpty()``, one job: ``limit(1).count()``
    runs the limit and then the count, two."""
    files = [*(PKG / "api").glob("*.py"), PKG / "lifecycle.py"]
    found = {
        str(p.relative_to(PKG)): lines
        for p in sorted(files)
        if (lines := _limit_one_counts(p))
    }
    assert not found, f"limit(1).count() probes (use isEmpty()): {found}"
