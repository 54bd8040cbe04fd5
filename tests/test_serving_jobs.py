"""Spark job budgets of the facade's serving calls on a small IVF library.

Jobs are counted by DAG-scheduler id range (the pattern of
tests/test_job_group.py): the scheduler hands out job ids from one
process-wide counter, so the range holds every job a call launched,
whatever thread submitted it. Each budget is an upper bound equal to the
count the serving path launches today; a change that adds a job to a call
fails here and has to say why.

A search of a library this small runs no job: the engine holds the
snapshot of its chunks partition and the posting ids of its IVF cells on
the driver (``EntityStore.partition_rows``, ``IndexLifecycle.probed_ids``)
and scores there. This engine's writes derive the next snapshot and add
their posting files to the held ids, so the first search after an
upsert, a delete or a with-chunks create runs none either. What a warm
search may not do: re-collect the libraries table, reload the IVF model,
reload a snapshot a write derived, or read a posting file twice. The
first search after a rebuild reads the new version's posting ids, in
one job; the rebuild keeps the model it trained.

On the Spark path (no snapshot fits a budget of -1 bytes, as for a
library above the bound) a warm IVF search runs 2 jobs: it lists only the
probed cells, reads posting and bucket tables with a declared schema, and
carries the hit columns through the re-rank instead of scanning the
library partition a second time; an LSH search runs 4. A snapshot that is
read and found larger than the budget answers that one search and is
never read again; an evicted one is read again in one job.

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
- ``delete_chunk`` (2): the partition write and the tombstone append.
  The presence check reads the held snapshot, and the exact sidecar (a
  delete removes an id, so the previous bitmap cannot be OR-ed) is built
  from the derived snapshot's ids;
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
from vector_db_api_spark.sources import store as S

DIM = 8
SEARCH_JOBS = 0
SPARK_SEARCH_JOBS = 2
UPSERT_JOBS = 4
DELETE_JOBS = 2
FIRST_SEARCH_JOBS = 1
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


def _search_jobs(spark, fac, vecs, i: int, lib: str = "L", prefix: str = "") -> int:
    """Jobs of one search for ``vecs[i]``, which must rank ``{prefix}c{i}``
    first."""
    jobs, out = _jobs(spark, lambda: fac.search(
        lib, {"query_embedding": list(vecs[i]), "k": 5}))
    assert out["status"] == 200
    assert out["data"]["hits"][0]["chunk_id"] == f"{prefix}c{i}"
    return jobs


def test_warm_search_job_budget(spark, served):
    fac, vecs = served
    jobs = _search_jobs(spark, fac, vecs, 3)
    assert jobs <= SEARCH_JOBS, jobs


def test_spark_search_job_budget(spark, served, on_spark):
    """A search that goes to Spark drops the library's posting ids: the
    next one on the driver reads them again, in one job."""
    fac, vecs = served
    with on_spark():
        jobs = _search_jobs(spark, fac, vecs, 4)
    assert jobs <= SPARK_SEARCH_JOBS, jobs
    assert "L" not in fac.engine.indexes._postings
    jobs = _search_jobs(spark, fac, vecs, 4)
    assert jobs <= FIRST_SEARCH_JOBS, jobs
    assert _search_jobs(spark, fac, vecs, 4) <= SEARCH_JOBS


def test_upsert_chunk_job_budget(spark, served):
    fac, vecs = served
    jobs, out = _jobs(spark, lambda: fac.upsert_chunk(
        "L", "d0", _chunk("c2", 2, vecs[11])))
    assert out["status"] == 200
    assert jobs <= UPSERT_JOBS, jobs
    jobs = _search_jobs(spark, fac, vecs, 11)  # c2 ties c11: the lower id
    assert jobs <= SEARCH_JOBS, jobs


def test_delete_chunk_job_budget(spark, served):
    fac, vecs = served
    jobs, out = _jobs(spark, lambda: fac.delete_chunk("L", "d0", "c5"))
    assert out["status"] == 204
    assert jobs <= DELETE_JOBS, jobs
    jobs, out = _jobs(spark, lambda: fac.search(
        "L", {"query_embedding": list(vecs[5]), "k": 5}))
    assert "c5" not in {h["chunk_id"] for h in out["data"]["hits"]}
    assert jobs <= SEARCH_JOBS, jobs


def test_create_document_with_chunks_job_budget(spark, served):
    fac, vecs = served
    body = {"id": "d1", "chunks": [
        _chunk(f"d1-{i}", i, -v) for i, v in enumerate(vecs[:16])]}
    jobs, out = _jobs(spark, lambda: fac.create_document_with_chunks("L", body))
    assert out["status"] == 201
    assert jobs <= CREATE_JOBS, jobs
    jobs, out = _jobs(spark, lambda: fac.search(
        "L", {"query_embedding": list(-vecs[6]), "k": 5}))
    assert out["data"]["hits"][0]["chunk_id"] == "d1-6"
    assert jobs <= SEARCH_JOBS, jobs


def test_bulk_upsert_chunks_job_budget(spark, served):
    fac, vecs = served
    chunks = [dict(_chunk(f"b{i}", i, v), document_id="d0")
              for i, v in enumerate(vecs[20:36])]
    jobs, out = _jobs(spark, lambda: fac.bulk_upsert_chunks("L", chunks))
    assert out["status"] == 200 and out["data"]["upserted"] == 16
    assert jobs <= BULK_JOBS, jobs


def test_first_search_after_rebuild_job_budget(spark, tmp_path_factory):
    """The rebuild keeps the model it trained, so the first search of the
    new version runs one job: the read of its posting ids."""
    vecs = np.random.default_rng(8).standard_normal((240, DIM))
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("serving_rebuild"))))
    assert fac.create_library({
        "id": "R", "name": "rebuild", "embedding_dim": DIM,
        "index_config": {"type": "ivf", "num_centroids": 16, "nprobe": 2},
    })["status"] == 201
    assert fac.create_document_with_chunks("R", {
        "id": "d0", "chunks": [_chunk(f"c{i}", i, v) for i, v in enumerate(vecs)],
    })["status"] == 201
    assert fac.rebuild_index("R")["status"] == 200
    jobs = _search_jobs(spark, fac, vecs, 3, "R")
    assert jobs <= FIRST_SEARCH_JOBS, jobs


def test_warm_flat_search_job_budget(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((240, DIM))
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("serving_flat"))))
    assert fac.create_library(
        {"id": "F", "name": "flat", "embedding_dim": DIM})["status"] == 201
    assert fac.create_document_with_chunks("F", {
        "id": "d0", "chunks": [_chunk(f"c{i}", i, v) for i, v in enumerate(vecs)],
    })["status"] == 201
    assert _search_jobs(spark, fac, vecs, 0, "F") <= SEARCH_JOBS
    jobs = _search_jobs(spark, fac, vecs, 3, "F")
    assert jobs <= SEARCH_JOBS, jobs


def _flat_libraries(spark, root: str, libs: str, n: int = 240) -> np.ndarray:
    """Flat libraries of ``n`` chunks each, ``{lib}-c{i}`` with
    ``vecs[i]``, written through a facade on ``root`` whose caches are
    then dropped with it."""
    vecs = np.random.default_rng(9).standard_normal((n, DIM))
    fac = Facade(Engine(spark, root))
    for lib in libs:
        assert fac.create_library(
            {"id": lib, "name": lib, "embedding_dim": DIM})["status"] == 201
        assert fac.create_document_with_chunks(lib, {
            "id": f"{lib}-d0",
            "chunks": [_chunk(f"{lib}-c{i}", i, v) for i, v in enumerate(vecs)],
        })["status"] == 201
    return vecs


def _held(fac: Facade) -> dict:
    """{partition path: held snapshot or None} of a facade's engine."""
    return {k[1]: e[0] for k, e in fac.engine.store._rows.items()}


def test_snapshot_too_large_once_read_stays_on_spark(
    spark, tmp_path_factory, monkeypatch
):
    """A budget above what a load checks first (``base_bytes``) but below
    the whole snapshot, texts included: the search that read it is
    answered from it, in that one job; its path is marked, so later
    searches go to Spark and never read it again."""
    root = str(tmp_path_factory.mktemp("serving_too_large"))
    vecs = _flat_libraries(spark, root, "T")
    fac = Facade(Engine(spark, root))
    with monkeypatch.context() as m:
        m.setattr(S, "SNAPSHOT_BYTES", -1)
        _search_jobs(spark, fac, vecs, 0, "T", "T-")
        spark_jobs = _search_jobs(spark, fac, vecs, 0, "T", "T-")  # warm, on Spark
    base = S.PartitionRows.base_bytes(len(vecs), DIM)
    monkeypatch.setattr(S, "SNAPSHOT_BYTES", base + 1)
    assert _search_jobs(spark, fac, vecs, 1, "T", "T-") <= 1
    assert list(_held(fac).values()) == [None]
    for i in (2, 3):
        assert _search_jobs(spark, fac, vecs, i, "T", "T-") == spark_jobs
    assert list(_held(fac).values()) == [None]


def test_evicted_snapshot_is_read_again_in_one_job(
    spark, tmp_path_factory, monkeypatch
):
    """A budget that holds one of two snapshots: each search of the other
    library evicts the held one, and the next search of it reads it again
    in one job. The held bytes never pass the budget."""
    root = str(tmp_path_factory.mktemp("serving_evict"))
    vecs = _flat_libraries(spark, root, "AB")
    fac = Facade(Engine(spark, root))
    _search_jobs(spark, fac, vecs, 0, "A", "A-")
    size = fac.engine.store._rows[next(iter(fac.engine.store._rows))][2]
    monkeypatch.setattr(S, "SNAPSHOT_BYTES", size + 1)
    for lib, want in (("A", 0), ("B", 1), ("B", 0), ("A", 1), ("B", 1)):
        assert _search_jobs(spark, fac, vecs, 5, lib, f"{lib}-") == want, lib
        held = [e for e in fac.engine.store._rows.values() if e[0] is not None]
        assert len(held) == 1 and held[0][2] <= S.SNAPSHOT_BYTES


def test_snapshot_superseded_during_its_load_is_not_held(
    spark, tmp_path_factory, monkeypatch
):
    """A sibling engine publishes the library while a search reads its
    snapshot: the search is answered from the rows it read, which are
    not held, and the next search reads the new path."""
    root = str(tmp_path_factory.mktemp("serving_load_race"))
    vecs = _flat_libraries(spark, root, "W")
    fac, sibling = Facade(Engine(spark, root)), Facade(Engine(spark, root))
    load = S.PartitionRows.load

    def load_then_sibling_write(frame, dim):
        rows = load(frame, dim)
        assert sibling.upsert_chunk(
            "W", "W-d0", _chunk("W-c1", 1, vecs[9]))["status"] == 200
        return rows

    monkeypatch.setattr(S.PartitionRows, "load", load_then_sibling_write)
    assert _search_jobs(spark, fac, vecs, 1, "W", "W-") > 0
    assert _held(fac) == {}
    monkeypatch.undo()
    jobs, out = _jobs(spark, lambda: fac.search(
        "W", {"query_embedding": list(vecs[9]), "k": 2}))
    assert [h["chunk_id"] for h in out["data"]["hits"]] == ["W-c1", "W-c9"]
    assert jobs <= 1, jobs
    assert len(_held(fac)) == 1


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
