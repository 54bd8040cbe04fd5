"""Differential parity at the SERVICE layer: the same CRUD + search workflow
through the reference's services (read-only import, in-memory repos) and
through this engine, comparing results step by step.

Embedding values are multiples of 1/256 — exactly representable in float32 —
so our array<float> storage is lossless and both engines score in float64
over identical inputs.
"""

from __future__ import annotations

import sys
import uuid

import pytest

from pyspark.sql import functions as F

from vector_db_api_spark.api.errors import ValidationError
from vector_db_api_spark.api.service import Engine

REF_SRC = "/root/reference/src"
sys.path.insert(0, REF_SRC)
pytest.importorskip("vector_db_api.services.chunk", reason="reference repo not available")

from vector_db_api.concurrency.locks import LibraryLockRegistry  # noqa: E402
from vector_db_api.indexing.registry import IndexRegistry  # noqa: E402
from vector_db_api.models.entities import Chunk  # noqa: E402
from vector_db_api.models.metadata import ChunkMetadata  # noqa: E402
from vector_db_api.repos.chunks import ChunkRepo  # noqa: E402
from vector_db_api.repos.documents import DocumentRepo  # noqa: E402
from vector_db_api.repos.libraries import LibraryRepo  # noqa: E402
from vector_db_api.services.chunk import ChunkService  # noqa: E402
from vector_db_api.services.document import DocumentService  # noqa: E402
from vector_db_api.services.exceptions import ValidationError as RefValidationError  # noqa: E402
from vector_db_api.services.library import LibraryService  # noqa: E402
from vector_db_api.services.search import SearchService  # noqa: E402

DIM = 8
N = 12

CHUNK_SCHEMA = (
    "id string, library_id string, document_id string, position int, "
    "text string, embedding array<float>, "
    "metadata struct<source_uri:string,author:string,lang:string,"
    "mime_type:string,tags:array<string>,page_number:int,token_count:int,"
    "sha256:string>"
)


def _vec(rng):
    return [float(x) / 256.0 for x in rng.integers(-256, 257, DIM)]


def _cid(i: int) -> uuid.UUID:
    return uuid.UUID(int=i + 1)


@pytest.fixture(scope="module")
def workload():
    import numpy as np

    rng = np.random.default_rng(17)
    rows = []
    for i in range(N):
        rows.append(
            {
                "id": _cid(i),
                "doc": "A" if i < 8 else "B",
                "position": i,
                "text": f"text {i}",
                "embedding": _vec(rng),
                "tags": ["even"] if i % 2 == 0 else ["odd"],
                "author": "alice" if i < 6 else "bob",
            }
        )
    return rows


@pytest.fixture(scope="module")
def ref_stack(workload):
    libs, docs, chunks = LibraryRepo(), DocumentRepo(), ChunkRepo()
    locks, indexes = LibraryLockRegistry(), IndexRegistry()
    lib_svc = LibraryService(libs, docs, chunks, locks, indexes)
    doc_svc = DocumentService(libs, docs, chunks, locks, indexes)
    chunk_svc = ChunkService(libs, docs, chunks, locks, indexes)
    search_svc = SearchService(libs, chunks, locks, indexes)

    lib = lib_svc.create("L", DIM)
    doc_ids = {"A": doc_svc.create(lib.id).id, "B": doc_svc.create(lib.id).id}
    for r in workload:
        chunk_svc.upsert(
            Chunk(
                id=r["id"],
                library_id=lib.id,
                document_id=doc_ids[r["doc"]],
                position=r["position"],
                text=r["text"],
                embedding=r["embedding"],
                metadata=ChunkMetadata(tags=r["tags"], author=r["author"]),
            )
        )
    return {
        "lib": lib, "doc_ids": doc_ids, "chunk_svc": chunk_svc,
        "doc_svc": doc_svc, "search_svc": search_svc,
    }


@pytest.fixture(scope="module")
def our_engine(spark, tmp_path_factory, workload):
    eng = Engine(spark, str(tmp_path_factory.mktemp("parity-engine")))
    eng.create_library("L", DIM, library_id="L")
    eng.create_document("L", document_id="A")
    eng.create_document("L", document_id="B")
    rows = [
        (
            str(r["id"]), "L", r["doc"], r["position"], r["text"], r["embedding"],
            (None, r["author"], None, None, r["tags"], None, None, None),
        )
        for r in workload
    ]
    eng.upsert_chunks("L", eng.spark.createDataFrame(rows, CHUNK_SCHEMA))
    return eng


def _ref_search(ref_stack, q, k, filters=None):
    return ref_stack["search_svc"].query(
        ref_stack["lib"].id, q, k=k, metric="cosine", filters=filters
    )


def test_search_matches_reference(workload, ref_stack, our_engine):
    q = workload[2]["embedding"]
    want = _ref_search(ref_stack, q, 5)
    got = our_engine.search("L", q, k=5)
    assert [r["id"] for r in got] == [str(h["chunk_id"]) for h in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_postfilter_semantics_match_reference(workload, ref_stack, our_engine):
    q = workload[0]["embedding"]
    # filter AFTER top-k on both sides: results may shrink below k, and the
    # surviving ids must be identical
    want = _ref_search(ref_stack, q, 8, filters={"tags": ["even"], "author": "alice"})
    got = our_engine.search("L", q, k=8, tags=["even"], author="alice")
    assert [r["id"] for r in got] == [str(h["chunk_id"]) for h in want]
    assert len(got) < 8  # the filter genuinely shrank the page on both sides


def test_doc_filter_matches_reference(workload, ref_stack, our_engine):
    q = workload[9]["embedding"]
    doc_b = ref_stack["doc_ids"]["B"]
    want = _ref_search(ref_stack, q, 10, filters={"doc_ids": [doc_b]})
    got = our_engine.search("L", q, k=10, doc_ids=["B"])
    assert [r["id"] for r in got] == [str(h["chunk_id"]) for h in want]
    assert all(r["document_id"] == "B" for r in got)


def test_reupsert_rescores_on_both_sides(workload, ref_stack, our_engine):
    """Updating a chunk's embedding must move it in the ranking identically:
    the reference calls index.update; we rewrite + re-search the snapshot."""
    target = workload[5]
    new_vec = [1.0] * DIM
    ref_stack["chunk_svc"].upsert(
        Chunk(
            id=target["id"],
            library_id=ref_stack["lib"].id,
            document_id=ref_stack["doc_ids"][target["doc"]],
            position=target["position"],
            text=target["text"],
            embedding=new_vec,
            metadata=ChunkMetadata(tags=target["tags"], author=target["author"]),
        )
    )
    rows = [(
        str(target["id"]), "L", target["doc"], target["position"], target["text"],
        new_vec, (None, target["author"], None, None, target["tags"], None, None, None),
    )]
    our_engine.upsert_chunks("L", our_engine.spark.createDataFrame(rows, CHUNK_SCHEMA))

    want = _ref_search(ref_stack, new_vec, 3)
    got = our_engine.search("L", new_vec, k=3)
    assert str(want[0]["chunk_id"]) == got[0]["id"] == str(target["id"])
    assert got[0]["score"] == pytest.approx(want[0]["score"], abs=1e-9)
    # version bumped to 2 on our side (reference bumps via update_on_version)
    ver = our_engine.store.read("chunks").filter(
        F.col("id") == str(target["id"])
    ).collect()[0]["version"]
    assert ver == 2


def test_dim_mismatch_rejected_on_both_sides(workload, ref_stack, our_engine):
    bad = [0.5] * (DIM + 1)
    with pytest.raises(RefValidationError):
        ref_stack["chunk_svc"].upsert(
            Chunk(
                id=uuid.uuid4(),
                library_id=ref_stack["lib"].id,
                document_id=ref_stack["doc_ids"]["A"],
                text="bad",
                embedding=bad,
            )
        )
    rows = [(str(uuid.uuid4()), "L", "A", 0, "bad", bad, None)]
    with pytest.raises(ValidationError):
        our_engine.upsert_chunks("L", our_engine.spark.createDataFrame(rows, CHUNK_SCHEMA))


def test_delete_document_cascades_on_both_sides(workload, ref_stack, our_engine):
    """Run LAST: mutates both stacks. Deleting doc B removes its chunks from
    search on both engines."""
    ref_stack["doc_svc"].delete(ref_stack["lib"].id, ref_stack["doc_ids"]["B"])
    our_engine.delete_document("L", "B")
    q = workload[9]["embedding"]
    want = _ref_search(ref_stack, q, N)
    got = our_engine.search("L", q, k=N)
    assert [r["id"] for r in got] == [str(h["chunk_id"]) for h in want]
    assert all(r["document_id"] == "A" for r in got)


def test_scoped_document_get_is_pruned_and_404s_wrong_library(spark, tmp_path):
    """Reference GET /libraries/{lib}/documents/{doc}
    (routers/documents.py:128-136): found in its own library, 404 from a
    different library's route — and the scoped read lists only the named
    partition (manifest-level pruning)."""
    from vector_db_api_spark.api.facade import Facade
    from vector_db_api_spark.api.service import Engine

    eng = Engine(spark, str(tmp_path / "scoped_get"))
    api = Facade(eng)
    for lib in ("A", "B"):
        eng.create_library(lib, 4, library_id=lib)
    eng.create_document("A", document_id="d")
    assert api.get_document("d", library_id="A")["status"] == 200
    assert api.get_document("d", library_id="B")["status"] == 404
    assert api.get_document("d")["status"] == 200  # flat variant still works
    assert api.get_document("missing", library_id="A")["status"] == 404
