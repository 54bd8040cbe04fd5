"""What an engine keeps between requests never outlives the version it was
read from.

An ``Engine`` caches the libraries rows per committed ``libraries`` version,
and its ``IndexLifecycle`` caches each library's IVF/LSH model per
``(version, built_at)``. Its store holds the row snapshot of each small
chunks partition per generation-relative path, and its lifecycle the
posting ids of each IVF version's files, so these libraries are searched
on the driver. In every case below the cached engine's answers must equal
those of a fresh ``Engine`` on the same root, and where ``on_spark`` is
passed, its own answers on the Spark path. Also pins
``IndexLifecycle.apply_delta``'s return value.
"""

from __future__ import annotations

import threading

import numpy as np
import pytest

from vector_db_api_spark.api.errors import NotFoundError
from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig, IndexLifecycle

DIM = 8


def _chunk(cid: str, pos: int, v) -> dict:
    return {"id": cid, "text": f"chunk {cid}", "position": pos,
            "embedding": [float(x) for x in v]}


def _library(fac: Facade, lib: str, vecs, dim: int = DIM, **index) -> None:
    cfg = {"type": "ivf", "num_centroids": 8, "nprobe": 2, **index}
    assert fac.create_library({"id": lib, "name": lib, "embedding_dim": dim,
                               "index_config": cfg})["status"] == 201
    assert fac.create_document_with_chunks(lib, {
        "id": f"{lib}-d0",
        "chunks": [_chunk(f"{lib}-c{i}", i, v) for i, v in enumerate(vecs)],
    })["status"] == 201
    assert fac.rebuild_index(lib)["status"] == 200


def _fresh(fac: Facade) -> Facade:
    return Facade(Engine(fac.engine.spark, fac.engine.store.root,
                         heal_on_start=False))


def _search(fac: Facade, lib: str, q) -> dict:
    return fac.search(lib, {"query_embedding": [float(x) for x in q], "k": 5})


def _assert_like_fresh(fac: Facade, lib: str, queries, on_spark=None) -> None:
    fresh = _fresh(fac)
    for q in queries:
        mine = _search(fac, lib, q)
        assert mine == _search(fresh, lib, q)
        if on_spark is not None:
            with on_spark():
                assert mine == _search(fac, lib, q)
    assert fac.get_library(lib) == fresh.get_library(lib)


def _on_driver(fac: Facade, lib: str) -> bool:
    """Whether the engine holds ``lib``'s snapshot for a driver search."""
    dim = fac.engine._get_library_row(lib)["embedding_dim"]
    return fac.engine.store.partition_rows("chunks", lib, dim)[0] is not None


def _centroids(fac: Facade, lib: str) -> np.ndarray:
    idx = fac.engine.indexes
    return idx._loaded(lib, idx.current(lib)).centroids


@pytest.fixture
def fac(spark, tmp_path):
    return Facade(Engine(spark, str(tmp_path / "engine")))


@pytest.fixture(scope="module")
def vecs():
    return np.random.default_rng(7).standard_normal((96, DIM))


def test_rolled_back_libraries_version_is_not_cached(fac, vecs, on_spark):
    """A transaction stages libraries v+1 (library X) and rolls back; a
    committed write then reuses v+1 for library Y. X must be gone."""
    _library(fac, "A", vecs[:32])
    eng = fac.engine
    staged = eng.store.current_version("libraries") + 1
    with pytest.raises(RuntimeError, match="roll back"):
        with eng.store.transaction():
            eng.create_library("X", DIM, library_id="X")
            assert eng._get_library_row("X")["name"] == "X"  # read-your-writes
            raise RuntimeError("roll back")
    eng.create_library("Y", DIM, library_id="Y")
    assert eng.store.current_version("libraries") == staged
    with pytest.raises(NotFoundError):
        eng._get_library_row("X")
    assert eng._get_library_row("Y")["name"] == "Y"
    assert _search(fac, "X", vecs[0])["status"] == 404
    _assert_like_fresh(fac, "Y", vecs[:1], on_spark)
    assert _on_driver(fac, "A")
    _assert_like_fresh(fac, "A", vecs[:3], on_spark)


def test_rolled_back_chunks_version_is_not_served(fac, vecs, on_spark):
    """A transaction upserts chunk x (the write derives a snapshot for its
    staged path) and rolls back; a committed upsert of y then reuses the
    path. Searches must see y and never x."""
    _library(fac, "C", vecs[:32])
    _search(fac, "C", vecs[0])
    eng = fac.engine
    staged = eng.store.current_version("chunks") + 1
    with pytest.raises(RuntimeError, match="roll back"):
        with eng.write_lock, eng.store.transaction():
            assert fac.upsert_chunk("C", "C-d0", _chunk("C-x", 0, vecs[40]))["status"] == 200
            raise RuntimeError("roll back")
    # the committed partition keeps its snapshot through the rollback
    assert eng.store.cached_rows("chunks", "C") is not None
    assert fac.upsert_chunk("C", "C-d0", _chunk("C-y", 0, vecs[41]))["status"] == 200
    assert eng.store.current_version("chunks") == staged
    assert _on_driver(fac, "C")
    hits = {h["chunk_id"] for h in _search(fac, "C", vecs[40])["data"]["hits"]}
    assert "C-x" not in hits
    assert _search(fac, "C", vecs[41])["data"]["hits"][0]["chunk_id"] == "C-y"
    _assert_like_fresh(fac, "C", vecs[38:42], on_spark)


def test_read_overlapping_a_rolled_back_transaction_caches_committed_rows(
        fac, monkeypatch, on_spark):
    """Thread T1 stages libraries v+1 (library X) right after this thread's
    read has found no staged version; T1 then rolls back and a committed
    write reuses v+1 for library Y. The store's transaction is shared by
    every thread using it, so the read must key and read the committed
    version, not T1's staged one."""
    eng = fac.engine
    eng.create_library("A", DIM, library_id="A")
    committed = eng.store.current_version("libraries")
    staged_in, release = threading.Event(), threading.Event()

    def stage_and_roll_back():
        with pytest.raises(RuntimeError, match="roll back"):
            with eng.store.transaction():
                eng.create_library("X", DIM, library_id="X")
                staged_in.set()
                release.wait(120)
                raise RuntimeError("roll back")

    t1 = threading.Thread(target=stage_and_roll_back)
    real_staged = eng.store.staged

    def staged_then_overlap(table):
        out = real_staged(table)
        if not t1.is_alive() and not staged_in.is_set():
            t1.start()
            assert staged_in.wait(120)
        return out

    monkeypatch.setattr(eng.store, "staged", staged_then_overlap)
    try:
        assert eng.store.current_version("libraries") == committed
        with pytest.raises(NotFoundError):
            eng._get_library_row("X")  # overlaps T1's staged version
        assert eng.store.current_version("libraries") == committed + 1
    finally:
        release.set()
        if t1.is_alive() or staged_in.is_set():
            t1.join()
    monkeypatch.undo()
    eng.create_library("Y", DIM, library_id="Y")
    assert eng.store.current_version("libraries") == committed + 1
    with pytest.raises(NotFoundError):
        eng._get_library_row("X")
    assert eng._get_library_row("Y")["name"] == "Y"
    assert fac.get_library("Y") == _fresh(fac).get_library("Y")
    _assert_like_fresh(fac, "Y", [[1.0] * DIM], on_spark)


def test_library_deleted_and_recreated_under_the_same_id(fac, vecs):
    _library(fac, "R", vecs[:32])
    before = _search(fac, "R", vecs[1])
    assert before["status"] == 200
    assert fac.delete_library("R")["status"] == 204
    assert _search(fac, "R", vecs[1])["status"] == 404
    small = np.random.default_rng(8).standard_normal((40, 4))
    _library(fac, "R", small, dim=4, num_centroids=4)
    assert _search(fac, "R", vecs[1])["status"] == 422  # old dim is gone
    out = _search(fac, "R", small[2])
    assert out["status"] == 200
    assert out["data"]["hits"][0]["chunk_id"] == "R-c2"
    _assert_like_fresh(fac, "R", small[:4])


def test_update_index_config_and_rebuild_index(fac, vecs):
    _library(fac, "U", vecs)
    _search(fac, "U", vecs[0])
    v1 = fac.engine.indexes.current("U")["version"]
    out = fac.update_index_config("U", {"type": "ivf", "params": {
        "num_centroids": 12, "nprobe": 3}})
    assert out["status"] == 200
    assert fac.engine.indexes.current("U")["version"] == v1 + 1
    assert fac.get_library("U")["data"]["index_config"]["ivf"]["nprobe"] == 3
    _assert_like_fresh(fac, "U", vecs[:6])
    assert len(_centroids(fac, "U")) == 12
    assert fac.rebuild_index("U")["status"] == 200
    _assert_like_fresh(fac, "U", vecs[:6])
    # and to LSH: the cached bucket schema, carried columns and pad-to-k
    assert fac.update_index_config("U", {"type": "lsh", "params": {
        "num_tables": 4, "hyperplanes_per_table": 3}})["status"] == 200
    assert fac.engine.indexes.current("U")["type"] == "lsh"
    _assert_like_fresh(fac, "U", vecs[:6])
    hits = fac.engine.search("U", [float(x) for x in vecs[5]], k=3)
    assert hits[0]["id"] == "U-c5" and hits[0]["document_id"] == "U-d0"
    assert hits[0]["created_at"] is not None


def test_drop_then_rebuild_reuses_v1_with_new_centroids(fac, vecs):
    _library(fac, "D", vecs[:48])
    _search(fac, "D", vecs[0])
    old = _centroids(fac, "D")
    assert fac.engine.indexes.current("D")["version"] == 1
    assert fac.engine.indexes.drop("D")
    # new data, then a rebuild: the version number restarts at v=1
    fac.bulk_upsert_chunks("D", [
        {**_chunk(f"D-n{i}", 100 + i, v), "document_id": "D-d0"}
        for i, v in enumerate(vecs[48:])])
    assert fac.rebuild_index("D")["status"] == 200
    assert fac.engine.indexes.current("D")["version"] == 1
    new = _centroids(fac, "D")
    assert not np.array_equal(old, new)
    assert np.array_equal(new, _centroids(_fresh(fac), "D"))
    _assert_like_fresh(fac, "D", vecs[40:46])


def test_sibling_engine_rebuild_is_seen_on_the_next_call(fac, vecs, on_spark):
    """Engine A caches v=1; sibling B drops and rebuilds the index over
    changed data (v=1 again, new built_at), then changes its config."""
    _library(fac, "S", vecs[:48])
    for q in vecs[:3]:
        _search(fac, "S", q)
    sibling = _fresh(fac)
    sibling.bulk_upsert_chunks("S", [
        {**_chunk(f"S-n{i}", 100 + i, v), "document_id": "S-d0"}
        for i, v in enumerate(vecs[48:])])
    assert sibling.engine.indexes.drop("S")
    assert sibling.rebuild_index("S")["status"] == 200
    assert fac.engine.indexes.current("S")["version"] == 1
    assert np.array_equal(_centroids(fac, "S"), _centroids(sibling, "S"))
    assert _on_driver(fac, "S")
    _assert_like_fresh(fac, "S", vecs[44:50], on_spark)
    assert sibling.update_index_config("S", {"type": "ivf", "params": {
        "num_centroids": 6, "nprobe": 1}})["status"] == 200
    assert fac.get_library("S")["data"]["index_config"]["ivf"]["num_centroids"] == 6
    assert fac.engine._get_library_row("S")["index_config"]["ivf_num_centroids"] == 6
    _assert_like_fresh(fac, "S", vecs[44:50], on_spark)


def test_sibling_engine_writes_are_seen_on_the_next_call(fac, vecs, on_spark):
    """Engine A holds the snapshot and the posting ids; sibling B upserts
    (appending posting files A never wrote) and deletes, with no rebuild.
    A's next search loads B's partition and reads B's posting files."""
    _library(fac, "P", vecs[:48])
    for q in vecs[:3]:
        _search(fac, "P", q)
    sibling = _fresh(fac)
    assert sibling.bulk_upsert_chunks("P", [
        {**_chunk(f"P-n{i}", 100 + i, v), "document_id": "P-d0"}
        for i, v in enumerate(vecs[48:56])])["status"] == 200
    assert sibling.delete_chunk("P", "P-d0", "P-c3")["status"] == 204
    assert _on_driver(fac, "P")
    assert _search(fac, "P", vecs[50])["data"]["hits"][0]["chunk_id"] == "P-n2"
    assert "P-c3" not in {
        h["chunk_id"] for h in _search(fac, "P", vecs[3])["data"]["hits"]}
    _assert_like_fresh(fac, "P", vecs[:6], on_spark)
    _assert_like_fresh(fac, "P", vecs[48:56], on_spark)


def test_selfcontained_version_hydrates_hits_until_first_mutation(fac, vecs):
    _library(fac, "SC", vecs[:40], layout="selfcontained")
    desc = fac.engine.indexes.current("SC")
    assert desc["layout_serving"] == "selfcontained"
    out = _search(fac, "SC", vecs[4])
    hit = out["data"]["hits"][0]
    assert hit == {"chunk_id": "SC-c4", "document_id": "SC-d0",
                   "score": pytest.approx(1.0), "text": "chunk SC-c4"}
    _assert_like_fresh(fac, "SC", vecs[:4])
    # the first mutation downgrades serving to the live re-rank
    assert fac.upsert_chunk("SC", "SC-d0", _chunk("SC-c4", 4, -vecs[4]))["status"] == 200
    assert fac.engine.indexes.current("SC")["layout_serving"] == "idonly"
    hits = _search(fac, "SC", vecs[4])["data"]["hits"]
    assert "SC-c4" not in {h["chunk_id"] for h in hits}
    _assert_like_fresh(fac, "SC", vecs[:5])


@pytest.mark.parametrize("kind, per_row", [("ivf", 1), ("lsh", 3)])
def test_apply_delta_returns_the_posting_rows_appended(
        spark, tmp_path, vecs, kind, per_row):
    """One NULL, one zero-norm, one NaN and one indexable embedding: only
    the last gets postings — one for IVF, one per table for LSH."""
    lc = IndexLifecycle(spark, str(tmp_path / "idx"))
    schema = "id string, embedding array<float>"
    corpus = spark.createDataFrame(
        [(f"c{i}", [float(x) for x in v]) for i, v in enumerate(vecs[:40])], schema)
    params = ({"num_centroids": 4, "nprobe": 2} if kind == "ivf"
              else {"num_tables": 3, "hyperplanes_per_table": 4})
    desc = lc.rebuild("L", corpus, IndexConfig(kind, params), DIM)
    table = "ivf_assignments" if kind == "ivf" else "lsh_buckets"
    path = f"{lc._lib_dir('L')}/v={desc['version']}/{table}"
    before = spark.read.parquet(path).count()
    batch = spark.createDataFrame([
        ("null", None),
        ("zero", [0.0] * DIM),
        ("nan", [float("nan")] + [1.0] * (DIM - 1)),
        ("live", [float(x) for x in vecs[50]]),
    ], schema)
    assert lc.apply_delta("L", batch) == per_row
    assert spark.read.parquet(path).count() - before == per_row
    assert lc.apply_delta("L", batch.limit(0)) == 0
