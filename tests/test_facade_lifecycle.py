"""Facade DTO mapping (status codes, extra-field rejection) and index
lifecycle bootstrap."""

from __future__ import annotations

import pytest

from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig, IndexLifecycle


@pytest.fixture(scope="module")
def facade(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("facade")))
    f = Facade(eng)
    assert f.create_library({"id": "L1", "name": "lib", "embedding_dim": 4})["status"] == 201
    assert f.create_document("L1", {"id": "D1"})["status"] == 201
    return f


def _chunk(cid, pos, text, emb):
    return {"id": cid, "library_id": "L1", "document_id": "D1",
            "position": pos, "text": text, "embedding": emb}


def test_facade_ingest_and_search(facade):
    res = facade.bulk_upsert_chunks("L1", [
        _chunk("c1", 0, "hello", [1.0, 0.0, 0.0, 0.0]),
        _chunk("c2", 1, "world", [0.0, 1.0, 0.0, 0.0]),
    ])
    assert res["status"] == 200 and res["data"]["upserted"] == 2

    out = facade.search("L1", {"query_embedding": [1.0, 0.0, 0.0, 0.0], "k": 1})
    assert out["status"] == 200
    assert out["data"]["hits"][0]["chunk_id"] == "c1"
    assert out["data"]["hits"][0]["text"] == "hello"


def test_facade_status_codes(facade):
    assert facade.search("nope", {"query_embedding": [1.0, 0, 0, 0]})["status"] == 404
    assert facade.search("L1", {"query_embedding": [1.0]})["status"] == 422
    bad = facade.bulk_upsert_chunks("L1", [{**_chunk("c9", 0, "x", None), "surprise": 1}])
    assert bad["status"] == 422 and "surprise" in bad["error"]
    empty = facade.bulk_upsert_chunks("L1", [_chunk("c9", 0, "", None)])
    assert empty["status"] == 422  # text min_length=1 parity


def test_facade_point_gets(facade):
    assert facade.get_library("L1")["data"]["name"] == "lib"
    assert facade.get_document("D1")["status"] == 200
    assert facade.get_chunk("c1")["data"]["text"] == "hello"
    assert facade.get_chunk("ghost")["status"] == 404


def test_index_config_param_echo(facade):
    """routers/libraries.py:24-31 parity: get_library round-trips every
    index-config parameter in the nested IndexConfigOut shape — lsh/ivf
    sub-objects present only for their type, max_kmeans_iters echoed (and,
    unlike the reference, actually honored at rebuild)."""
    # default (flat): both sub-configs null
    flat_cfg = facade.get_library("L1")["data"]["index_config"]
    assert flat_cfg == {"type": "flat", "lsh": None, "ivf": None}

    facade.create_library({
        "id": "Llsh", "name": "l", "embedding_dim": 4,
        "index_config": {"type": "lsh", "num_tables": 5,
                         "hyperplanes_per_table": 9},
    })
    lsh_cfg = facade.get_library("Llsh")["data"]["index_config"]
    assert lsh_cfg["type"] == "lsh" and lsh_cfg["ivf"] is None
    assert lsh_cfg["lsh"] == {"num_tables": 5, "hyperplanes_per_table": 9}

    facade.create_library({
        "id": "Livf", "name": "i", "embedding_dim": 4,
        "index_config": {"type": "ivf", "num_centroids": 7, "nprobe": 3,
                         "max_kmeans_iters": 11},
    })
    ivf_cfg = facade.get_library("Livf")["data"]["index_config"]
    assert ivf_cfg["type"] == "ivf" and ivf_cfg["lsh"] is None
    assert ivf_cfg["ivf"] == {"num_centroids": 7, "nprobe": 3,
                              "max_kmeans_iters": 11}

    # defaults fill unspecified ivf params (registry defaults + the
    # executed kmeans iteration count, not the reference's vestigial 2)
    facade.create_library({
        "id": "Livfd", "name": "d", "embedding_dim": 4,
        "index_config": {"type": "ivf"},
    })
    dflt = facade.get_library("Livfd")["data"]["index_config"]["ivf"]
    assert dflt == {"num_centroids": 64, "nprobe": 4, "max_kmeans_iters": 20}


def test_facade_list_documents(facade):
    out = facade.list_documents("L1", limit=10)
    assert out["status"] == 200
    assert [d["id"] for d in out["data"]["items"]] == ["D1"]
    assert out["data"]["has_more"] is False


def test_bootstrap_builds_missing_indexes(spark, tmp_path, clustered_df):
    lc = IndexLifecycle(spark, str(tmp_path / "idx"))
    libs = [
        ("libX", IndexConfig("lsh", {"hyperplanes_per_table": 4}), 32),
        ("libY", IndexConfig("flat"), 32),
    ]
    built = lc.bootstrap(libs, lambda _lib: clustered_df)
    assert built == ["libX", "libY"]
    assert lc.current("libX")["type"] == "lsh"
    # second bootstrap is a no-op: nothing missing
    assert lc.bootstrap(libs, lambda _lib: clustered_df) == []
    # and the bootstrapped index actually serves searches
    q = [float(x) for x in clustered_df.limit(1).collect()[0]["embedding"]]
    hits = lc.search("libX", clustered_df, q, 3)
    assert hits.count() == 3


def test_facade_health_probe(facade):
    """routers/health.py parity: 200 + timestamp + details, computed from
    snapshot pointers only (no Spark job — probe-safe)."""
    out = facade.health()
    assert out["status"] == 200
    data = out["data"]
    assert data["status"] == "ok"
    assert "T" in data["timestamp"]  # iso-8601
    versions = data["details"]["table_versions"]
    assert set(versions) == {"libraries", "documents", "chunks"}
    assert versions["chunks"] >= 1  # the fixture ingested chunks


def test_http_app_over_facade(facade):
    """The optional HTTP wrapper: full route table when FastAPI is present,
    a clean actionable error when it isn't (this container has no
    fastapi)."""
    from vector_db_api_spark.api.http import create_app

    try:
        import fastapi  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(ImportError, match="optional 'fastapi'"):
            create_app(facade)
        return

    from fastapi.testclient import TestClient

    client = TestClient(create_app(facade))
    health = client.get("/health")
    assert health.status_code == 200
    assert health.json()["data"]["status"] == "ok"
    assert client.get("/libraries/L1").status_code == 200
    assert client.get("/libraries/ghost").status_code == 404
    hits = client.post(
        "/libraries/L1/search",
        json={"query_embedding": [1.0, 0.0, 0.0, 0.0], "k": 1},
    )
    assert hits.status_code == 200


def test_ingest_document_text_end_to_end(spark, tmp_path_factory):
    """Raw text -> chunk -> embed -> upsert -> search finds the chunk."""
    from vector_db_api_spark.operators.embed import fake_md5_embedder

    eng = Engine(spark, str(tmp_path_factory.mktemp("ingest_text")))
    f = Facade(eng)
    assert f.create_library(
        {"id": "L2", "name": "lib2", "embedding_dim": 16}
    )["status"] == 201

    text = " ".join(f"tok{i}" for i in range(40))
    res = f.ingest_document(
        "L2", {"text": text, "document_id": "DT", "chunk_tokens": 16, "stride": 12}
    )
    assert res["status"] == 201
    assert res["data"] == {"document_id": "DT", "chunks": 3}

    # query with the embedding of chunk DT:1's exact text -> top hit
    chunk1_text = " ".join(f"tok{i}" for i in range(12, 28))
    qv = fake_md5_embedder(16)([chunk1_text])[0].tolist()
    out = eng.search("L2", qv, k=1)
    hit = out[0]
    assert hit["id"] == "DT:1"

    # validation: empty text 422, unknown field 422, missing library 404
    assert f.ingest_document("L2", {"text": "   "})["status"] == 422
    assert f.ingest_document("L2", {"text": "x", "nope": 1})["status"] == 422
    assert f.ingest_document("NOPE", {"text": "x"})["status"] == 404


def test_facade_full_route_surface(spark, tmp_path_factory):
    """The facade methods behind every reference route: with-chunks create,
    move, metadata CAS, index-config swap, scoped + cascading deletes."""
    eng = Engine(spark, str(tmp_path_factory.mktemp("routes")))
    f = Facade(eng)
    assert f.create_library({"id": "A", "name": "a", "embedding_dim": 4})["status"] == 201
    assert f.create_library({"id": "B", "name": "b", "embedding_dim": 4})["status"] == 201

    made = f.create_document_with_chunks("A", {"id": "D", "chunks": [
        {"id": "c1", "library_id": "A", "document_id": "ignored",
         "position": 0, "text": "hello", "embedding": [1.0, 0.0, 0.0, 0.0]},
    ]})
    assert made["status"] == 201 and made["data"] == {"id": "D", "chunks": 1}

    # metadata CAS: ok then version conflict
    ok = f.update_document_metadata("D", {"title": "t", "expected_version": 1})
    assert ok["status"] == 200
    conflict = f.update_document_metadata("D", {"title": "x", "expected_version": 1})
    assert conflict["status"] == 409

    # index-config swap validates type
    assert f.update_index_config("A", {"type": "nope"})["status"] == 422
    assert f.update_index_config("A", {"type": "lsh"})["status"] == 200

    # move to B, then scoped delete: wrong library no-ops (404-safe),
    # right library cascades
    assert f.move_document("A", "D", {})["status"] == 422
    assert f.move_document("A", "D", {"to_library_id": "B"})["status"] == 200
    assert f.delete_document("B", "D")["status"] == 204
    assert f.get_document("D")["status"] == 404

    assert f.delete_library("B")["status"] == 204
    assert f.get_library("B")["status"] == 404


def test_reference_dto_parity_move_and_with_chunks(spark, tmp_path_factory):
    """ADVICE round-3 items: move uses the reference's dst_library_id
    (MoveDocumentIn), with-chunks accepts metadata + enforces min_items=1
    and never leaves an orphan document behind a failed upsert."""
    eng = Engine(spark, str(tmp_path_factory.mktemp("dto_parity")))
    f = Facade(eng)
    assert f.create_library({"id": "A", "name": "a", "embedding_dim": 4})["status"] == 201
    assert f.create_library({"id": "B", "name": "b", "embedding_dim": 4})["status"] == 201

    # with-chunks: metadata accepted (reference DocumentCreateWithChunks
    # inherits it), stored on the document row
    made = f.create_document_with_chunks("A", {
        "id": "D1",
        "metadata": {"title": "hello doc", "tags": ["x", "y"]},
        "chunks": [{"id": "c1", "library_id": "A", "document_id": "ignored",
                    "position": 0, "text": "hi",
                    "embedding": [1.0, 0.0, 0.0, 0.0]}],
    })
    assert made["status"] == 201
    doc = f.get_document("D1")
    assert doc["status"] == 200
    assert doc["data"]["metadata"]["title"] == "hello doc"
    assert doc["data"]["metadata"]["tags"] == ["x", "y"]

    # min_items=1: zero chunks is a 422, and no document is created
    empty = f.create_document_with_chunks("A", {"id": "D2", "chunks": []})
    assert empty["status"] == 422
    assert f.get_document("D2")["status"] == 404

    # engine-level upsert failure (dim mismatch) must delete the new doc
    bad = f.create_document_with_chunks("A", {"id": "D3", "chunks": [
        {"id": "c9", "library_id": "A", "document_id": "ignored",
         "position": 0, "text": "bad dim", "embedding": [1.0, 0.0]},
    ]})
    assert bad["status"] == 422
    assert f.get_document("D3")["status"] == 404  # no orphan

    # move: reference field name works; alias still accepted; neither -> 422
    assert f.move_document("A", "D1", {})["status"] == 422
    assert f.move_document("A", "D1", {"dst_library_id": "B"})["status"] == 200
    assert f.move_document("B", "D1", {"to_library_id": "A"})["status"] == 200

    # unknown metadata fields rejected (extra='forbid' parity)
    assert f.create_document("A", {"id": "D4", "metadata": {"nope": 1}})["status"] == 422


def test_duplicate_id_and_tags_validation(spark, tmp_path_factory):
    """Review round-4 items: a duplicate caller-supplied document id is a
    409 (NOT a silent second row), so a failed with-chunks request can
    never cascade-delete a PRE-EXISTING document on rollback; tags must be
    a real list (scalar/str -> 422, not a raw TypeError) and an empty list
    stores [] rather than NULL."""
    eng = Engine(spark, str(tmp_path_factory.mktemp("dup_tags")))
    f = Facade(eng)
    assert f.create_library({"id": "A", "name": "a", "embedding_dim": 4})["status"] == 201
    ok = f.create_document_with_chunks("A", {"id": "D1", "chunks": [
        {"id": "c1", "library_id": "A", "document_id": "ignored",
         "position": 0, "text": "hi", "embedding": [1.0, 0.0, 0.0, 0.0]},
    ]})
    assert ok["status"] == 201

    # duplicate id via plain create and via with-chunks -> 409 both ways
    assert f.create_document("A", {"id": "D1"})["status"] == 409
    dup = f.create_document_with_chunks("A", {"id": "D1", "chunks": [
        {"id": "c2", "library_id": "A", "document_id": "ignored",
         "position": 0, "text": "bad dim", "embedding": [1.0, 0.0]},
    ]})
    assert dup["status"] == 409
    # and the ORIGINAL document + its chunk survived the failed request
    assert f.get_document("D1")["status"] == 200
    assert f.get_chunk("c1")["status"] == 200

    # tags DTO parity
    assert f.create_document("A", {"id": "T1", "metadata": {"tags": 5}})["status"] == 422
    assert f.create_document("A", {"id": "T2", "metadata": {"tags": "xy"}})["status"] == 422
    ok2 = f.create_document("A", {"id": "T3", "metadata": {"tags": []}})
    assert ok2["status"] == 201
    got = f.get_document("T3")
    assert got["data"]["metadata"]["tags"] == []


def test_rest_parity_routes_round6(spark, tmp_path_factory):
    """VERDICT r5 #2 — the four previously-missing reference routes, with
    the reference routers' status-code matrix:
    - POST .../documents/{doc}/chunks (single upsert, routers/chunks.py:62-77)
    - DELETE .../chunks/{chunk_id} (routers/chunks.py:95-107, 204 always)
    - GET /libraries page + has_more (routers/libraries.py:62-82)
    - POST /libraries/{id}/rebuild-index (routers/libraries.py:110-123)
    """
    eng = Engine(spark, str(tmp_path_factory.mktemp("routes6")))
    f = Facade(eng)
    for i in range(3):
        assert f.create_library(
            {"id": f"R{i}", "name": f"lib{i}", "embedding_dim": 4}
        )["status"] == 201
    assert f.create_document("R0", {"id": "D"})["status"] == 201

    # -- single-chunk upsert ------------------------------------------------
    up = f.upsert_chunk("R0", "D", {
        "position": 0, "text": "solo", "embedding": [1.0, 0.0, 0.0, 0.0],
    })
    assert up["status"] == 200
    cid = up["data"]["id"]
    assert len(cid) == 36  # generated uuid when id omitted
    assert up["data"]["text"] == "solo"
    # update in place: explicit id, version bumps
    up2 = f.upsert_chunk("R0", "D", {
        "id": cid, "position": 0, "text": "solo2",
        "embedding": [0.0, 1.0, 0.0, 0.0],
    })
    assert up2["status"] == 200 and up2["data"]["version"] == 2
    # reference raises ValidationError (422) for doc-not-in-library
    assert f.upsert_chunk("R1", "D", {"text": "x", "position": 0})["status"] == 422
    assert f.upsert_chunk("R0", "ghost", {"text": "x", "position": 0})["status"] == 422
    # missing library → 404 before the doc check
    assert f.upsert_chunk("ghost", "D", {"text": "x", "position": 0})["status"] == 404
    # dim mismatch → 422
    assert f.upsert_chunk("R0", "D", {
        "text": "bad", "position": 1, "embedding": [1.0],
    })["status"] == 422
    # unknown DTO field → 422 (extra='forbid' parity)
    assert f.upsert_chunk("R0", "D", {"text": "x", "position": 0, "nope": 1})["status"] == 422

    # -- DELETE chunk -------------------------------------------------------
    assert f.delete_chunk("R0", "D", cid)["status"] == 204
    assert f.get_chunk(cid)["status"] == 404
    # silent no-op on missing chunk / wrong library → still 204
    assert f.delete_chunk("R0", "D", "ghost-chunk")["status"] == 204
    assert f.delete_chunk("R1", "D", cid)["status"] == 204

    # -- GET /libraries page ------------------------------------------------
    page = f.list_libraries(limit=2)
    assert page["status"] == 200
    assert [it["id"] for it in page["data"]["items"]] == ["R0", "R1"]
    assert page["data"]["page"] == {"limit": 2, "offset": 0, "has_more": True}
    page2 = f.list_libraries(offset=2, limit=2)
    assert [it["id"] for it in page2["data"]["items"]] == ["R2"]
    assert page2["data"]["page"]["has_more"] is False
    assert f.list_libraries(limit=0)["status"] == 422  # Query(gt=0) parity
    assert f.list_libraries(limit=1001)["status"] == 422
    assert f.list_libraries(offset=-1)["status"] == 422

    # -- POST rebuild-index (no config change) ------------------------------
    assert f.upsert_chunk("R0", "D", {
        "id": "k1", "position": 1, "text": "keep",
        "embedding": [1.0, 0.0, 0.0, 0.0],
    })["status"] == 200
    rb = f.rebuild_index("R0")
    assert rb["status"] == 200
    assert rb["data"]["library_id"] == "R0"
    assert rb["data"]["index_type"] == "flat"  # stored config re-applied
    assert "rebuild_at" in rb["data"]
    assert f.rebuild_index("ghost")["status"] == 404
    # rebuild under a non-default stored config keeps that config's type
    assert f.update_index_config(
        "R0", {"type": "lsh", "params": {"hyperplanes_per_table": 4}}
    )["status"] == 200
    rb2 = f.rebuild_index("R0")
    assert rb2["data"]["index_type"] == "lsh"
    # the rebuilt index still serves
    hits = f.search("R0", {"query_embedding": [1.0, 0.0, 0.0, 0.0], "k": 1})
    assert hits["status"] == 200 and hits["data"]["hits"][0]["chunk_id"] == "k1"


def test_selfcontained_layout_lifecycle(spark, tmp_path_factory):
    """r9 verdict #3: the in-place layouts (IVF-Flat postings /
    self-contained LSH buckets) published through the lifecycle as an
    opt-in SNAPSHOT layout, with the operators' documented mutability
    contract enforced in code: the first mutation against a
    selfcontained-serving version atomically re-flips the pointer with
    serving downgraded to live hydration (fresh embeddings win, deletes
    drop), and the next rebuild restores in-place serving."""
    import pytest

    from vector_db_api_spark.api.errors import ValidationError

    eng = Engine(spark, str(tmp_path_factory.mktemp("selfcontained")))
    eng.create_library("S", 4, library_id="S")
    eng.create_document("S", document_id="d0")
    rows = [
        ("s0", "S", "d0", 0, "t0", [1.0, 0.0, 0.0, 0.0], None),
        ("s1", "S", "d0", 1, "t1", [0.75, 0.25, 0.0, 0.0], None),
        ("s2", "S", "d0", 2, "t2", [0.5, 0.5, 0.0, 0.0], None),
        ("s3", "S", "d0", 3, "t3", [0.0, 1.0, 0.0, 0.0], None),
    ]
    schema = (
        "id string, library_id string, document_id string, position int, "
        "text string, embedding array<float>, "
        "metadata struct<source_uri:string,author:string,lang:string,"
        "mime_type:string,tags:array<string>,page_number:int,"
        "token_count:int,sha256:string>"
    )
    eng.upsert_chunks("S", spark.createDataFrame(rows, schema))
    q = [1.0, 0.0, 0.0, 0.0]

    for cfg in (
        IndexConfig("ivf", {"num_centroids": 2, "nprobe": 2,
                            "layout": "selfcontained"}),
        IndexConfig("lsh", {"num_tables": 4, "hyperplanes_per_table": 2,
                            "layout": "selfcontained"}),
    ):
        eng.update_index_config("S", cfg)
        desc = eng.indexes.current("S")
        assert desc["layout"] == desc["layout_serving"] == "selfcontained"
        # the physical tables really carry the vectors (in-place re-rank)
        vdir = f"{eng.indexes._lib_dir('S')}/v={desc['version']}"
        table = "lsh_buckets" if cfg.type == "lsh" else "ivf_assignments"
        assert "embedding" in spark.read.parquet(f"{vdir}/{table}").columns
        hits = eng.search("S", q, k=2)
        assert [h["id"] for h in hits] == ["s0", "s1"], cfg.type
        assert hits[0]["score"] == 1.0

        # mutation #1 (update s0 to an orthogonal vector): serving must
        # re-flip to live hydration BEFORE the delta lands, and the fresh
        # embedding must win — a stale in-place re-rank would still put
        # s0 first at score 1.0
        eng.upsert_chunk("S", "d0", {
            "id": "s0", "position": 0, "text": "t0",
            "embedding": [0.0, 0.0, 1.0, 0.0],
        })
        desc = eng.indexes.current("S")
        assert desc["layout"] == "selfcontained"          # tables unchanged
        assert desc["layout_serving"] == "idonly"         # serving flipped
        hits = [h["id"] for h in eng.search("S", q, k=2)]
        assert hits == ["s1", "s2"], (cfg.type, hits)

        # mutation #2 (delete): stays downgraded, deleted id never surfaces
        eng.delete_chunk("S", "s2")
        hits = [h["id"] for h in eng.search("S", q, k=3)]
        assert "s2" not in hits and hits[0] == "s1", (cfg.type, hits)

        # restore the snapshot layout for the next loop iteration's config
        # swap — and put s0/s2 back so both iterations see the same corpus
        eng.upsert_chunks("S", spark.createDataFrame(
            [rows[0], rows[2]], schema))

    # a rebuild under the same selfcontained config restores in-place
    # serving at a new version
    eng.update_index_config("S", IndexConfig(
        "ivf", {"num_centroids": 2, "nprobe": 2, "layout": "selfcontained"}))
    desc = eng.indexes.current("S")
    assert desc["layout_serving"] == "selfcontained"
    assert [h["id"] for h in eng.search("S", q, k=2)] == ["s0", "s1"]
    # parameterless rebuild-index re-applies the stored config INCLUDING
    # the persisted layout (r10 advice #5: without persistence, the
    # maintenance() compaction rebuild silently reverted a selfcontained
    # library to idonly serving forever)
    eng.rebuild_index("S")
    desc = eng.indexes.current("S")
    assert desc["layout"] == desc["layout_serving"] == "selfcontained"

    # r10 advice (high): an upsert that replaces an embedded chunk with
    # embedding=NULL contributes no index-delta rows, yet still supersedes
    # a vector the selfcontained tables carry — only live hydration can
    # observe "no embedding", so serving must downgrade anyway
    eng.upsert_chunk("S", "d0", {"id": "s1", "position": 1, "text": "t1",
                                 "embedding": None})
    desc = eng.indexes.current("S")
    assert desc["layout"] == "selfcontained"
    assert desc["layout_serving"] == "idonly", (
        "null-embedding upsert must downgrade in-place serving")
    hits = [h["id"] for h in eng.search("S", q, k=4)]
    assert "s1" not in hits, hits  # superseded vector must NOT surface

    # restore s1, rebuild back to in-place serving
    eng.upsert_chunks("S", spark.createDataFrame([rows[1]], schema))
    eng.rebuild_index("S")
    assert eng.indexes.current("S")["layout_serving"] == "selfcontained"

    # r10 advice (low): a NO-OP delete is not a mutation — deleting a
    # chunkless document (empty ids frame) or an empty id list must keep
    # in-place serving
    eng.create_document("S", document_id="d_empty")
    eng.delete_document("S", "d_empty")
    assert eng.indexes.current("S")["layout_serving"] == "selfcontained"
    assert eng.indexes.remove("S", []) == 0
    assert eng.indexes.current("S")["layout_serving"] == "selfcontained"

    # flat has no materialized tables — selfcontained is rejected
    with pytest.raises(ValidationError, match="selfcontained"):
        eng.indexes.rebuild(
            "S", eng._library_chunks("S"),
            IndexConfig("flat", {"layout": "selfcontained"}), 4)


def test_self_join_routing_decision_is_cached_through_the_catalog(
    spark, tmp_path, clustered_df, monkeypatch
):
    """r12 verdict #4: `self_join_auto` re-measured the serving bar on
    every call (two O(n) passes) although the lifecycle already versions
    everything the decision depends on. The catalog now persists the
    decision under the live version keyed by the corpus fingerprint:

    - second call with unchanged corpus dispatches the recorded plan with
      the probe SKIPPED (route_self_join poisoned to prove it), and its
      physical plan equals the directly-dispatched probe plan;
    - an upsert through apply_delta moves the live chunks fingerprint, so
      the next call re-measures;
    - a rebuild bumps the version directory, so even an identical corpus
      re-measures into the fresh namespace."""
    from vector_db_api_spark.operators.ivf import IVFIndex

    lc = IndexLifecycle(spark, str(tmp_path / "idx"))
    chunks = clustered_df.withColumnRenamed("vec_id", "id").cache()
    chunks.count()
    lc.rebuild("libJ", chunks, IndexConfig("ivf", {"num_centroids": 16}),
               dim=32)

    dec1: dict = {}
    first = lc.self_join_auto("libJ", chunks, 3, decision_out=dec1,
                              sample_queries=32)
    assert dec1["routing_source"] == "measured"
    rows1 = sorted((r["query_id"], r["id"]) for r in first.collect())

    def _poisoned(self, *a, **kw):  # pragma: no cover - must not run
        raise AssertionError("probe re-measured on a cache hit")

    monkeypatch.setattr(IVFIndex, "route_self_join", _poisoned)
    dec2: dict = {}
    second = lc.self_join_auto("libJ", chunks, 3, decision_out=dec2,
                               sample_queries=32)
    assert dec2["routing_source"] == "cached"
    assert dec2["plan"] == dec1["plan"]
    assert dec2["nprobe_sym"] == dec1["nprobe_sym"]
    assert sorted((r["query_id"], r["id"]) for r in second.collect()) == rows1
    # plan-pin: the cached dispatch executes the SAME physical plan shape
    # as the measured first call (the probe cost is gone, the served plan
    # is unchanged). Compare executed-plan operator sequences — exprIds,
    # codegen-stage numbers and AQE stage artifacts are allocation-order
    # noise, and exchange-reuse between separately-built equivalent trees
    # is nondeterministic, so the first call (same builder path) is the
    # right reference, not a hand-rebuilt twin.
    import re as _re

    def _shape(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        out = []
        for line in s.splitlines():
            m = _re.match(r"^([ +:-]*)(?:\*\(\d+\) )?([A-Za-z]+)", line)
            if m:
                out.append((len(m.group(1)), m.group(2)))
        return out

    assert _shape(second) == _shape(first)
    monkeypatch.undo()

    # invalidation by mutation: an upserted chunk moves the fingerprint
    delta = spark.createDataFrame(
        [(999_999, [float(i) for i in range(32)])],
        "id bigint, embedding array<double>",
    )
    lc.apply_delta("libJ", delta)
    mutated = chunks.unionByName(delta, allowMissingColumns=True)
    dec3: dict = {}
    lc.self_join_auto("libJ", mutated, 3, decision_out=dec3,
                      sample_queries=32)
    assert dec3["routing_source"] == "measured"

    # invalidation by rebuild: fresh version namespace, same corpus
    lc.rebuild("libJ", chunks, IndexConfig("ivf", {"num_centroids": 16}),
               dim=32)
    dec4: dict = {}
    lc.self_join_auto("libJ", chunks, 3, decision_out=dec4,
                      sample_queries=32)
    assert dec4["routing_source"] == "measured"
    chunks.unpersist()


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """A facade over library T (dim 2) holding one empty document D."""
    f = Facade(Engine(spark, str(tmp_path_factory.mktemp("typed"))))
    assert f.create_library({"id": "T", "name": "t", "embedding_dim": 2})["status"] == 201
    assert f.create_document("T", {"id": "D"})["status"] == 201
    return f


@pytest.mark.parametrize("bad", [
    {"position": "x"},
    {"position": 1.5},
    {"position": True},
    {"position": 2**31},
    {"id": 7},
    {"text": 5},
    {"metadata": {"page_number": "two"}},
    {"metadata": {"tags": "x"}},
    {"metadata": {"tags": [1]}},
    {"metadata": {"author": 3}},
    {"metadata": {"nope": "x"}},
    {"metadata": ["not", "an", "object"]},
])
def test_mistyped_chunk_field_is_a_422(typed, bad):
    """A chunk field of the wrong type is the reference's Pydantic 422 on
    every chunk route — never a 500 from Spark's row conversion, never a
    silent coercion (``position: 1.5`` stored as 1) — and the with-chunks
    route leaves no document behind."""
    f = typed
    chunk = {"id": "c0", "position": 0, "text": "t", "embedding": [1.0, 0.0],
             "metadata": {"author": "a", "tags": ["x"], "page_number": 1}}
    chunk.update(bad)

    one = f.upsert_chunk("T", "D", dict(chunk))
    assert one["status"] == 422, one
    bulk = f.bulk_upsert_chunks("T", [dict(chunk, document_id="D")])
    assert bulk["status"] == 422, bulk
    made = f.create_document_with_chunks("T", {"id": "D2", "chunks": [dict(chunk)]})
    assert made["status"] == 422, made
    assert f.get_document("D2")["status"] == 404  # no document left behind
    assert f.get_chunk(str(chunk["id"]))["status"] == 404


def test_well_typed_chunk_metadata_round_trips(typed):
    f = typed
    meta = {"author": "ann", "tags": ["x", "ü"], "page_number": 3,
            "token_count": None}
    up = f.upsert_chunk("T", "D", {"id": "c0", "position": 2, "text": "t",
                                   "embedding": [1, 0], "metadata": meta})
    assert up["status"] == 200, up
    got = up["data"]
    assert got["position"] == 2
    assert got["metadata"]["tags"] == ["x", "ü"]
    assert got["metadata"]["page_number"] == 3
    assert got["metadata"]["source_uri"] is None


def test_bulk_upsert_writes_one_file(typed):
    """A request's chunks are one local relation of one partition: written
    into an empty library they make one file, not one per core the
    relation's rows would be spread over."""
    f = typed
    assert f.create_library({"id": "B", "name": "b", "embedding_dim": 2})["status"] == 201
    assert f.create_document("B", {"id": "DB"})["status"] == 201
    chunks = [{"id": f"b{i}", "document_id": "DB", "position": i, "text": "t",
               "embedding": [1.0, float(i)]} for i in range(16)]
    assert f.bulk_upsert_chunks("B", chunks)["status"] == 200
    files = f.engine.store.read("chunks", partitions=["B"]).inputFiles()
    assert len(files) == 1, files


@pytest.fixture(scope="module")
def finite(spark, tmp_path_factory):
    """A facade over a 4-d flat library F and a 4-d IVF library I, each
    holding one document of four finite chunks."""
    f = Facade(Engine(spark, str(tmp_path_factory.mktemp("finite"))))
    for lib, cfg in (("F", {"type": "flat"}),
                     ("I", {"type": "ivf", "num_centroids": 2, "nprobe": 2})):
        assert f.create_library({"id": lib, "name": lib, "embedding_dim": 4,
                                 "index_config": cfg})["status"] == 201
        made = f.create_document_with_chunks(lib, {"id": f"{lib}d", "chunks": [
            {"id": f"{lib}c{i}", "position": i, "text": "t",
             "embedding": [1.0, float(i), 0.0, 0.0]} for i in range(4)]})
        assert made["status"] == 201, made
    return f


@pytest.mark.parametrize("lib", ["F", "I"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_query_is_a_422(finite, lib, bad):
    """A NaN or infinite query would score every hit NaN, which is not
    valid JSON; it is rejected like a wrong dimension."""
    out = finite.search(lib, {"query_embedding": [bad, 1.0, 0.0, 0.0], "k": 3})
    assert out["status"] == 422, out


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_chunk_embedding_is_a_422(finite, bad):
    """A non-finite embedding is a 422 on every chunk route, and the
    with-chunks route leaves no document behind. Stored, a NaN vector
    would rank first in every flat search of its library."""
    import json

    f = finite
    chunk = {"id": "cx", "position": 9, "text": "t",
             "embedding": [bad, 1.0, 0.0, 0.0]}
    one = f.upsert_chunk("F", "Fd", dict(chunk))
    assert one["status"] == 422, one
    bulk = f.bulk_upsert_chunks("F", [dict(chunk, document_id="Fd")])
    assert bulk["status"] == 422, bulk
    made = f.create_document_with_chunks("F", {"id": "Fd2", "chunks": [dict(chunk)]})
    assert made["status"] == 422, made
    assert f.get_document("Fd2")["status"] == 404
    assert f.get_chunk("cx")["status"] == 404
    hits = f.search("F", {"query_embedding": [1.0, 0.0, 0.0, 0.0], "k": 10})
    assert hits["status"] == 200
    json.dumps(hits, allow_nan=False)
    assert [h["chunk_id"] for h in hits["data"]["hits"]][0] == "Fc0"
