"""EntityStore persistence (versioned snapshots, atomic flip, crash safety)
and the composed Engine services (validation, error taxonomy, index swap)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from vector_db_api_spark.api.errors import ConflictError, NotFoundError, ValidationError
from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.sources.store import EntityStore

CHUNK_SCHEMA = (
    "id string, library_id string, document_id string, position int, "
    "text string, embedding array<float>, "
    "metadata struct<source_uri:string,author:string,lang:string,"
    "mime_type:string,tags:array<string>,page_number:int,token_count:int,"
    "sha256:string>"
)


def _chunk_rows(spark, rows):
    return spark.createDataFrame(
        [(i, lib, doc, pos, text, emb, None) for i, lib, doc, pos, text, emb in rows],
        CHUNK_SCHEMA,
    )


# -- store ------------------------------------------------------------------

def test_store_versioned_write_read(spark, tmp_path):
    store = EntityStore(spark, str(tmp_path))
    assert store.read("libraries").count() == 0  # empty before first write
    df = spark.createDataFrame(
        [("L1", "lib", 4, None, None, None, None, 1)],
        "id string, name string, embedding_dim int, index_config struct<type:string,lsh_num_tables:int,lsh_hyperplanes_per_table:int,ivf_num_centroids:int,ivf_nprobe:int>, metadata struct<source_uri:string,author:string,lang:string,mime_type:string,tags:array<string>,description:string>, created_at timestamp, updated_at timestamp, version int",
    )
    assert store.write("libraries", df) == 1
    assert store.read("libraries").count() == 1
    assert store.write("libraries", df.union(df)) == 2
    assert store.read("libraries").count() == 2
    assert store.current_version("libraries") == 2


def test_store_crash_leaves_pointer_intact(spark, tmp_path):
    store = EntityStore(spark, str(tmp_path))
    df = spark.createDataFrame([("L1",)], "id string")
    # minimal table contract: use the libraries DDL path via a real write
    full = store.read("libraries")
    store.write("libraries", full)  # v1 (empty)
    # simulate a crashed writer: dangling v=99 dir, pointer untouched
    os.makedirs(tmp_path / "libraries" / "v=99")
    assert store.current_version("libraries") == 1
    assert store.read("libraries").count() == 0  # still reads v1 cleanly


def test_store_vacuum_keeps_live(spark, tmp_path):
    store = EntityStore(spark, str(tmp_path))
    empty = store.read("documents")
    for _ in range(4):
        store.write("documents", empty)
    removed = store.vacuum("documents", keep=1)
    assert removed == [1, 2, 3]
    assert store.current_version("documents") == 4
    assert store.read("documents").count() == 0


# -- engine services --------------------------------------------------------

@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("engine")))
    eng.create_library("libA", 4, library_id="libA")
    eng.create_document("libA", document_id="docA")
    eng.upsert_chunks(
        "libA",
        _chunk_rows(
            eng.spark,
            [
                ("c1", "libA", "docA", 0, "alpha", [1.0, 0.0, 0.0, 0.0]),
                ("c2", "libA", "docA", 1, "beta", [0.0, 1.0, 0.0, 0.0]),
                ("c3", "libA", "docA", 2, "unembedded", None),
            ],
        ),
    )
    return eng


def test_search_flat_hydrated(engine):
    hits = engine.search("libA", [1.0, 0.0, 0.0, 0.0], k=2)
    assert [r["id"] for r in hits] == ["c1", "c2"]
    assert hits[0]["text"] == "alpha"  # full-row hydration
    assert hits[0]["score"] == pytest.approx(1.0)


def test_search_error_taxonomy(engine):
    with pytest.raises(NotFoundError):
        engine.search("missing", [1.0, 0.0, 0.0, 0.0])
    with pytest.raises(ValidationError, match="dim"):
        engine.search("libA", [1.0, 0.0])
    with pytest.raises(ValidationError, match="k must"):
        engine.search("libA", [1.0, 0.0, 0.0, 0.0], k=0)
    with pytest.raises(ValidationError, match="metric"):
        engine.search("libA", [1.0, 0.0, 0.0, 0.0], metric="hamming")


def test_upsert_validation(engine):
    with pytest.raises(ValidationError, match="dim"):
        engine.upsert_chunks(
            "libA", _chunk_rows(engine.spark, [("cz", "libA", "docA", 0, "x", [1.0])])
        )
    with pytest.raises(NotFoundError, match="documents"):
        engine.upsert_chunks(
            "libA",
            _chunk_rows(engine.spark, [("cz", "libA", "ghost-doc", 0, "x", [1.0, 0.0, 0.0, 0.0])]),
        )


def test_cas_conflict_raises_and_preserves(engine):
    upd = engine.spark.createDataFrame(
        [("c1", "newtext", 99)], "id string, text string, expected_version int"
    )
    with pytest.raises(ConflictError):
        engine.update_chunks_cas(upd)
    row = engine.store.read("chunks").filter(F.col("id") == "c1").collect()[0]
    assert row["text"] == "alpha"  # conflict left the stored row untouched


def test_index_swap_lsh_then_ivf(engine):
    d1 = engine.update_index_config("libA", IndexConfig("lsh", {"hyperplanes_per_table": 4}))
    assert (d1["type"], d1["version"]) == ("lsh", 1)
    assert [r["id"] for r in engine.search("libA", [1.0, 0, 0, 0], k=1)] == ["c1"]
    d2 = engine.update_index_config("libA", IndexConfig("ivf", {"num_centroids": 2}))
    assert (d2["type"], d2["version"]) == ("ivf", 2)
    assert [r["id"] for r in engine.search("libA", [0.0, 1.0, 0, 0], k=1)] == ["c2"]


def test_unknown_index_type_rejected():
    with pytest.raises(ValidationError, match="unknown index type"):
        IndexConfig("btree")


def test_list_documents_and_chunks(engine):
    page, more = engine.list_documents("libA", limit=10)
    assert [r["id"] for r in page.collect()] == ["docA"]
    assert more is False
    chunks = engine.list_chunks("docA").collect()
    assert [r["id"] for r in chunks] == ["c1", "c2", "c3"]  # position order


def test_update_document_metadata_cas(engine):
    engine.update_document_metadata(
        "docA", {"title": "T1", "tags": ["x", "y"]}, expected_version=1
    )
    row = engine.store.read("documents").filter(F.col("id") == "docA").collect()[0]
    assert row["metadata"]["title"] == "T1"
    assert row["metadata"]["tags"] == ["x", "y"]
    assert row["version"] == 2
    with pytest.raises(ConflictError):
        engine.update_document_metadata("docA", {"title": "T2"}, expected_version=1)
    with pytest.raises(NotFoundError):
        engine.update_document_metadata("ghost", {"title": "T"}, expected_version=1)
    with pytest.raises(ValidationError, match="unknown metadata"):
        engine.update_document_metadata("docA", {"nope": 1}, expected_version=2)
    # tag filter in listing sees the new metadata
    page, _ = engine.list_documents("libA", has_tag="x")
    assert [r["id"] for r in page.collect()] == ["docA"]


def test_update_document_metadata_reads_only_the_candidate_partition(
    spark, tmp_path, monkeypatch
):
    """The CAS lookup of one document id lists and reads only the
    partitions its bloom sidecar may hold it in — never the whole
    ``documents`` table — and the 404/409 answers are unchanged."""
    eng = Engine(spark, str(tmp_path))
    for lib, doc in (("libP", "docP"), ("libQ", "docQ")):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=doc)
    reads = []
    real_read = eng.store.read

    def spy(table, partitions=None, version=None):
        reads.append((table, None if partitions is None else sorted(partitions)))
        return real_read(table, partitions=partitions, version=version)

    monkeypatch.setattr(eng.store, "read", spy)
    eng.update_document_metadata("docQ", {"title": "T"}, expected_version=1)
    assert reads and all(r == ("documents", ["libQ"]) for r in reads), reads
    reads.clear()
    with pytest.raises(ConflictError):
        eng.update_document_metadata("docQ", {"title": "T2"}, expected_version=1)
    with pytest.raises(NotFoundError):
        eng.update_document_metadata("ghost", {"title": "T"}, expected_version=1)
    assert ("documents", None) not in reads, reads
    monkeypatch.undo()
    rows = {r["id"]: r for r in eng.store.read("documents").collect()}
    assert rows["docQ"]["metadata"]["title"] == "T" and rows["docQ"]["version"] == 2
    assert rows["docP"]["metadata"] is None and rows["docP"]["version"] == 1


def test_uuid_defaults(engine):
    lib_id = engine.create_library("autolib", 4)
    doc_id = engine.create_document(lib_id)
    assert len(lib_id) == 36 and lib_id.count("-") == 4  # uuid4 string
    assert len(doc_id) == 36
    engine.delete_library(lib_id)


def test_delete_document_scoped_to_library(engine):
    """Reference services/document.py:139-142 — delete silently no-ops when
    the document is missing or belongs to a different library."""
    eng = engine
    eng.create_library("libScope", 4, library_id="libScope")
    eng.create_document("libScope", document_id="docScope")
    eng.upsert_chunks(
        "libScope",
        _chunk_rows(
            eng.spark, [("cs1", "libScope", "docScope", 0, "s", [1.0, 0.0, 0.0, 0.0])]
        ),
    )
    # wrong-library delete must NOT cascade
    eng.delete_document("libA", "docScope")
    assert eng.store.read("documents").filter(F.col("id") == "docScope").count() == 1
    assert eng.store.read("chunks").filter(F.col("id") == "cs1").count() == 1
    eng.delete_document("libScope", "ghost")  # missing doc: silent no-op
    # right-library delete cascades
    eng.delete_document("libScope", "docScope")
    assert eng.store.read("documents").filter(F.col("id") == "docScope").count() == 0
    assert eng.store.read("chunks").filter(F.col("id") == "cs1").count() == 0
    eng.delete_library("libScope")


def test_move_document_validations(engine):
    """Reference move_to_library ladder: src!=dst (422), doc in src (404),
    destination dim compatibility (422)."""
    eng = engine
    with pytest.raises(ValidationError, match="same"):
        eng.move_document("docA", "libA", "libA")
    eng.create_library("libDim2", 2, library_id="libDim2")
    with pytest.raises(NotFoundError, match="not found in library"):
        eng.move_document("ghost-doc", "libA", "libDim2")
    # docA's chunks are 4-dim; libDim2 expects 2-dim → 422, nothing moves
    with pytest.raises(ValidationError, match="dim"):
        eng.move_document("docA", "libA", "libDim2")
    assert (
        eng.store.read("documents").filter(F.col("id") == "docA").collect()[0][
            "library_id"
        ]
        == "libA"
    )
    eng.delete_library("libDim2")


def test_upsert_forces_library_id(engine):
    """services/chunk.py:95 — a row carrying another library's id is stored
    under the target library, not the one it claims."""
    eng = engine
    eng.create_document("libA", document_id="docForce")
    eng.upsert_chunks(
        "libA",
        _chunk_rows(
            eng.spark,
            [("cforce", "SOME-OTHER-LIB", "docForce", 0, "forced", [0.5, 0.5, 0.0, 0.0])],
        ),
    )
    row = eng.store.read("chunks").filter(F.col("id") == "cforce").collect()[0]
    assert row["library_id"] == "libA"
    # and it is searchable in libA
    got = [r["id"] for r in eng.search("libA", [0.5, 0.5, 0.0, 0.0], k=1)]
    assert got == ["cforce"]
    eng.delete_document("libA", "docForce")  # leave libA as the fixture built it


def test_upsert_refreshes_live_lsh_index(engine):
    """ADVICE r2 (high): chunks written after an index build must be
    findable WITHOUT a rebuild — the upsert appends the batch's signature
    delta to the live LSH bucket table."""
    eng = engine
    eng.create_library("libLive", 4, library_id="libLive")
    eng.create_document("libLive", document_id="docLive")
    eng.upsert_chunks(
        "libLive",
        _chunk_rows(
            eng.spark,
            [("l1", "libLive", "docLive", 0, "seed", [1.0, 0.0, 0.0, 0.0])],
        ),
    )
    d = eng.update_index_config(
        "libLive", IndexConfig("lsh", {"hyperplanes_per_table": 4})
    )
    assert d["type"] == "lsh"
    # upsert AFTER the build — the reference's index.add path
    eng.upsert_chunks(
        "libLive",
        _chunk_rows(
            eng.spark,
            [("l2", "libLive", "docLive", 1, "late", [0.0, 0.0, 1.0, 0.0])],
        ),
    )
    got = [r["id"] for r in eng.search("libLive", [0.0, 0.0, 1.0, 0.0], k=1)]
    assert got == ["l2"]
    eng.delete_library("libLive")


def test_move_and_delete_cascade(engine):
    engine.create_library("libB", 4, library_id="libB")
    engine.move_document("docA", "libA", "libB")
    docs = {r["id"]: r for r in engine.store.read("documents").collect()}
    assert docs["docA"]["library_id"] == "libB"
    assert engine.store.read("chunks").filter(F.col("library_id") == "libB").count() == 3
    engine.delete_library("libB")
    assert engine.store.read("chunks").count() == 0
    with pytest.raises(NotFoundError):
        engine.search("libB", [1.0, 0, 0, 0])


# -- copy-on-write manifest snapshots (VERDICT r5 #1) ------------------------

def _partition_inventory(root, table, manifest, key):
    """(relpath, {file: (size, mtime)}) for one partition's physical dir."""
    rel = manifest[key]
    base = os.path.join(root, table, rel)
    files = {}
    for dirp, _, fs in os.walk(base):
        for f in fs:
            p = os.path.join(dirp, f)
            files[os.path.relpath(p, base)] = (
                os.path.getsize(p), os.path.getmtime(p)
            )
    return rel, files


def test_cow_upsert_rewrites_only_touched_partition(spark, tmp_path):
    """An upsert touching 1 of 10 libraries leaves the other 9 partitions'
    files byte-identical AND physically shared (same directories referenced)
    between snapshot N and N+1 — the O(touched) mutation contract."""
    root = str(tmp_path / "cow")
    eng = Engine(spark, root)
    libs = [f"L{i:02d}" for i in range(10)]
    for lib in libs:
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"doc-{lib}")
    # one bulk write per library → every partition has data
    for lib in libs:
        eng.upsert_chunks(
            lib,
            _chunk_rows(
                spark,
                [(f"{lib}-c0", lib, f"doc-{lib}", 0, "seed", [1.0, 0.0, 0.0, 0.0])],
            ),
        )
    store = eng.store
    v_before = store.current_version("chunks")
    man_before = store.load_manifest("chunks", v_before)
    before = {
        lib: _partition_inventory(root, "chunks", man_before, lib)
        for lib in libs
    }

    eng.upsert_chunks(
        "L03",
        _chunk_rows(
            spark, [("L03-c1", "L03", "doc-L03", 1, "new", [0.0, 1.0, 0.0, 0.0])]
        ),
    )

    v_after = store.current_version("chunks")
    assert v_after == v_before + 1
    man_after = store.load_manifest("chunks", v_after)
    for lib in libs:
        rel_b, files_b = before[lib]
        rel_a, files_a = _partition_inventory(root, "chunks", man_after, lib)
        if lib == "L03":
            assert rel_a != rel_b  # touched partition moved to the new gen
            assert rel_a.startswith(f"v={v_after}/")
        else:
            # physically shared: SAME directory referenced by both manifests,
            # every file byte-identical (size+mtime untouched)
            assert rel_a == rel_b
            assert files_a == files_b
    # both snapshots remain independently readable (snapshot isolation)
    assert store.read("chunks").count() == 11


def test_cow_vacuum_reclaims_only_unreferenced_partitions(spark, tmp_path):
    """After N single-library mutations, vacuum(keep=1) drops superseded
    partition dirs but never a directory the live manifest references."""
    root = str(tmp_path / "vac")
    eng = Engine(spark, root)
    for lib in ("A", "B", "C"):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{lib}")
        eng.upsert_chunks(
            lib,
            _chunk_rows(spark, [(f"{lib}0", lib, f"d{lib}", 0, "x", [1.0, 0.0, 0.0, 0.0])]),
        )
    # rewrite A twice → A's early generations become unreferenced
    for i in (1, 2):
        eng.upsert_chunks(
            "A",
            _chunk_rows(spark, [(f"A{i}", "A", "dA", i, "x", [1.0, 0.0, 0.0, 0.0])]),
        )
    store = eng.store
    live = store.current_version("chunks")
    man = store.load_manifest("chunks", live)
    removed = store.vacuum("chunks", keep=1)
    assert removed  # old snapshots dropped
    # every live-referenced dir survives; table reads back intact
    for rel in man.values():
        assert os.path.isdir(os.path.join(root, "chunks", rel)), rel
    assert store.read("chunks").count() == 5  # A0..A2 + B0 + C0
    # A's superseded generation dirs are gone
    for v in removed:
        gen_dir = os.path.join(root, "chunks", f"v={v}")
        if os.path.isdir(gen_dir):
            # any surviving subdir must still be referenced by the live manifest
            for sub in os.listdir(gen_dir):
                if os.path.isdir(os.path.join(gen_dir, sub)):
                    assert f"v={v}/{sub}" in set(man.values())


def test_cas_conflict_collect_is_bounded(spark, tmp_path):
    """VERDICT r5 #5: a large all-conflict CAS batch must not haul itself to
    the driver — the 409 carries ≤ CAS_CONFLICT_SAMPLE rows + exact count."""
    root = str(tmp_path / "cas")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L",
        _chunk_rows(
            spark,
            [(f"c{i}", "L", "d", i, "t", [1.0, 0.0, 0.0, 0.0]) for i in range(200)],
        ),
    )
    n = 10_000
    upd = eng.spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("id"),
        F.lit("nope").alias("text"),
        F.lit(99).alias("expected_version"),
    )
    with pytest.raises(ConflictError) as ei:
        eng.update_chunks_cas(upd)
    err = ei.value
    assert err.conflict_count == n
    assert len(err.conflicts) <= Engine.CAS_CONFLICT_SAMPLE
    # conflicted rows left the stored table untouched
    assert eng.store.read("chunks").filter(F.col("text") == "nope").count() == 0


def test_store_compact_collapses_generations(spark, tmp_path):
    """After N single-library mutations the manifest spans several
    generations (bounded by partition count); compact() collapses it to
    one generation with identical content, and vacuum reclaims the rest."""
    root = str(tmp_path / "cmp")
    eng = Engine(spark, root)
    for lib in ("A", "B", "C"):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{lib}")
        eng.upsert_chunks(
            lib,
            _chunk_rows(spark, [(f"{lib}0", lib, f"d{lib}", 0, "x", [1.0, 0.0, 0.0, 0.0])]),
        )
    store = eng.store
    man = store.load_manifest("chunks", store.current_version("chunks"))
    gens_before = {rel.split("/", 1)[0] for rel in man.values()}
    assert len(gens_before) == 3  # one generation per library's last write
    def snap():
        return sorted(str(r) for r in store.read("chunks").collect())

    before = snap()
    v = store.compact("chunks")
    man2 = store.load_manifest("chunks", v)
    gens_after = {rel.split("/", 1)[0] for rel in man2.values()}
    assert gens_after == {f"v={v}"}  # single fresh generation
    assert snap() == before
    store.vacuum("chunks", keep=1)
    assert snap() == before


def test_concurrent_writers_cannot_both_publish(spark, tmp_path):
    """Two writers racing from the same base version: both compute v=N+1;
    the second write job fails on the existing generation dir
    (errorifexists) BEFORE any pointer/manifest change — optimistic
    concurrency with no torn snapshot (the reference serializes with a
    per-library write lock; the store serializes at the generation dir)."""
    root = str(tmp_path / "race")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    store = eng.store
    part = spark.createDataFrame(
        [("x1", "L", "d", 0, "t", None, None, 1, None, None)],
        "id string, library_id string, document_id string, position int, "
        "text string, embedding array<float>, "
        "metadata struct<source_uri:string,author:string,lang:string,"
        "mime_type:string,tags:array<string>,page_number:int,token_count:int,"
        "sha256:string>, version int, created_at timestamp, updated_at timestamp",
    ).select(*[c for c in store.read("chunks").columns])
    v1 = store.write_partitions("chunks", part, ["L"])
    # writer B computed its plan against v1 but A publishes v2 first:
    # simulate by pre-creating A's v2 generation, then B's publish must fail
    v2 = store.write_partitions("chunks", part, ["L"])
    assert v2 == v1 + 1
    # roll the pointer back to v1 → next writer recomputes nxt = v2 (taken)
    store._flip("chunks", v1)
    with pytest.raises(Exception):  # Spark PATH_ALREADY_EXISTS
        store.write_partitions("chunks", part, ["L"])
    # pointer untouched by the failed publish; data still consistent
    assert store.current_version("chunks") == v1
    assert store.read("chunks").count() == 1


def test_heal_unwedges_crashed_publish(spark, tmp_path):
    """r6 review: a writer crashing between the generation write and the
    pointer flip leaves v=N+1 debris that errorifexists-wedges every later
    mutation. heal() (run by Engine at startup) clears unpublished
    leftovers; the table accepts writes again."""
    import shutil

    root = str(tmp_path / "heal")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    store = eng.store
    live = store.current_version("chunks")
    # simulate the crash: next generation dir written, pointer never flipped
    crash_gen = os.path.join(root, "chunks", f"v={live + 1}")
    os.makedirs(os.path.join(crash_gen, "library_id=L"))
    with pytest.raises(Exception):  # wedged: PATH_ALREADY_EXISTS
        eng.upsert_chunks(
            "L", _chunk_rows(spark, [("c1", "L", "d", 1, "y", [1.0, 0.0, 0.0, 0.0])])
        )
    # a fresh engine (startup) heals and the same mutation succeeds
    eng2 = Engine(spark, root)
    assert not os.path.exists(crash_gen)
    eng2.upsert_chunks(
        "L", _chunk_rows(spark, [("c1", "L", "d", 1, "y", [1.0, 0.0, 0.0, 0.0])])
    )
    assert eng2.store.read("chunks").count() == 2
    shutil.rmtree(root, ignore_errors=True)


# -- cross-table transactions (r6: catalog commit point) ---------------------

def test_transaction_commits_all_tables_in_one_flip(spark, tmp_path):
    """A multi-table mutation publishes through ONE catalog replace: until
    the transaction exits, an independent reader sees every table at its
    old version; after, all at the new — never a mix."""
    root = str(tmp_path / "txn")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    store = eng.store
    reader = EntityStore(spark, root)  # independent handle = outside observer
    v_docs, v_chunks = (
        reader.current_version("documents"), reader.current_version("chunks")
    )
    with store.transaction():
        docs = store.read("documents", partitions=["L"]).filter(F.col("id") != "d")
        chunks = store.read("chunks", partitions=["L"]).filter(
            F.col("document_id") != "d"
        )
        store.write_partitions("documents", docs, ["L"])
        # mid-transaction: writer sees its own staged version, reader the old
        assert store.current_version("documents") == v_docs + 1
        assert reader.current_version("documents") == v_docs
        assert reader.read("documents").count() == 1
        store.write_partitions("chunks", chunks, ["L"])
        assert reader.current_version("chunks") == v_chunks
    assert reader.current_version("documents") == v_docs + 1
    assert reader.current_version("chunks") == v_chunks + 1
    assert reader.read("documents").count() == 0
    assert reader.read("chunks").count() == 0


def test_transaction_rolls_back_staged_writes_on_error(spark, tmp_path):
    """An exception inside the block publishes NOTHING — the staged
    generation + manifest are reclaimed and the table stays writable."""
    root = str(tmp_path / "rb")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    store = eng.store
    v = store.current_version("chunks")
    with pytest.raises(RuntimeError, match="boom"):
        with store.transaction():
            store.write_partitions(
                "chunks",
                _chunk_rows(
                    spark, [("c1", "L", "d", 1, "y", [0.0, 1.0, 0.0, 0.0])]
                ).withColumn("created_at", F.current_timestamp())
                .withColumn("updated_at", F.current_timestamp())
                .withColumn("version", F.lit(1)),
                ["L"],
            )
            raise RuntimeError("boom")
    assert store.current_version("chunks") == v
    assert store.read("chunks").count() == 1
    # staged debris is gone: the same next version is writable again
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c2", "L", "d", 2, "z", [1.0, 0.0, 0.0, 0.0])])
    )
    assert store.read("chunks").count() == 2


def test_move_document_crash_between_tables_publishes_neither(spark, tmp_path, monkeypatch):
    """The r6 cross-table atomicity contract at engine level: kill the
    process between the documents write and the chunks write of a move —
    the reader must see the OLD homes for both tables (pre-txn this
    published a moved document whose chunks were still in the source)."""
    root = str(tmp_path / "mv")
    eng = Engine(spark, root)
    for lib in ("A", "B"):
        eng.create_library(lib, 4, library_id=lib)
    eng.create_document("A", document_id="d")
    eng.upsert_chunks(
        "A", _chunk_rows(spark, [("c0", "A", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    store = eng.store
    real = EntityStore.write_partitions
    calls = {"n": 0}

    def crashing(self, table, df, touched):
        out = real(self, table, df, touched)
        calls["n"] += 1
        if calls["n"] == 2:  # after the SECOND staged write, before commit
            raise RuntimeError("simulated crash before catalog flip")
        return out

    monkeypatch.setattr(EntityStore, "write_partitions", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.move_document("d", "A", "B")
    monkeypatch.undo()
    docs = {r["id"]: r["library_id"] for r in store.read("documents").collect()}
    chunks = {r["id"]: r["library_id"] for r in store.read("chunks").collect()}
    assert docs == {"d": "A"} and chunks == {"c0": "A"}  # both still old
    # and the store is not wedged: the move succeeds afterwards
    eng.move_document("d", "A", "B")
    docs = {r["id"]: r["library_id"] for r in store.read("documents").collect()}
    chunks = {r["id"]: r["library_id"] for r in store.read("chunks").collect()}
    assert docs == {"d": "B"} and chunks == {"c0": "B"}


def test_legacy_per_table_pointers_migrate_into_catalog(spark, tmp_path):
    """A store written before the catalog (per-table _CURRENT files only)
    stays readable, and the first publish folds EVERY table's version into
    the new catalog — no table snaps back to empty."""
    import json as _json

    root = str(tmp_path / "legacy")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    store = eng.store
    # devolve to the legacy layout: per-table pointers, no catalog
    for t in ("libraries", "documents"):
        v = store.current_version(t)
        with open(os.path.join(root, t, "_CURRENT"), "w") as f:
            _json.dump({"version": v}, f)
    os.remove(os.path.join(root, "_CATALOG"))
    legacy = EntityStore(spark, root)
    assert legacy.read("documents").count() == 1  # readable pre-migration
    legacy.write("libraries", legacy.read("libraries"))  # first catalog publish
    cat = legacy._load_catalog()
    assert cat is not None and "documents" in cat  # migrated, not dropped
    assert legacy.read("documents").count() == 1


# -- r6 review-pass regressions ---------------------------------------------

def test_heal_refuses_when_catalog_lost(spark, tmp_path):
    """A missing/corrupt _CATALOG on a store that HAS data must read as
    'pointer lost, data recoverable' — startup heal must not interpret it
    as version 0 and delete every generation."""
    root = str(tmp_path / "lostcat")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    store = eng.store
    os.remove(os.path.join(root, "_CATALOG"))
    assert store.heal("documents") == []  # refused, nothing deleted
    gens = [n for n in os.listdir(os.path.join(root, "documents"))
            if n.startswith("v=")]
    assert gens, "generations must survive a lost catalog"
    # corrupt catalog: same refusal
    with open(os.path.join(root, "_CATALOG"), "w") as f:
        f.write("{not json")
    assert store.heal("documents") == []
    assert [n for n in os.listdir(os.path.join(root, "documents"))
            if n.startswith("v=")] == gens


def test_transaction_commit_flip_failure_still_rolls_back(spark, tmp_path, monkeypatch):
    """A failure in the COMMIT-TIME catalog replace (e.g. ENOSPC) must roll
    back the staged generations — pre-fix the staged dict was nulled before
    the flip, so the except branch healed nothing and the table wedged."""
    root = str(tmp_path / "flipfail")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    store = eng.store
    v = store.current_version("chunks")

    def failing_flip_many(self, updates):
        raise OSError("simulated ENOSPC during catalog replace")

    monkeypatch.setattr(EntityStore, "_flip_many", failing_flip_many)
    with pytest.raises(OSError, match="ENOSPC"):
        with store.transaction():
            docs = store.read("chunks", partitions=["L"])
            store.write_partitions("chunks", docs, ["L"])
    monkeypatch.undo()
    assert store.current_version("chunks") == v
    # not wedged: the staged v+1 debris is gone, the next write succeeds
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c1", "L", "d", 1, "y", [0.0, 1.0, 0.0, 0.0])])
    )
    assert store.read("chunks").count() == 2


def test_upsert_rejects_chunk_id_from_another_library(spark, tmp_path):
    """Global chunk-id invariant (reference repos/chunks.py:8 — ONE dict
    keyed by id): re-using an id that lives in a different library is a
    409, not a silent second row."""
    root = str(tmp_path / "dupid")
    eng = Engine(spark, root)
    for lib in ("A", "B"):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{lib}")
    eng.upsert_chunks(
        "A", _chunk_rows(spark, [("cX", "A", "dA", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )
    with pytest.raises(ConflictError, match="another library"):
        eng.upsert_chunks(
            "B", _chunk_rows(spark, [("cX", "B", "dB", 0, "y", [1.0, 0.0, 0.0, 0.0])])
        )
    # same-library re-upsert of the id stays a normal update
    eng.upsert_chunks(
        "A", _chunk_rows(spark, [("cX", "A", "dA", 0, "x2", [1.0, 0.0, 0.0, 0.0])])
    )
    rows = eng.store.read("chunks").collect()
    assert len(rows) == 1 and rows[0]["version"] == 2


def test_update_index_config_persists_intent_before_rebuild(spark, tmp_path, monkeypatch):
    """Config-first ordering (r6 review): a crash in the rebuild leaves the
    STORED config new (stale live index, repaired by the next
    rebuild_index) — never a live index whose config change was lost."""
    from vector_db_api_spark.lifecycle import IndexLifecycle

    root = str(tmp_path / "cfgfirst")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "x", [1.0, 0.0, 0.0, 0.0])])
    )

    def failing_rebuild(self, *a, **k):
        raise RuntimeError("simulated crash during index rebuild")

    monkeypatch.setattr(IndexLifecycle, "rebuild", failing_rebuild)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.update_index_config(
            "L", IndexConfig("lsh", {"num_tables": 2, "hyperplanes_per_table": 4})
        )
    monkeypatch.undo()
    stored = eng._get_library_row("L")["index_config"]
    assert stored["type"] == "lsh"  # intent persisted
    # and the parameterless rebuild repairs the live index from it
    desc = eng.rebuild_index("L")
    assert desc["type"] == "lsh"


def test_engine_maintenance_compacts_fragmented_manifest(spark, tmp_path):
    """Copy-on-write fragments the chunks manifest across one generation per
    mutated library; maintenance() collapses it once the threshold is
    crossed and vacuums superseded snapshots — served rows identical."""
    root = str(tmp_path / "maint")
    eng = Engine(spark, root)
    for i in range(5):
        lib = f"L{i}"
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{i}")
        eng.upsert_chunks(
            lib,
            _chunk_rows(
                spark, [(f"c{i}", lib, f"d{i}", 0, f"t{i}", [1.0, 0.0, 0.0, 0.0])]
            ),
        )
    store = eng.store
    v = store.current_version("chunks")
    gens = {rel.split("/", 1)[0] for rel in store.load_manifest("chunks", v).values()}
    assert len(gens) == 5  # one generation per library's upsert
    before = {r["id"]: r["text"] for r in store.read("chunks").collect()}
    report = eng.maintenance(keep=1, compact_generation_threshold=3)["tables"]
    assert report["chunks"]["compacted"] is True
    assert report["chunks"]["generations"] == 5
    v2 = store.current_version("chunks")
    gens2 = {
        rel.split("/", 1)[0] for rel in store.load_manifest("chunks", v2).values()
    }
    assert len(gens2) == 1  # collapsed
    after = {r["id"]: r["text"] for r in store.read("chunks").collect()}
    assert after == before
    # below threshold: second pass is a no-op compact
    report2 = eng.maintenance(keep=1, compact_generation_threshold=3)["tables"]
    assert report2["chunks"]["compacted"] is False


def test_concurrent_flips_on_different_tables_lose_neither(spark, tmp_path):
    """The catalog-lock contract (r6 review finding 1): many interleaved
    publishes to DIFFERENT tables must all survive in the final catalog —
    an unserialized read-modify-replace would drop some of them. Driven
    through the raw _flip_many (no Spark jobs) from two threads hammering
    two tables through separate store handles."""
    import threading

    root = str(tmp_path / "race")
    a, b = EntityStore(spark, root), EntityStore(spark, root)
    N = 60
    errs = []

    def flip(store, table):
        try:
            for v in range(1, N + 1):
                store._flip(table, v)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=flip, args=(a, "documents"))
    t2 = threading.Thread(target=flip, args=(b, "chunks"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    fresh = EntityStore(spark, root)
    # without the flock, one table's final version is routinely lost
    # (overwritten by the other writer's stale snapshot of the catalog)
    assert fresh.current_version("documents") == N
    assert fresh.current_version("chunks") == N


# -- r7 advice regressions ----------------------------------------------------

def test_heal_refuses_on_lost_legacy_pointer(spark, tmp_path):
    """r6 advice (store.py heal): a HALF-migrated store — the root _CATALOG
    exists (created by another table's publish) but this table is still
    tracked only by a legacy _CURRENT that is now corrupt/missing — must
    read as 'pointer lost', not 'crashed first write'. Pre-fix, heal saw
    a readable catalog + unknown table, set live=0, and deleted every
    generation of the table at the next Engine start."""
    import json as _json

    root = str(tmp_path / "halfmig")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    store = eng.store
    # devolve "documents" to legacy tracking: per-table pointer, then drop
    # it from the catalog (as if only "libraries" had published post-migration)
    v = store.current_version("documents")
    with open(os.path.join(root, "documents", "_CURRENT"), "w") as f:
        _json.dump({"version": v}, f)
    cat = store._load_catalog()
    del cat["documents"]
    with open(os.path.join(root, "_CATALOG"), "w") as f:
        _json.dump({"versions": cat}, f)

    # corrupt legacy pointer: current_version is None, but heal must refuse
    with open(os.path.join(root, "documents", "_CURRENT"), "w") as f:
        f.write("{not json")
    assert store.current_version("documents") is None
    assert store.heal("documents") == []
    gens = [n for n in os.listdir(os.path.join(root, "documents"))
            if n.startswith("v=")]
    assert gens, "generations must survive a corrupt legacy pointer"

    # Engine.__init__ runs heal on every start — the boot path must be
    # equally safe, and the data must remain recoverable by repairing
    # the pointer
    Engine(spark, root)
    assert [n for n in os.listdir(os.path.join(root, "documents"))
            if n.startswith("v=")] == gens
    with open(os.path.join(root, "documents", "_CURRENT"), "w") as f:
        _json.dump({"version": v}, f)
    assert EntityStore(spark, root).read("documents").count() == 1


def test_heal_refuses_beyond_v1_without_pointer(spark, tmp_path):
    """A table unknown to a readable catalog with generations BEYOND v=1
    must not be healed — a crashed FIRST write can only stage v=1, so
    v>=2 proves a past publish whose tracking was lost. The genuine
    crashed-first-write shape (only v=1, no pointer file) still heals."""
    root = str(tmp_path / "v2guard")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")  # catalog now exists
    store = eng.store

    # lost-tracking shape: v=1 and v=2 exist, no pointer, not in catalog
    for v in (1, 2):
        os.makedirs(os.path.join(root, "documents", f"v={v}"))
    assert store.heal("documents") == []
    assert os.path.isdir(os.path.join(root, "documents", "v=2"))
    import shutil as _shutil
    _shutil.rmtree(os.path.join(root, "documents"))

    # genuine crashed first write: only v=1 staged, no pointer → cleaned
    os.makedirs(os.path.join(root, "chunks", "v=1", "library_id=L"))
    assert store.heal("chunks") == [1]
    assert not os.path.isdir(os.path.join(root, "chunks", "v=1"))


def test_index_delta_deferred_until_transaction_commit(spark, tmp_path):
    """r6 advice (service.py apply_delta-in-txn): an upsert inside a store
    transaction must NOT touch the live ANN index until the catalog flip
    commits the chunk rows. Pre-fix, a rolled-back with-chunks create (or a
    commit-time flip failure) left the index holding phantom rows the store
    never published."""
    import glob

    root = str(tmp_path / "defer")
    eng = Engine(spark, root)
    eng.create_library("L", 4, library_id="L")
    eng.create_document("L", document_id="d")
    eng.upsert_chunks(
        "L", _chunk_rows(spark, [("c0", "L", "d", 0, "seed", [1.0, 0.0, 0.0, 0.0])])
    )
    eng.update_index_config("L", IndexConfig("lsh", {"hyperplanes_per_table": 4}))
    vdir = glob.glob(os.path.join(root, "_indexes", "L", "v=*"))[-1]
    n_before = spark.read.parquet(os.path.join(vdir, "lsh_buckets")).count()

    # rollback: the index must be untouched
    with pytest.raises(RuntimeError, match="boom"):
        with eng.store.transaction():
            eng.upsert_chunks(
                "L",
                _chunk_rows(
                    spark, [("c1", "L", "d", 1, "x", [0.0, 1.0, 0.0, 0.0])]
                ),
            )
            raise RuntimeError("boom")
    assert (
        spark.read.parquet(os.path.join(vdir, "lsh_buckets")).count() == n_before
    ), "rolled-back upsert leaked a live-index delta"

    # commit-time flip failure: equally no delta
    def failing_flip_many(self, updates):
        raise OSError("simulated ENOSPC")

    orig = EntityStore._flip_many
    EntityStore._flip_many = failing_flip_many
    try:
        with pytest.raises(OSError):
            with eng.store.transaction():
                eng.upsert_chunks(
                    "L",
                    _chunk_rows(
                        spark, [("c1", "L", "d", 1, "x", [0.0, 1.0, 0.0, 0.0])]
                    ),
                )
    finally:
        EntityStore._flip_many = orig
    assert spark.read.parquet(os.path.join(vdir, "lsh_buckets")).count() == n_before

    # committed transaction: delta applied exactly once, chunk searchable
    with eng.store.transaction():
        eng.upsert_chunks(
            "L", _chunk_rows(spark, [("c2", "L", "d", 2, "y", [0.0, 0.0, 1.0, 0.0])])
        )
    assert spark.read.parquet(os.path.join(vdir, "lsh_buckets")).count() > n_before
    got = [r["id"] for r in eng.search("L", [0.0, 0.0, 1.0, 0.0], k=1)]
    assert got == ["c2"]


def test_index_follows_deletes_and_moves(spark, tmp_path):
    """r6 advice (index.remove parity): chunk/document deletes tombstone the
    live index (search stays delete-consistent via the live re-rank — full
    k live rows, never a phantom), maintenance rebuilds the index once dead
    weight crosses the threshold, moves re-home the index delta without a
    rebuild, and deleting a library drops its index catalog entry."""
    import glob

    root = str(tmp_path / "idxdel")
    eng = Engine(spark, root)
    vecs = {
        "c0": [1.0, 0.0, 0.0, 0.0], "c1": [0.9, 0.1, 0.0, 0.0],
        "c2": [0.0, 1.0, 0.0, 0.0], "c3": [0.0, 0.9, 0.1, 0.0],
        "c4": [0.0, 0.0, 1.0, 0.0],
    }
    for lib in ("A", "B"):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{lib}")
    eng.upsert_chunks(
        "A",
        _chunk_rows(spark, [(c, "A", "dA", i, c, v)
                            for i, (c, v) in enumerate(vecs.items())]),
    )
    for lib in ("A", "B"):
        eng.update_index_config(lib, IndexConfig("lsh", {"hyperplanes_per_table": 2}))

    # delete two chunks: tombstones recorded, search returns k LIVE rows
    eng.delete_chunk("A", "c0")
    eng.delete_chunk("A", "c1")
    assert eng.indexes.tombstone_count("A") == 2
    hits = [r["id"] for r in eng.search("A", [1.0, 0.0, 0.0, 0.0], k=3)]
    assert len(hits) == 3 and not {"c0", "c1"} & set(hits)

    # 2 dead / 5 indexed → over a 0.2 threshold: maintenance rebuilds,
    # clearing tombstones and dropping dead ids from the bucket table
    rep = eng.maintenance(keep=1, index_max_dead_fraction=0.2)
    assert rep["indexes"]["A"]["rebuilt"] is True
    assert eng.indexes.tombstone_count("A") == 0
    vdir = max(glob.glob(os.path.join(root, "_indexes", "A", "v=*")))
    bucket_ids = {
        r["id"]
        for r in spark.read.parquet(os.path.join(vdir, "lsh_buckets")).collect()
    }
    assert not {"c0", "c1"} & bucket_ids

    # move: dst index absorbs the rows without a rebuild, src tombstones
    eng.move_document("dA", "A", "B")
    got = [r["id"] for r in eng.search("B", [0.0, 0.0, 1.0, 0.0], k=1)]
    assert got == ["c4"]
    assert eng.indexes.tombstone_count("A") == 3  # c2, c3, c4 departed

    # library delete drops the index catalog entry entirely
    assert os.path.isdir(os.path.join(root, "_indexes", "B"))
    eng.delete_library("B")
    assert not os.path.isdir(os.path.join(root, "_indexes", "B"))
