"""A small library is searched on the driver, from the snapshot of its
chunks partition the store holds (``EntityStore.partition_rows``); every
other search is planned on Spark. The two paths must return the same rows,
scores bit for bit, and a snapshot a write derived must equal what a
reload of its partition reads.

The Spark path is forced with the ``on_spark`` fixture (a snapshot budget
no partition fits). Edge inputs run through ``Engine.search`` on both
paths; a random sequence of writes checks the derived snapshots and both
paths after every step.
"""

from __future__ import annotations

import logging
import re
import struct
from contextlib import contextmanager
from datetime import datetime

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vector_db_api_spark.api.errors import ValidationError
from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.session import local_frame
from vector_db_api_spark.sources.store import CHUNKS_DDL, EntityStore

DIM = 4
METRICS = ("cosine", "euclidean", "dot_product")
SERVICE_LOG = "vector_db_api_spark.api.service"


class _LastLine(logging.Handler):
    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.line = ""

    def emit(self, record: logging.LogRecord) -> None:
        self.line = record.getMessage()


@contextmanager
def _search_log():
    """The service's last search log line, as ``.line``."""
    log = logging.getLogger(SERVICE_LOG)
    handler, level = _LastLine(), log.level
    log.addHandler(handler)
    log.setLevel(logging.INFO)
    try:
        yield handler
    finally:
        log.removeHandler(handler)
        log.setLevel(level)


def _bits(rows) -> list[tuple]:
    """Rows with each score as its IEEE bytes, so -0.0 != 0.0."""
    return [(*r[:-1], struct.pack(">d", r["score"])) for r in rows]


def _both(eng: Engine, on_spark, lib: str, query, **kw) -> list:
    """The hits of one search on each path, which must be equal; the
    driver's, which must have served it."""
    with _search_log() as log:
        driver = eng.search(lib, [float(x) for x in query], **kw)
    assert "served=driver" in log.line, log.line
    with on_spark(), _search_log() as log:
        spark = eng.search(lib, [float(x) for x in query], **kw)
    assert "served=spark" in log.line, log.line
    assert _bits(driver) == _bits(spark), (kw, driver, spark)
    return driver


def _meta(author=None, tags=None) -> dict:
    return {"source_uri": None, "author": author, "lang": None,
            "mime_type": None, "tags": tags, "page_number": None,
            "token_count": None, "sha256": None}


def _edge_engine(spark, root: str, index: str) -> tuple[Engine, np.ndarray]:
    """Library E of 24 chunks written as stored rows: some without an
    embedding, some zero-norm, several sharing one vector, NULL and
    NULL-element tags, NULL authors and NULL created_at."""
    eng = Engine(spark, root)
    cfg = IndexConfig("ivf", {"num_centroids": 3, "nprobe": 2}) if index == "ivf" else None
    eng.create_library("E", DIM, cfg, library_id="E")
    for d in ("d0", "d1"):
        eng.create_document("E", d)
    vecs = np.random.default_rng(3).standard_normal((24, DIM)).astype(np.float32)
    rows = []
    for i in range(24):
        emb = [float(x) for x in vecs[i]]
        if i % 7 == 3:
            emb = None
        elif i % 7 == 5:
            emb = [0.0] * DIM
        elif i % 6 == 1:
            emb = [float(x) for x in vecs[0]]
        created = None if i % 4 == 2 else datetime(2024, 1, 1 + i)
        rows.append((
            f"e{i:02d}", "E", f"d{i % 2}", i, f"text {i}", emb,
            _meta([None, "ann", "bob"][i % 3],
                  [None, ["a"], ["a", None], ["b", "c"], []][i % 5]),
            created, created, 1,
        ))
    eng.store.write_partitions("chunks", local_frame(spark, rows, CHUNKS_DDL), ["E"])
    if cfg is not None:
        eng.rebuild_index("E")
    return eng, vecs


@pytest.fixture(scope="module", params=["flat", "ivf"])
def edge(request, spark, tmp_path_factory):
    return _edge_engine(
        spark, str(tmp_path_factory.mktemp(f"edge_{request.param}")), request.param
    )


FILTERS = [
    {"doc_ids": ["d1"]},
    {"tags": ["a"]},
    {"tags": ["c", "zzz"]},
    {"tags": []},
    {"author": "ann"},
    {"created_after": datetime(2024, 1, 10)},
    {"doc_ids": ["d0", "nope"], "author": "bob"},
]


@pytest.mark.parametrize("metric", METRICS)
def test_edge_library_driver_equals_spark(edge, on_spark, metric):
    """k = 1, k within n and k ≥ n; a query tied with several stored
    vectors (ties broken by id), a random one; each post-filter."""
    eng, vecs = edge
    rng = np.random.default_rng(11)
    queries = [vecs[0], rng.standard_normal(DIM)]
    for q in queries:
        for k in (1, 5, 30):
            hits = _both(eng, on_spark, "E", q, k=k, metric=metric)
            assert len({h["id"] for h in hits}) == len(hits)
    for f in FILTERS:
        _both(eng, on_spark, "E", queries[1], k=30, metric=metric, **f)


def test_zero_query(edge, on_spark):
    """IVF probes no cell for a zero query; flat scores every embedded
    row 0.0 under cosine, in id order."""
    eng, _ = edge
    hits = _both(eng, on_spark, "E", [0.0] * DIM, k=30)
    if eng.indexes.current("E") is not None:  # the IVF library
        assert hits == []
    else:
        assert [h["score"] for h in hits] == [0.0] * len(hits)
        assert [h["id"] for h in hits] == sorted(h["id"] for h in hits)
        assert len(hits) == 24 - 3  # the rows without an embedding drop


def test_validation_errors_on_both_paths(edge, on_spark):
    eng, _ = edge
    for bad in ([1.0] * (DIM + 1), [float("nan")] + [1.0] * (DIM - 1),
                [float("inf")] * DIM):
        with pytest.raises(ValidationError):
            eng.search("E", bad)
        with on_spark(), pytest.raises(ValidationError):
            eng.search("E", bad)


def test_empty_libraries(spark, tmp_path, on_spark):
    """No chunks partition at all, and one whose chunks have no
    embedding: no hits on either path."""
    fac = Facade(Engine(spark, str(tmp_path / "empty")))
    eng = fac.engine
    for lib, cfg in (("F", {"type": "flat"}),
                     ("I", {"type": "ivf", "num_centroids": 2, "nprobe": 1})):
        assert fac.create_library({"id": lib, "name": lib, "embedding_dim": DIM,
                                   "index_config": cfg})["status"] == 201
        assert _both(eng, on_spark, lib, [1.0] * DIM, k=3) == []
    assert fac.create_document_with_chunks("F", {"id": "d", "chunks": [
        {"id": f"x{i}", "text": "no vector"} for i in range(3)]})["status"] == 201
    assert _both(eng, on_spark, "F", [1.0] * DIM, k=3) == []


def test_what_the_driver_does_not_hold_is_served_on_spark(spark, tmp_path):
    """A stored vector with a NULL element or a NaN (legacy rows), an LSH
    library and an IVF version served in place all stay on Spark."""
    fac = Facade(Engine(spark, str(tmp_path / "spark_only")))
    eng = fac.engine
    vecs = np.random.default_rng(4).standard_normal((40, DIM))
    for lib, cfg in (("N", None), ("H", {"type": "lsh", "num_tables": 2,
                                         "hyperplanes_per_table": 2}),
                     ("S", {"type": "ivf", "num_centroids": 2, "nprobe": 1,
                            "layout": "selfcontained"})):
        body = {"id": lib, "name": lib, "embedding_dim": DIM}
        if cfg:
            body["index_config"] = cfg
        assert fac.create_library(body)["status"] == 201
        assert fac.create_document_with_chunks(lib, {"id": f"{lib}-d", "chunks": [
            {"id": f"{lib}{i}", "text": "t", "embedding": [float(x) for x in v]}
            for i, v in enumerate(vecs)]})["status"] == 201
        assert fac.rebuild_index(lib)["status"] == 200
    for bad in ([1.0, None, 0.0, 0.0], [float("nan"), 1.0, 0.0, 0.0]):
        legacy = eng.store.read("chunks", ["N"]).unionByName(local_frame(spark, [(
            "legacy", "N", "N-d", 0, "t", bad, None, None, None, 1)], CHUNKS_DDL))
        eng.store.write_partitions("chunks", legacy.localCheckpoint(), ["N"])
        with _search_log() as log:
            eng.search("N", [1.0] * DIM)
        assert "served=spark" in log.line
        eng.delete_chunk("N", "legacy")
    for lib in ("H", "S"):
        with _search_log() as log:
            eng.search(lib, [1.0] * DIM)
        assert f"index={'lsh' if lib == 'H' else 'ivf'} served=spark" in log.line


def test_search_logs_one_line_per_call(edge, on_spark, caplog):
    eng, vecs = edge
    kind = "flat" if eng.indexes.current("E") is None else "ivf"
    caplog.set_level(logging.INFO, logger=SERVICE_LOG)
    eng.search("E", [float(x) for x in vecs[2]], k=5)
    with on_spark():
        eng.search("E", [float(x) for x in vecs[2]], k=5)
    lines = [r.getMessage() for r in caplog.records if r.name == SERVICE_LOG]
    assert len(lines) == 2
    assert re.match(rf"^search library=E index={kind} served=driver "
                    rf"snapshot=(hit|derived|loaded) k=5 hits=\d+ ms=\d+\.\d$",
                    lines[0]), lines
    assert re.match(rf"^search library=E index={kind} served=spark snapshot=- "
                    rf"k=5 hits=\d+ ms=\d+\.\d$", lines[1]), lines


# -- a random sequence of writes ---------------------------------------------

def _canon(snap) -> list[tuple]:
    """A snapshot's rows in id order, embeddings as bytes."""
    return sorted(
        (i, h, snap.emb[j].tobytes() if snap.embedded[j] else None)
        for j, (i, h) in enumerate(zip(snap.ids, snap.hits))
    )


def _assert_snapshots_exact(spark, eng: Engine) -> None:
    """Every held chunks snapshot equals what a reload of its path reads."""
    for lib in "AB":
        held = eng.store.cached_rows("chunks", lib)
        if held is not None:
            fresh, how = EntityStore(spark, eng.store.root).partition_rows(
                "chunks", lib, DIM)
            assert how == "loaded"
            assert _canon(held) == _canon(fresh), lib


STEP = st.one_of(
    st.tuples(st.just("upsert"), st.sampled_from("AB"),
              st.lists(st.integers(0, 12), min_size=1, max_size=6, unique=True)),
    st.tuples(st.just("delete"), st.sampled_from("AB"),
              st.lists(st.integers(0, 12), min_size=1, max_size=2)),
    st.tuples(st.just("create"), st.sampled_from("AB"),
              st.lists(st.integers(0, 12), min_size=1, max_size=4, unique=True)),
    st.tuples(st.just("move"), st.sampled_from("AB"), st.just([])),
    st.tuples(st.just("meta"), st.sampled_from("AB"), st.just([])),
    st.tuples(st.just("rollback"), st.sampled_from("AB"),
              st.lists(st.integers(0, 12), min_size=1, max_size=4, unique=True)),
    st.tuples(st.just("rebuild"), st.sampled_from("AB"), st.just([])),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=st.lists(STEP, min_size=1, max_size=4), seed=st.integers(0, 1 << 16))
def test_random_writes_keep_snapshots_and_paths_equal(
        spark, tmp_path_factory, on_spark, steps, seed):
    """Library A is IVF, B flat. After every step each held snapshot is a
    reload's, and a search of each library answers alike on both paths."""
    rng = np.random.default_rng(seed)
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("sequence"))))
    eng = fac.engine

    def chunk(cid: str, k: int, doc: str | None = None) -> dict:
        out = {"id": cid, "text": f"t{k}", "position": k,
               "metadata": {"author": ["ann", None][k % 2],
                            "tags": [["a"], None, ["b", "a"]][k % 3]}}
        if k % 5:
            out["embedding"] = [float(x) for x in rng.standard_normal(DIM)]
        if doc is not None:
            out["document_id"] = doc
        return out

    for lib, cfg in (("A", {"type": "ivf", "num_centroids": 3, "nprobe": 2}),
                     ("B", {"type": "flat"})):
        assert fac.create_library({"id": lib, "name": lib, "embedding_dim": DIM,
                                   "index_config": cfg})["status"] == 201
        assert fac.create_document_with_chunks(lib, {"id": f"d{lib}", "chunks": [
            chunk(f"{lib}{k}", k) for k in range(1, 11)]})["status"] == 201
        assert fac.rebuild_index(lib)["status"] == 200
    created = {"A": [], "B": []}
    versions = {"dA": 1, "dB": 1}
    for n, (kind, lib, keys) in enumerate(steps):
        other = "B" if lib == "A" else "A"
        if kind == "upsert":
            out = fac.bulk_upsert_chunks(
                lib, [chunk(f"{lib}{k}", k, f"d{lib}") for k in keys])
            assert out["status"] == 200
        elif kind == "delete":
            for k in keys:
                assert fac.delete_chunk(lib, f"d{lib}", f"{lib}{k}")["status"] == 204
        elif kind == "create":
            doc = f"{lib}-doc{n}"
            assert fac.create_document_with_chunks(lib, {"id": doc, "chunks": [
                chunk(f"{doc}-{k}", k) for k in keys]})["status"] == 201
            created[lib].append(doc)
        elif kind == "move" and created[lib]:
            doc = created[lib].pop()
            eng.move_document(doc, lib, other)
            created[other].append(doc)
        elif kind == "meta":
            eng.update_document_metadata(f"d{lib}", {"author": f"a{n}"},
                                         versions[f"d{lib}"])
            versions[f"d{lib}"] += 1
        elif kind == "rollback":
            with pytest.raises(RuntimeError, match="roll back"):
                with eng.write_lock, eng.store.transaction():
                    fac.bulk_upsert_chunks(
                        lib, [chunk(f"{lib}{k}", k, f"d{lib}") for k in keys])
                    raise RuntimeError("roll back")
        elif kind == "rebuild":
            assert fac.rebuild_index(lib)["status"] == 200
        _assert_snapshots_exact(spark, eng)
        for name in "AB":
            _both(eng, on_spark, name, rng.standard_normal(DIM), k=5)
        _assert_snapshots_exact(spark, eng)
