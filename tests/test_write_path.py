"""The request-size write path: checks over the collected request rows,
id sidecars derived by OR or from a derived partition snapshot, the IVF
delta assigned on the driver and the upsert reply built without a
read-back. Each is held equal to the distributed computation it
replaces."""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vector_db_api_spark.api.errors import ValidationError
from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import CHUNK_IN_SCHEMA, Engine
from vector_db_api_spark.lifecycle import IndexLifecycle
from vector_db_api_spark.operators.ivf import IVFIndex, nearest_cells, posting_ddl
from vector_db_api_spark.session import local_frame
from vector_db_api_spark.sources import bloom as B

DIM = 4


def _library(spark, root, lib="L", doc="d0", **cfg):
    fac = Facade(Engine(spark, root))
    body = {"id": lib, "name": lib, "embedding_dim": DIM}
    if cfg:
        body["index_config"] = cfg
    assert fac.create_library(body)["status"] == 201
    assert fac.create_document(lib, {"id": doc})["status"] == 201
    return fac


# -- non-finite embeddings ------------------------------------------------

@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    return _library(spark, str(tmp_path_factory.mktemp("nonfinite")))


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_engine_rejects_non_finite_embeddings(spark, plain, bad, distributed):
    """A caller that bypasses the facade gets the facade's 422: a NaN chunk
    would rank first in every flat search, and the IVF kernels skip it.
    Above GLOBAL_ID_CHECK_MAX_DRIVER_IDS rows (lowered here to 0) the
    check is the distributed aggregate's."""
    eng = plain.engine
    if distributed:
        eng.GLOBAL_ID_CHECK_MAX_DRIVER_IDS = 0
    try:
        rows = spark.createDataFrame(
            [("ok", "L", "d0", 0, "fine", [1.0, 0.0, 0.0, 0.0], None),
             ("bad", "L", "d0", 1, "broken", [1.0, bad, 0.0, 0.0], None)],
            CHUNK_IN_SCHEMA,
        )
        with pytest.raises(ValidationError, match="NaN, infinite"):
            eng.upsert_chunks("L", rows)
    finally:
        eng.__dict__.pop("GLOBAL_ID_CHECK_MAX_DRIVER_IDS", None)
    assert plain.get_chunk("bad")["status"] == 404
    assert plain.get_chunk("ok")["status"] == 404  # nothing of the batch lands


def test_distributed_checks_answer_like_the_driver_checks(spark, plain):
    """The same batch through both branches: equal row counts, equal 422s."""
    eng = plain.engine
    good = spark.createDataFrame(
        [(f"g{i}", "L", "d0", i, "t", [1.0, float(i), 0.0, 0.0], None)
         for i in range(3)], CHUNK_IN_SCHEMA)
    short = spark.createDataFrame(
        [("s", "L", "d0", 0, "t", [1.0, 0.0], None)], CHUNK_IN_SCHEMA)
    orphan = spark.createDataFrame(
        [("o", "L", "nope", 0, "t", None, None)], CHUNK_IN_SCHEMA)
    answers = []
    for bound in (None, 0):
        if bound is not None:
            eng.GLOBAL_ID_CHECK_MAX_DRIVER_IDS = bound
        try:
            got = [eng.upsert_chunks("L", good)]
            for bad in (short, orphan):
                try:
                    eng.upsert_chunks("L", bad)
                except Exception as e:  # noqa: BLE001 — compared below
                    got.append((type(e).__name__, str(e)))
            answers.append(got)
        finally:
            eng.__dict__.pop("GLOBAL_ID_CHECK_MAX_DRIVER_IDS", None)
    assert answers[0] == answers[1]
    assert answers[0][0] == 3
    assert [a[0] for a in answers[0][1:]] == ["ValidationError", "NotFoundError"]


# -- the upsert reply ------------------------------------------------------

@pytest.mark.parametrize("meta", [
    None,
    {"author": "ann"},
    {"tags": ["x", "y"], "page_number": 3, "lang": "en"},
    {"source_uri": "s", "author": "a", "lang": "l", "mime_type": "m",
     "tags": [], "page_number": 0, "token_count": 9, "sha256": "h"},
], ids=["absent", "one-field", "partial", "full"])
def test_upsert_reply_equals_get_chunk(spark, tmp_path, meta):
    """The reply is built from the request and the write's observed
    version and timestamps; it must be what a read of the row answers."""
    fac = _library(spark, str(tmp_path), type="ivf", num_centroids=2, nprobe=1)
    body = {"id": "c0", "position": 0, "text": "new", "embedding": [1, 0, 0, 0]}
    if meta is not None:
        body["metadata"] = meta
    new = fac.upsert_chunk("L", "d0", dict(body))
    assert new["status"] == 200
    assert new["data"] == fac.get_chunk("c0")["data"]
    assert new["data"]["version"] == 1

    replaced = fac.upsert_chunk("L", "d0", dict(body, text="again", position=5))
    assert replaced["status"] == 200
    assert replaced["data"] == fac.get_chunk("c0", library_id="L")["data"]
    assert replaced["data"]["version"] == 2
    assert replaced["data"]["created_at"] == new["data"]["created_at"]
    assert replaced["data"]["updated_at"] >= new["data"]["updated_at"]

    unnamed = fac.upsert_chunk("L", "d0", {"text": "no id", "metadata": meta})
    assert unnamed["status"] == 200
    assert unnamed["data"] == fac.get_chunk(unnamed["data"]["id"])["data"]


# -- the IVF delta on the driver ------------------------------------------

def _boundary_rows(cent: np.ndarray, rng) -> list[list[float]]:
    """float64 vectors whose cell changes when rounded to float32: points
    a hair off the bisector of two cells."""
    out = []
    for _ in range(100_000):
        if len(out) == 4:
            return out
        i, j = rng.choice(len(cent), size=2, replace=False)
        v = (cent[i] + cent[j]) / 2 + rng.standard_normal(cent.shape[1]) * 1e-9
        wide = nearest_cells(v[None, :], cent)[1][0]
        narrow = nearest_cells(
            v[None, :].astype(np.float32).astype(np.float64), cent)[1][0]
        if wide != narrow:
            out.append([float(x) for x in v])
    raise AssertionError("no float32-sensitive vectors found")


@pytest.mark.parametrize("include_vectors", [False, True],
                         ids=["idonly", "selfcontained"])
def test_driver_postings_equal_executor_assign(spark, tmp_path, include_vectors):
    rng = np.random.default_rng(17)
    cent = rng.standard_normal((6, DIM))
    cent = np.vstack([cent, cent[:1]])  # cell 6 duplicates cell 0: exact ties
    ivf = IVFIndex(cent)
    vectors = [
        [float(x) for x in ivf.centroids[0]],            # tied: cells 0 and 6
        [float(x) for x in ivf.centroids[1] * 3.0],
        [0.0] * DIM,                                     # zero: no posting
        None,                                            # NULL: no posting
        [0.1, 1 / 3, -2 / 3, 1e-7],                      # changes in float32
        *_boundary_rows(ivf.centroids, rng),
    ]
    rows = [(f"r{i}", v) for i, v in enumerate(vectors)]
    frame = local_frame(spark, rows, "id string, embedding array<float>")
    want = ivf.assign(frame, include_vectors=include_vectors).collect()

    life = IndexLifecycle(spark, str(tmp_path / "idx"))
    vdir = str(tmp_path / "v")
    ddl = posting_ddl(frame, include_vectors=include_vectors)
    # the request's float64 values, as the facade hands them over
    raw = [{"id": i, "embedding": v} for i, v in rows]
    appended = life._append_postings(
        vdir, ivf, raw, ddl, "id", "embedding", include_vectors)
    got = (spark.read.schema(ddl)
           .parquet(os.path.join(vdir, "ivf_assignments")).collect())

    def rows_of(frame_rows):
        return sorted((r.asDict() for r in frame_rows), key=lambda d: d["id"])

    assert appended == len(want) == len(vectors) - 2
    assert rows_of(got) == rows_of(want)
    cells = {r["id"]: r["centroid_id"] for r in got}
    assert cells["r0"] == 0  # the lowest of two tied cells
    # the rounding is what makes the cells agree: unrounded, they differ
    wide = nearest_cells(np.asarray(vectors[5:]), ivf.centroids)[1]
    assert all(int(w) != cells[f"r{5 + i}"] for i, w in enumerate(wide))


# -- id sidecars -------------------------------------------------------------

#: MIN_BITS holds 170 rows at BITS_PER_ELEMENT; a library seeded just
#: below that crosses the first size_bits boundary on its first growth
SEED_ROWS = B.MIN_BITS // B.BITS_PER_ELEMENT - 2


def _distributed_build(ids, n: int) -> dict:
    """``build_bloom``'s distributed pass, whatever the row count."""
    saved, B.MAX_DRIVER_IDS = B.MAX_DRIVER_IDS, -1
    try:
        return B.build_bloom(ids, "id", n)
    finally:
        B.MAX_DRIVER_IDS = saved


@pytest.mark.parametrize("n", [0, 1, 170, 171, 700, 3000])
def test_driver_build_equals_distributed_build(spark, n):
    """The exact build of a small partition hashes its collected ids on
    the driver; it must set the distributed pass's bits exactly."""
    rng = np.random.default_rng(n)
    ids = [f"id-{i}-{rng.integers(1 << 40)}" for i in range(n)]
    if n:
        ids[0], ids[-1] = "ünïcødé 日本語 🙂", ""
    frame = spark.createDataFrame([(i,) for i in ids + [None]], "id string")
    assert n <= B.MAX_DRIVER_IDS
    assert B.build_bloom(frame, "id", n) == _distributed_build(frame, n)


def _assert_sidecars_exact(spark, store):
    """Every live partition's sidecar, as stored and as cached, equals the
    exact distributed build over its ids, byte for byte."""
    for table in ("chunks", "documents"):
        v = store.current_version(table)
        cached = store.partition_blooms(table)
        for part, rel in store.load_manifest(table, v).items():
            pdir = os.path.join(store.root, table, rel)
            ids = spark.read.schema("id string").parquet(pdir)
            want = B.decode(_distributed_build(ids, ids.count()))
            got = B.load_bloom(pdir)
            assert got == want, (table, part)
            assert cached[part] == want, (table, part)


STEP = st.one_of(
    st.tuples(st.just("upsert"), st.sampled_from("AB"),
              st.lists(st.integers(0, 30), min_size=1, max_size=20)),
    st.tuples(st.just("meta"), st.sampled_from("AB"), st.just([])),
    st.tuples(st.just("delete"), st.sampled_from("AB"),
              st.lists(st.integers(0, 30), min_size=1, max_size=3)),
    st.tuples(st.just("create"), st.sampled_from("AB"),
              st.lists(st.integers(0, 30), min_size=1, max_size=20)),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=st.lists(STEP, min_size=1, max_size=4))
def test_sidecars_equal_exact_build(spark, tmp_path_factory, steps):
    """Random writes over two libraries: upserts of new and replaced ids,
    metadata updates, chunk deletes and with-chunks creates. After every
    step each live sidecar is the exact build's. Library A starts just
    under the first size_bits boundary, and the first step grows it past,
    so every sequence takes the exact build there once; every delete
    builds its sidecar from the held snapshot's ids."""
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("sidecars"))))
    eng = fac.engine
    for lib in "AB":
        assert fac.create_library(
            {"id": lib, "name": lib, "embedding_dim": DIM})["status"] == 201
        assert fac.create_document(lib, {"id": f"d{lib}"})["status"] == 201

    def chunk(cid, doc):
        return {"id": cid, "text": cid, "document_id": doc,
                "embedding": [1.0, 0.0, 0.0, 0.0]}

    seed = [chunk(f"A-seed{i}", "dA") for i in range(SEED_ROWS)]
    assert fac.bulk_upsert_chunks("A", seed)["status"] == 200
    grow = [chunk(f"A-grow{i}", "dA") for i in range(3)]
    assert fac.bulk_upsert_chunks("A", grow)["status"] == 200
    assert B.size_bits(SEED_ROWS + 3) > B.size_bits(SEED_ROWS)
    _assert_sidecars_exact(spark, eng.store)

    versions = {"dA": 1, "dB": 1}
    for n, (kind, lib, keys) in enumerate(steps):
        doc = f"d{lib}"
        if kind == "upsert":
            out = fac.bulk_upsert_chunks(
                lib, [chunk(f"{lib}{k}", doc) for k in keys])
            assert out["status"] == 200
        elif kind == "meta":
            eng.update_document_metadata(doc, {"author": f"a{n}"}, versions[doc])
            versions[doc] += 1
        elif kind == "delete":
            for k in keys:
                # the writes derived the partition's snapshot, so the delete's
                # exact sidecar is built from the snapshot's remaining ids
                assert (eng.store.cached_rows("chunks", lib) is not None
                        or lib not in eng.store.partition_blooms("chunks"))
                assert fac.delete_chunk(lib, doc, f"{lib}{k}")["status"] == 204
        else:
            out = fac.create_document_with_chunks(lib, {
                "id": f"{lib}-doc{n}",
                "chunks": [{"id": f"{lib}-doc{n}-{k}", "text": "t"}
                           for k in sorted(set(keys))],
            })
            assert out["status"] == 201
        _assert_sidecars_exact(spark, eng.store)
