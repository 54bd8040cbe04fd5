"""crud_mixed: one client, closed loop, through ``api.facade.Facade``.

The corpus is clustered 64-d vectors ingested as one large document; the
default IVF (64 cells, nprobe 4) then misses some true neighbours, so recall
sits clearly below 1.0 and a probing change shows. The corpus and the query
vectors come from a fixed seed, so recall and the store's final size repeat
run to run; the run's ``--seed`` draws every write: the new vectors, and
which chunks are re-embedded and deleted. The benchmark keeps its own numpy
mirror of the live corpus: ground truth for recall, the source of every
expected score, and the id set the store must hold at the end. Only the
facade calls are timed; building payloads, the checks and the mirror
updates run between them.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import numpy as np

from common import Run, dir_bytes

DIM = 64
CLUSTERS = 12      # with 64 IVF cells: ~0.9 recall at nprobe 4
SPREAD = 0.6       # cluster radius (norm of the per-point offset)
QUERY_NOISE = 0.05
K = 10
NEW_DOC_CHUNKS = 16

DATA_SEED = 20_240_917
# one block of timed operations, in this order; a run executes a whole
# number of blocks. A fixed order keeps every search behind the same writes.
BLOCK = ("search", "upsert_new", "search", "delete", "search", "search",
         "upsert_re", "search", "create", "search")
BLOCK_SECONDS = 25   # measured wall time of one block on 4 cores
WARMUP = ("search", "search", "upsert_re")
WRITES = ("upsert_new", "upsert_re", "delete", "create")
SIZES = {"full": 2_000, "small": 400}  # chunks in the ingested document


class Corpus:
    """Seeded clustered generator + the numpy mirror of the live chunks."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng  # switched to the run's generator after the set-up
        c = rng.standard_normal((CLUSTERS, DIM))
        self.centers = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.vec: dict[str, np.ndarray] = {}   # live id → float32 vector
        self.doc: dict[str, str] = {}          # live id → document id
        self._mat = None

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, CLUSTERS, n)
        off = self.rng.standard_normal((n, DIM)) * (SPREAD / np.sqrt(DIM))
        return (self.centers[lab] + off).astype(np.float32)

    def put(self, cid: str, doc: str, v: np.ndarray) -> None:
        self.vec[cid], self.doc[cid] = v, doc
        self._mat = None

    def drop(self, cid: str) -> None:
        del self.vec[cid], self.doc[cid]
        self._mat = None

    def pick(self) -> str:
        ids = sorted(self.vec)
        return ids[int(self.rng.integers(0, len(ids)))]

    def _matrix(self):
        if self._mat is None:
            ids = sorted(self.vec)
            m = np.stack([self.vec[i] for i in ids]).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            self._mat = (ids, {c: j for j, c in enumerate(ids)}, m)
        return self._mat

    def check_hits(self, q: np.ndarray, hits: list[dict]) -> float:
        """Recall of ``hits`` with ties resolved in the engine's favour: a
        hit counts when its exact score is ≥ the exact K-th score − 1e-6.
        Raises when a hit is not live or its score is not the exact one."""
        ids, pos, m = self._matrix()
        qn = q.astype(np.float64) / np.linalg.norm(q)
        exact = m @ qn
        kth = np.sort(exact)[-K]
        if len(hits) != K:
            raise AssertionError(f"{len(hits)} hits, expected {K}")
        good = 0
        for h in hits:
            j = pos.get(h["chunk_id"])
            if j is None:
                raise AssertionError(f"hit {h['chunk_id']} is not a live chunk")
            if abs(h["score"] - exact[j]) > 1e-4:
                raise AssertionError(
                    f"hit {h['chunk_id']} score {h['score']} != exact {exact[j]}")
            good += exact[j] >= kth - 1e-6
        return good / K


def _chunk(cid: str, pos: int, v: np.ndarray) -> dict:
    return {"id": cid, "text": f"chunk {cid}", "position": pos,
            "embedding": [float(x) for x in v]}


def run(r: Run) -> dict:
    from vector_db_api_spark.api.facade import Facade
    from vector_db_api_spark.api.service import Engine

    n_chunks = SIZES[r.scale]
    blocks = max(1, r.seconds // BLOCK_SECONDS)
    corpus = Corpus(np.random.default_rng(DATA_SEED))
    vecs = corpus.draw(n_chunks)
    n_queries = (WARMUP + BLOCK * blocks).count("search")
    base = corpus.rng.integers(0, n_chunks, n_queries)
    noise = corpus.rng.standard_normal((n_queries, DIM)) * (QUERY_NOISE / np.sqrt(DIM))
    queries = iter((vecs[base] + noise).astype(np.float32))
    corpus.rng = r.rng
    root = os.path.join(r.work, "engine")
    shutil.rmtree(root, ignore_errors=True)
    lib = "lib0"
    serial = itertools.count()

    def check(resp: dict, status: int) -> dict:
        if resp.get("status") != status:
            raise AssertionError(f"status {resp.get('status')}: {resp.get('error')}")
        return resp

    # -- setup: engine → library → bulk ingest → index build ---------------
    doc0 = {"id": "doc0", "chunks": [_chunk(f"c{i}", i, v) for i, v in enumerate(vecs)]}
    t0 = time.perf_counter()
    with r.request("setup", "setup"):
        fac = Facade(Engine(r.spark, root))
        check(fac.create_library({"name": "bench", "embedding_dim": DIM,
                                  "index_config": {"type": "ivf"}, "id": lib}), 201)
        check(fac.create_document_with_chunks(lib, doc0), 201)
        check(fac.rebuild_index(lib), 200)
    setup_s = time.perf_counter() - t0
    for i, v in enumerate(vecs):
        corpus.put(f"c{i}", "doc0", v)
    r.spark.sparkContext._jvm.System.gc()

    # -- operations ---------------------------------------------------------
    recalls: list[float] = []
    deleted: set[str] = set()
    jobs = 0

    def timed(rid: str, kind: str, call, *args) -> tuple[dict, float]:
        """One facade call inside its request span; returns the response
        and the call's wall time. Preparing the payload, the checks and the
        mirror updates run outside, so the time is the engine's alone."""
        nonlocal jobs
        with r.request(rid, kind, bytes_of=root if kind in WRITES else None):
            job0 = r.counter.mark()[0]
            t = time.perf_counter()
            resp = call(lib, *args)
            dt = time.perf_counter() - t
            jobs += r.counter.mark()[0] - job0
        return resp, dt

    def op(kind: str, rid: str) -> float:
        if kind == "search":
            q = next(queries)
            body = {"query_embedding": [float(x) for x in q], "k": K}
            resp, dt = timed(rid, kind, fac.search, body)
            hits = check(resp, 200)["data"]["hits"]
            stale = deleted & {h["chunk_id"] for h in hits}
            if stale:
                raise AssertionError(f"deleted ids in hits: {sorted(stale)}")
            recalls.append(corpus.check_hits(q, hits))
        elif kind in ("upsert_new", "upsert_re"):
            if kind == "upsert_new":
                cid, doc = f"n{next(serial)}", "doc0"
            else:
                cid = corpus.pick()
                doc = corpus.doc[cid]
            v = corpus.draw(1)[0]
            resp, dt = timed(rid, kind, fac.upsert_chunk, doc, _chunk(cid, 0, v))
            check(resp, 200)
            corpus.put(cid, doc, v)
        elif kind == "delete":
            cid = corpus.pick()
            resp, dt = timed(rid, kind, fac.delete_chunk, corpus.doc[cid], cid)
            check(resp, 204)
            corpus.drop(cid)
            deleted.add(cid)
        elif kind == "create":
            doc = f"new{next(serial)}"
            vs = corpus.draw(NEW_DOC_CHUNKS)
            ids = [f"{doc}-{i}" for i in range(NEW_DOC_CHUNKS)]
            body = {"id": doc, "chunks": [
                _chunk(c, i, v) for i, (c, v) in enumerate(zip(ids, vs))]}
            resp, dt = timed(rid, kind, fac.create_document_with_chunks, body)
            check(resp, 201)
            for c, v in zip(ids, vs):
                corpus.put(c, doc, v)
        return dt

    for i, kind in enumerate(WARMUP):
        r.attempt(op, kind, f"warmup{i}")
    r.spark.sparkContext._jvm.System.gc()

    plan = [k for _ in range(blocks) for k in BLOCK]
    jobs = 0
    searches: list[float] = []
    block_writes: list[float] = []   # per block: mean write latency
    pass_s = 0.0                     # time inside the timed facade calls
    for b in range(blocks):
        write_s, n_writes = 0.0, 0
        for i, kind in enumerate(BLOCK):
            dt = r.attempt(op, kind, f"op{b * len(BLOCK) + i}")
            r.notes.setdefault("latencies", []).append((kind, round(dt or 0.0, 3)))
            if dt is None:
                continue
            pass_s += dt
            if kind in WRITES:
                write_s, n_writes = write_s + dt, n_writes + 1
            else:
                searches.append(dt)
        block_writes.append(write_s / max(1, n_writes))

    # -- end state: the store must hold exactly the mirror's live ids -------
    live = {row["id"] for row in fac.engine.store.read("chunks", [lib])
            .select("id").collect()}
    r.attempted += 1
    if live != set(corpus.vec):
        r.fail(f"store holds {len(live)} chunks, mirror {len(corpus.vec)}; "
               f"{len(live ^ set(corpus.vec))} differ")
    space_amp = dir_bytes(root) / live_bytes(fac.engine, lib)
    r.notes["generations"] = sum(
        1 for d in os.listdir(os.path.join(root, "chunks")) if d.startswith("v="))
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "ops_per_s": len(plan) / pass_s,
        "search_p50_ms": 1e3 * statistics.median(searches),
        "write_p50_ms": 1e3 * statistics.median(block_writes),
        "jobs_per_op": jobs / len(plan),
        "recall_at_k": statistics.fmean(recalls),
        "space_amp": space_amp,
    }


def live_bytes(engine, lib: str) -> int:
    """Bytes of the files the live table manifests and the live index
    version reference."""
    store = engine.store
    total = 0
    for table in ("libraries", "documents", "chunks"):
        v = store.current_version(table)
        for rel in store.load_manifest(table, v).values():
            total += dir_bytes(os.path.join(store._table_dir(table), rel))
    desc = engine.indexes.current(lib)
    total += dir_bytes(os.path.join(engine.indexes._lib_dir(lib), f"v={desc['version']}"))
    return total
