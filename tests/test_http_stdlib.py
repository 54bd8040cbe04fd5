"""Live-HTTP smoke over the stdlib server (r11 verdict #5): the reference's
TestClient integration workflow (tests/integration/test_app_integration.py:
52-116 — create library → add documents/chunks → search → delete → 404s)
driven over a REAL socket in this fastapi-less sandbox. The Pydantic-layer
422 shapes stay with create_app (FastAPI); everything else — routing,
status propagation, JSON envelopes, query params — runs here for real."""

from __future__ import annotations

import http.client
import json
import threading

import pytest

from vector_db_api_spark.api import http as httpmod
from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    facade = Facade(Engine(spark, str(tmp_path_factory.mktemp("http"))))
    srv = httpmod.create_stdlib_server(facade)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address
    srv.shutdown()
    srv.server_close()


def _req(addr, method, path, body=None):
    conn = http.client.HTTPConnection(*addr, timeout=120)
    payload = None if body is None else json.dumps(body)
    headers = {"Content-Type": "application/json"} if payload else {}
    conn.request(method, path, body=payload, headers=headers)
    resp = conn.getresponse()
    raw = resp.read()
    out = json.loads(raw) if raw else None  # 204 No Content carries no body
    status = resp.status
    conn.close()
    return status, out


def test_live_http_crud_search_workflow(server):
    """≥6 routes end-to-end over the socket, mirroring the reference's
    integration flow: health, create library, create document with chunks,
    single-chunk upsert, search, point gets, listing, delete, and the
    wrong-path 404s — HTTP status must equal the facade envelope status."""
    st, out = _req(server, "GET", "/health")
    assert st == 200 and out["data"]["status"] == "ok"

    st, out = _req(server, "POST", "/libraries",
                   {"id": "L1", "name": "lib", "embedding_dim": 4})
    assert st == 201, out

    st, out = _req(server, "POST", "/libraries/L1/documents/with-chunks", {
        "id": "D1",
        "chunks": [
            {"id": "c1", "library_id": "L1", "document_id": "D1",
             "position": 0, "text": "hello", "embedding": [1.0, 0, 0, 0]},
            {"id": "c2", "library_id": "L1", "document_id": "D1",
             "position": 1, "text": "world", "embedding": [0, 1.0, 0, 0]},
        ],
    })
    assert st == 201, out

    st, out = _req(server, "POST", "/libraries/L1/documents/D1/chunks",
                   {"id": "c3", "library_id": "L1", "document_id": "D1",
                    "position": 2, "text": "again", "embedding": [0, 0, 1.0, 0]})
    assert st == 200, out

    st, out = _req(server, "POST", "/libraries/L1/search",
                   {"query_embedding": [1.0, 0, 0, 0], "k": 1})
    assert st == 200 and out["data"]["hits"][0]["chunk_id"] == "c1"
    assert out["data"]["hits"][0]["text"] == "hello"

    st, out = _req(server, "GET", "/libraries/L1")
    assert st == 200 and out["data"]["name"] == "lib"
    st, out = _req(server, "GET", "/libraries/L1/documents?offset=0&limit=10")
    assert st == 200 and len(out["data"]["items"]) == 1
    assert out["data"]["has_more"] is False
    st, out = _req(server, "GET", "/chunks/c3")
    assert st == 200 and out["data"]["text"] == "again"
    st, out = _req(server, "GET", "/libraries/L1/documents/D1")
    assert st == 200

    st, out = _req(server, "DELETE", "/libraries/L1/documents/D1/chunks/c3")
    assert st == 204 and out is None
    st, out = _req(server, "GET", "/chunks/c3")
    assert st == 404

    # error propagation straight from the facade envelope
    st, out = _req(server, "POST", "/libraries/nope/search",
                   {"query_embedding": [1.0, 0, 0, 0]})
    assert st == 404
    st, out = _req(server, "POST", "/libraries/L1/search",
                   {"query_embedding": [1.0]})
    assert st == 422
    # a mistyped chunk field is a 422 (Pydantic parity), not a 500
    st, out = _req(server, "POST", "/libraries/L1/documents/D1/chunks",
                   {"id": "c4", "position": "x", "text": "typo",
                    "embedding": [0, 0, 0, 1.0]})
    assert st == 422 and "position" in out["error"], out
    st, out = _req(server, "GET", "/no/such/route")
    assert st == 404 and "no route" in out["error"]
    # malformed JSON body -> 400, not a hung socket or a 500
    conn = http.client.HTTPConnection(*server, timeout=30)
    conn.request("POST", "/libraries", body="{not json",
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    assert resp.status == 400
    conn.close()

    st, out = _req(server, "DELETE", "/libraries/L1")
    assert st == 204 and out is None
    st, out = _req(server, "GET", "/libraries/L1")
    assert st == 404


def test_stdlib_routes_cover_every_create_app_route():
    """Drift guard: the stdlib table must wire exactly the facade methods
    the FastAPI surface wires — a route added to create_app without a
    stdlib twin (or vice versa) fails here, keeping the sandbox smoke
    meaningful as the production surface evolves."""
    import inspect
    import re

    src = inspect.getsource(httpmod)
    app_src = src.split("def create_app", 1)[1].split(
        "def create_stdlib_server", 1)[0]
    fastapi_methods = set(re.findall(r"facade\.([a-z_]+)\(", app_src))
    stdlib_methods = {
        re.search(r"f\.([a-z_]+)\(", inspect.getsource(h)).group(1)
        for _, _, h in httpmod.STDLIB_ROUTES
    }
    assert stdlib_methods == fastapi_methods
    # and the path templates agree route-for-route with the FastAPI decorators
    fastapi_routes = set(re.findall(
        r'@app\.(get|post|delete|patch)\(\s*"([^"]+)"\s*\)', app_src))
    stdlib_routes = {(m.lower(), t) for m, t, _ in httpmod.STDLIB_ROUTES}
    assert stdlib_routes == fastapi_routes


def _raw(addr, method, path, payload: bytes, ctype="application/json"):
    conn = http.client.HTTPConnection(*addr, timeout=120)
    conn.request(method, path, body=payload, headers={"Content-Type": ctype})
    resp = conn.getresponse()
    raw = resp.read()
    out = json.loads(raw) if raw else None
    status = resp.status
    conn.close()
    return status, out


def test_live_http_error_taxonomy(server):
    """r12 verdict #6: the reference's router tests exhaustively assert
    the 404/409/422 shapes (tests/unit/routers/*); drive the same taxonomy
    over a real socket — each error body carries the envelope's `error`
    string and HTTP status equals the facade envelope status. Uses its own
    library id so the happy-path workflow test stays independent."""
    # -- setup: a library + one document to mutate against ----------------
    st, _ = _req(server, "POST", "/libraries",
                 {"id": "LE", "name": "err", "embedding_dim": 4})
    assert st == 201
    st, _ = _req(server, "POST", "/libraries/LE/documents", {"id": "DE"})
    assert st == 201

    # 404: unknown library point get
    st, out = _req(server, "GET", "/libraries/ghost")
    assert st == 404 and "ghost" in out["error"]
    # 404: search against an unknown library
    st, out = _req(server, "POST", "/libraries/ghost/search",
                   {"query_embedding": [1.0, 0, 0, 0], "k": 1})
    assert st == 404 and out["error"]
    # 409: duplicate document create (services/document.py:99 taxonomy)
    st, out = _req(server, "POST", "/libraries/LE/documents", {"id": "DE"})
    assert st == 409 and "DE" in out["error"]
    # 409: CAS metadata update with a stale expected_version
    st, out = _req(server, "PATCH", "/documents/DE/metadata",
                   {"expected_version": 999, "author": "x"})
    assert st == 409 and out["error"]
    # 422: query dim mismatch against the library's embedding_dim
    st, out = _req(server, "POST", "/libraries/LE/search",
                   {"query_embedding": [1.0, 0.0], "k": 1})
    assert st == 422 and out["error"]
    # 422: k above the reference's 1000 cap
    st, out = _req(server, "POST", "/libraries/LE/search",
                   {"query_embedding": [1.0, 0, 0, 0], "k": 1001})
    assert st == 422 and out["error"]
    # 422: unknown field rejected (Pydantic extra='forbid' parity)
    st, out = _req(server, "POST", "/libraries/LE/documents",
                   {"id": "D2", "surprise": 1})
    assert st == 422 and "surprise" in out["error"]
    # 400: malformed JSON body never reaches the facade
    st, out = _raw(server, "POST", "/libraries/LE/search", b"{not json")
    assert st == 400 and "invalid JSON" in out["error"]
    # 404: delete-then-get — document gone through BOTH get shapes
    st, _ = _req(server, "DELETE", "/libraries/LE/documents/DE")
    assert st in (200, 204)
    st, out = _req(server, "GET", "/documents/DE")
    assert st == 404 and out["error"]
    st, out = _req(server, "GET", "/libraries/LE/documents/DE")
    assert st == 404 and out["error"]
    # 404: a path outside the route table entirely
    st, out = _req(server, "GET", "/no/such/route")
    assert st == 404


def test_live_http_concurrent_search_during_index_swap(server):
    """r13 verdict #7: the reference asserts concurrent readers stay
    consistent (tests/integration/test_app_integration.py:118-143,
    tests/unit/concurrency/test_locks.py:20-331); the repo's equivalent
    guarantee — snapshot isolation via versioned index dirs + an atomic
    pointer flip (lifecycle.py) — was unit-tested but never driven over a
    live socket WHILE a rebuild swaps the namespace. Here N searcher
    threads hammer POST /search through the ThreadingHTTPServer while the
    main thread swaps the index config ivf → lsh → flat (each PATCH
    rebuilds and atomically republishes). Every response must be a
    complete, internally consistent snapshot of exactly one generation:
    status 200, k hits, descending scores, and the exact-match chunk at
    rank 1 (its vector EQUALS the query, so every generation — flat scan,
    2-probe IVF, sign-LSH where identical vectors share every bucket —
    must rank it first; a torn read between generations would surface as
    a 404/500, a short hit list, or a wrong head)."""
    import queue

    st, _ = _req(server, "POST", "/libraries",
                 {"id": "LCC", "name": "swap", "embedding_dim": 4})
    assert st == 201
    q_vec = [1.0, 0.0, 0.0, 0.0]
    chunks = [{"id": f"cc{i}", "library_id": "LCC", "document_id": "DCC",
               "position": i, "text": f"t{i}", "embedding": emb}
              for i, emb in enumerate([
                  q_vec,                    # cc0: exact match, rank 1 always
                  [0.8, 0.6, 0.0, 0.0],
                  [0.0, 1.0, 0.0, 0.0],
                  [0.0, 0.0, 1.0, 0.0],
                  [-1.0, 0.0, 0.0, 0.0],
                  [0.6, 0.0, 0.8, 0.0],
              ])]
    st, _ = _req(server, "POST", "/libraries/LCC/documents/with-chunks",
                 {"id": "DCC", "chunks": chunks})
    assert st == 201

    results: queue.Queue = queue.Queue()
    stop = threading.Event()

    def searcher():
        while not stop.is_set():
            try:
                st_, out_ = _req(server, "POST", "/libraries/LCC/search",
                                 {"query_embedding": q_vec, "k": 3})
                results.put((st_, out_))
            except Exception as exc:  # a torn socket IS a failure
                results.put(("exc", repr(exc)))

    threads = [threading.Thread(target=searcher, daemon=True)
               for _ in range(3)]
    for t in threads:
        t.start()
    swaps = [
        {"type": "ivf", "params": {"num_centroids": 2, "nprobe": 2}},
        {"type": "lsh", "params": {"num_tables": 4,
                                   "hyperplanes_per_table": 2}},
        {"type": "flat"},
    ]
    try:
        for cfg in swaps:
            st_, out_ = _req(server, "PATCH", "/libraries/LCC/index-config",
                             cfg)
            assert st_ == 200, out_
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)

    seen = []
    while not results.empty():
        seen.append(results.get())
    assert len(seen) >= 3, "drill produced too few concurrent responses"
    for st_, out_ in seen:
        assert st_ == 200, (st_, out_)
        hits = out_["data"]["hits"]
        assert len(hits) == 3, hits
        assert hits[0]["chunk_id"] == "cc0", hits
        assert hits[0]["score"] == pytest.approx(1.0, abs=1e-9)
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True), hits
    # the swaps really advanced the generation under the readers' feet:
    # final config is flat and serving still answers exactly
    st_, out_ = _req(server, "GET", "/libraries/LCC")
    assert st_ == 200 and out_["data"]["index_config"]["type"] == "flat"
