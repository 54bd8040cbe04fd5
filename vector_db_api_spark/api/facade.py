"""JSON-dict facade — reference router/DTO parity without HTTP.

The reference's routers parse JSON DTOs, call services, and shape responses
(api/routers/chunks.py:62-92, documents.py:68-100, libraries.py:42-59,
search.py:20-44; error mapping api/errors.py:5-11). This module is that
boundary for the Spark engine: dict in → validated DataFrame → service →
dict out, with EngineError mapped to the same status codes. Wrap it in any
HTTP framework unchanged (the engine itself stays framework-free).

Type enforcement replaces Pydantic and happens here, before any row
reaches Spark: ``Facade._validate_chunks`` checks every chunk field, the
metadata struct's keys included, against the declared chunk schema
(``CHUNK_IN_SCHEMA``) and answers an unknown or mistyped field with a 422,
where the reference's ``extra="forbid"`` models do (models/entities.py:14,
30,43). Embedding values must also be finite. The rows then become a JVM
local relation (``session.local_frame``), whose Arrow conversion does not
type-check them.

Rows handed to ``Engine`` directly, as dicts or DataFrames, are not
type-checked. The engine itself rejects a non-finite chunk embedding
(``upsert_chunks``) or query vector (``search``).
"""

from __future__ import annotations

import math
from functools import cache
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, IntegerType, StringType, StructType,
)

from vector_db_api_spark.api.errors import EngineError, ValidationError
from vector_db_api_spark.api.service import CHUNK_IN_SCHEMA, Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.session import local_frame

CHUNK_IN_FIELDS = (
    "id", "library_id", "document_id", "position", "text", "embedding", "metadata"
)


@cache
def _chunk_in_struct() -> StructType:
    return StructType.fromDDL(CHUNK_IN_SCHEMA)


def _type_error(v: Any, dt: DataType, path: str) -> str | None:
    """Why ``v`` cannot be a value of ``dt``, or None when it can: JSON
    null fits every type, an int column takes exactly a 32-bit ``int``
    (not a bool, not a float), and an object may carry only its struct's
    fields."""
    if v is None:
        return None
    if isinstance(dt, StructType):
        if not isinstance(v, dict):
            return f"{path} must be an object"
        unknown = set(v) - set(dt.names)
        if unknown:
            return f"unknown {path} fields: {sorted(unknown)}"
        for f in dt.fields:
            err = _type_error(v.get(f.name), f.dataType, f"{path}.{f.name}")
            if err:
                return err
        return None
    if isinstance(dt, ArrayType):
        if not isinstance(v, (list, tuple)):
            return f"{path} must be a list"
        for x in v:
            err = _type_error(x, dt.elementType, f"{path}[]")
            if err:
                return err
        return None
    if isinstance(dt, StringType):
        return None if isinstance(v, str) else f"{path} must be a string"
    if isinstance(dt, IntegerType):
        ok = type(v) is int and -(2**31) <= v < 2**31
        return None if ok else f"{path} must be a 32-bit integer"
    raise TypeError(f"no check for {dt.simpleString()} at {path}")


def _ok(payload: Any, status: int = 200) -> dict:
    return {"status": status, "data": payload}


def _err(e: EngineError) -> dict:
    return {"status": e.status_code, "error": str(e)}


class Facade:
    def __init__(self, engine: Engine) -> None:
        self.engine = engine

    # -- ingest (DTO → entity) ---------------------------------------------

    def create_library(self, body: dict) -> dict:
        try:
            cfg = None
            if "index_config" in body:
                ic = dict(body["index_config"])
                cfg = IndexConfig(ic.pop("type", "flat"), ic)
            lib_id = self.engine.create_library(
                name=body["name"],
                embedding_dim=int(body["embedding_dim"]),
                index_config=cfg,
                library_id=body.get("id"),
            )
            return _ok({"id": lib_id}, 201)
        except EngineError as e:
            return _err(e)

    def create_document(self, library_id: str, body: dict) -> dict:
        """routers/documents.py:68-80 POST — reference DocumentCreate
        carries optional ``metadata`` (api/dto.py:88-89)."""
        try:
            unknown = set(body) - {"id", "metadata"}
            if unknown:
                raise ValidationError(f"unknown fields: {sorted(unknown)}")
            doc_id = self.engine.create_document(
                library_id, body.get("id"), metadata=body.get("metadata")
            )
            return _ok({"id": doc_id}, 201)
        except EngineError as e:
            return _err(e)

    @staticmethod
    def _validate_chunks(chunks: list[dict]) -> None:
        """ONE definition of chunk-DTO validation (extra='forbid' parity)
        shared by the bulk route and the with-chunks route — two copies
        here previously meant a rule change in one could let with-chunks
        pre-validate OK and then have the bulk upsert reject mid-flight.

        Embeddings are coerced to float IN PLACE (Pydantic ``list[float]``
        parity — JSON clients legitimately send ``[1.0, 0, 0, 0]``, and the
        ints would otherwise surface as a 500 from Spark's FloatType row
        check instead of either working or a 422). A NaN or infinite
        value is a 422: a NaN vector would rank first in every flat search
        of its library, while the IVF kernels skip it.

        Every other field, the metadata object's keys and types included,
        is checked against ``CHUNK_IN_SCHEMA``: the rows become an Arrow
        table, which would truncate ``position: 1.5`` to 1 and answer
        ``position: "x"`` with a 500."""
        struct = _chunk_in_struct()
        for c in chunks:
            unknown = set(c) - set(CHUNK_IN_FIELDS)
            if unknown:
                raise ValidationError(f"unknown chunk fields: {sorted(unknown)}")
            if not c.get("text"):
                raise ValidationError("chunk.text must be non-empty")
            emb = c.get("embedding")
            if emb is not None:
                if not isinstance(emb, (list, tuple)):
                    raise ValidationError(
                        "chunk.embedding must be a list of numbers")
                try:
                    c["embedding"] = [float(x) for x in emb]
                except (TypeError, ValueError):
                    raise ValidationError(
                        "chunk.embedding must be a list of numbers")
                if not all(math.isfinite(x) for x in c["embedding"]):
                    raise ValidationError(
                        "chunk.embedding must be finite numbers")
            for f in struct.fields:
                if f.name != "embedding":  # coerced above
                    err = _type_error(c.get(f.name), f.dataType, f"chunk.{f.name}")
                    if err:
                        raise ValidationError(err)

    def upsert_chunk(self, library_id: str, document_id: str, body: dict) -> dict:
        """routers/chunks.py:62-77 POST /libraries/{lib}/documents/{doc}/chunks
        — create or update ONE chunk (id optional). The reference returns
        the full ChunkOut: the stored row, without its embedding, which the
        engine builds from the request and the write (no read-back)."""
        try:
            self._validate_chunks([body])
            return _ok(self.engine.upsert_chunk(library_id, document_id, body), 200)
        except EngineError as e:
            return _err(e)

    def delete_chunk(self, library_id: str, document_id: str, chunk_id: str) -> dict:
        """routers/chunks.py:95-107 DELETE .../chunks/{chunk_id} — 204
        always (missing or wrong-library chunk is a silent no-op,
        services/chunk.py:120-122). ``document_id`` is part of the route
        shape only; the reference ignores it for the lookup too."""
        try:
            self.engine.delete_chunk(library_id, chunk_id)
            return _ok(None, 204)
        except EngineError as e:
            return _err(e)

    def list_libraries(self, offset: int = 0, limit: int = 50) -> dict:
        """routers/libraries.py:62-82 GET /libraries — Page + has_more."""
        try:
            if not (0 < limit <= 1000) or offset < 0:
                raise ValidationError("limit must be in (0, 1000] and offset >= 0")
            page, has_more = self.engine.list_libraries(offset=offset, limit=limit)
            return _ok({
                "items": [r.asDict(recursive=True) for r in page.collect()],
                "page": {"limit": limit, "offset": offset, "has_more": has_more},
            })
        except EngineError as e:
            return _err(e)

    def rebuild_index(self, library_id: str) -> dict:
        """routers/libraries.py:110-123 POST /libraries/{id}/rebuild-index —
        rebuild under the CURRENT config (no config change), returning
        {library_id, index_type, rebuild_at}."""
        try:
            from datetime import datetime, timezone

            desc = self.engine.rebuild_index(library_id)
            return _ok({
                "library_id": library_id,
                "index_type": desc["type"],
                "rebuild_at": datetime.now(timezone.utc).isoformat(),
            })
        except EngineError as e:
            return _err(e)

    def bulk_upsert_chunks(self, library_id: str, chunks: list[dict]) -> dict:
        """routers/chunks.py:79-92 — JSON chunk list → validated batch."""
        try:
            self._validate_chunks(chunks)
            rows = [tuple(c.get(f) for f in CHUNK_IN_FIELDS) for c in chunks]
            df = local_frame(self.engine.spark, rows, CHUNK_IN_SCHEMA)
            if len(rows) > Engine.GLOBAL_ID_CHECK_MAX_DRIVER_IDS:
                # the engine collects a smaller batch and writes it as one
                # partition; a larger one keeps the request's frame, and a
                # local relation spreads its rows over every core: each
                # slice would become one more file of the library partition
                df = df.coalesce(1)
            self.engine.upsert_chunks(library_id, df)
            return _ok({"upserted": len(chunks)})
        except EngineError as e:
            return _err(e)

    def delete_library(self, library_id: str) -> dict:
        """routers/libraries.py DELETE — cascading (documents + chunks)."""
        try:
            self.engine.delete_library(library_id)
            return _ok(None, 204)
        except EngineError as e:
            return _err(e)

    def delete_document(self, library_id: str, document_id: str) -> dict:
        """routers/documents.py:149-158 DELETE — scoped to the library."""
        try:
            self.engine.delete_document(library_id, document_id)
            return _ok(None, 204)
        except EngineError as e:
            return _err(e)

    def move_document(self, library_id: str, document_id: str, body: dict) -> dict:
        """routers/documents.py:138-147 POST {doc}:move. The reference DTO
        field is ``dst_library_id`` (api/dto.py MoveDocumentIn:176-179);
        ``to_library_id`` is accepted as an alias for earlier clients of
        this engine."""
        try:
            dst = body.get("dst_library_id") or body.get("to_library_id")
            if not dst:
                raise ValidationError("dst_library_id is required")
            self.engine.move_document(document_id, library_id, dst)
            return _ok({"document_id": document_id, "library_id": dst})
        except EngineError as e:
            return _err(e)

    def update_index_config(self, library_id: str, body: dict) -> dict:
        """routers/libraries.py:93-122 PATCH index-config → rebuild+swap."""
        try:
            unknown = set(body) - {"type", "params"}
            if unknown:
                raise ValidationError(f"unknown fields: {sorted(unknown)}")
            cfg = IndexConfig(body.get("type", "flat"), dict(body.get("params") or {}))
            out = self.engine.update_index_config(library_id, cfg)
            return _ok(out)
        except EngineError as e:
            return _err(e)

    def create_document_with_chunks(self, library_id: str, body: dict) -> dict:
        """routers/documents.py:82-101 POST /with-chunks — one call creates
        the document and bulk-upserts its chunks. Reference DTO parity
        (api/dto.py DocumentCreateWithChunks:96-97): inherits optional
        ``metadata`` from DocumentCreate, and ``chunks`` has min_items=1.
        Chunk dicts are validated BEFORE the document row is written, and
        document + chunks commit in ONE store transaction (single atomic
        catalog flip) — a failure anywhere rolls back the staged document
        write, so a non-201 response never leaves an orphan doc behind and
        a crash mid-call never publishes the doc without its chunks."""

        class _Abort(Exception):
            def __init__(self, resp: dict) -> None:
                self.resp = resp

        try:
            unknown = set(body) - {"id", "metadata", "chunks"}
            if unknown:
                raise ValidationError(f"unknown fields: {sorted(unknown)}")
            chunks_in = body.get("chunks") or []
            if not chunks_in:
                raise ValidationError("at least one chunk is required")
            self._validate_chunks(chunks_in)  # validate before creating anything
            # the engine's write lock spans the transaction: no other write
            # of this engine may allocate a version between its two writes
            with self.engine.write_lock, self.engine.store.transaction():
                doc = self.create_document(
                    library_id,
                    {k: body[k] for k in ("id", "metadata") if body.get(k) is not None},
                )
                if doc["status"] != 201:
                    raise _Abort(doc)  # nothing staged yet — clean unwind
                doc_id = doc["data"]["id"]
                chunks = [dict(c, document_id=doc_id) for c in chunks_in]
                up = self.bulk_upsert_chunks(library_id, chunks)
                if up["status"] != 200:
                    raise _Abort(up)  # rolls back the staged document row
            return _ok({"id": doc_id, "chunks": len(chunks)}, 201)
        except _Abort as a:
            return a.resp
        except EngineError as e:
            return _err(e)

    def update_document_metadata(
        self, document_id: str, body: dict
    ) -> dict:
        """routers/documents.py PATCH metadata — CAS field-wise overwrite."""
        try:
            if "expected_version" not in body:
                raise ValidationError("expected_version is required")
            fields = {k: v for k, v in body.items() if k != "expected_version"}
            self.engine.update_document_metadata(
                document_id, fields, int(body["expected_version"])
            )
            return _ok({"id": document_id})
        except EngineError as e:
            return _err(e)

    def ingest_document(self, library_id: str, body: dict) -> dict:
        """Raw-text ingest: chunk → embed → upsert in one call (engine
        extension; the reference ingests pre-made chunks only)."""
        try:
            unknown = set(body) - {"text", "document_id", "chunk_tokens", "stride"}
            if unknown:
                raise ValidationError(f"unknown fields: {sorted(unknown)}")
            out = self.engine.ingest_document_text(
                library_id,
                body.get("text", ""),
                document_id=body.get("document_id"),
                chunk_tokens=int(body.get("chunk_tokens", 64)),
                stride=int(body.get("stride", 48)),
            )
            return _ok(out, 201)
        except EngineError as e:
            return _err(e)

    # -- point gets (repos point lookups, repos/chunks.py:24-26 etc.) -------

    def _point_get(
        self, table: str, entity_id: str, library_id: str | None = None
    ) -> dict:
        """Single-entity fetch. When the caller knows the ``library_id``
        (e.g. it is part of the route), pass it: the read then lists only
        that library's partition directories at manifest level instead of
        scanning the whole table (r6 review — the single-chunk upsert echo
        was paying a full-table scan per request)."""
        parts = [library_id] if library_id is not None else None
        df = self.engine.store.read(table, partitions=parts).filter(
            F.col("id") == entity_id
        )
        if library_id is not None:
            # residual predicate, not just pruning: on an _ALL/legacy
            # manifest store.read() cannot prune, and the wrong-library 404
            # semantics must hold there too (r6 review)
            df = df.filter(F.col("library_id") == library_id)
        rows = df.drop("embedding").collect()
        if not rows:
            return {"status": 404, "error": f"{table[:-1]} {entity_id!r} not found"}
        return _ok(rows[0].asDict(recursive=True))

    def get_library(self, library_id: str) -> dict:
        """Point get + index-config param echo: the stored flat struct is
        reshaped into the reference's nested ``IndexConfigOut`` — ``{type,
        lsh: {…}|null, ivf: {…}|null}`` with every parameter round-tripped
        (routers/libraries.py:24-31, api/dto.py:36-49 incl. the
        ``max_kmeans_iters`` field the reference accepts but never executes
        — this engine honors it at rebuild, lifecycle.py DEFAULTS note)."""
        out = self._point_get("libraries", library_id)
        if "data" in out:
            out["data"]["index_config"] = IndexConfig.reply(
                out["data"].get("index_config")
            )
        return out

    def get_document(
        self, document_id: str, library_id: str | None = None
    ) -> dict:
        """Point get. With ``library_id`` this is the reference's nested
        route GET /libraries/{lib}/documents/{doc}
        (routers/documents.py:128-136): the read lists ONLY that library's
        partition, and a document homed elsewhere is simply absent from it
        — the same 404 the reference's ``doc.library_id != lib_id`` check
        produces (services/document.py get), for O(partition) IO. The flat
        variant (library unknown) remains an engine extension."""
        return self._point_get("documents", document_id, library_id=library_id)

    def get_chunk(self, chunk_id: str, library_id: str | None = None) -> dict:
        return self._point_get("chunks", chunk_id, library_id=library_id)

    # -- listing + search (response shaping) --------------------------------

    def list_documents(self, library_id: str, **kw) -> dict:
        try:
            page, has_more = self.engine.list_documents(library_id, **kw)
            return _ok({
                "items": [r.asDict(recursive=True) for r in page.collect()],
                "has_more": has_more,
            })
        except EngineError as e:
            return _err(e)

    def search(self, library_id: str, body: dict) -> dict:
        """routers/search.py:20-44 — SearchIn DTO → hits list."""
        try:
            filters = body.get("filters") or {}
            qe = body.get("query_embedding")
            try:
                qe = [float(x) for x in qe or []]
            except (TypeError, ValueError):
                raise ValidationError(
                    "query_embedding must be a list of numbers")
            hits = self.engine.search(
                library_id,
                qe,
                k=body.get("k", 10),
                metric=body.get("metric", "cosine"),
                doc_ids=filters.get("doc_ids"),
                tags=filters.get("tags"),
                author=filters.get("author"),
                created_after=filters.get("created_after"),
            )
            return _ok({
                "hits": [
                    {"chunk_id": r["id"], "document_id": r["document_id"],
                     "score": r["score"], "text": r["text"]}
                    for r in hits
                ]
            })
        except EngineError as e:
            return _err(e)

    # -- health (routers/health.py parity) ----------------------------------

    def health(self) -> dict:
        """Liveness + readiness in one cheap call (reference
        api/routers/health.py returns {timestamp, details}). Deliberately
        NO Spark job: the details are the store's live snapshot pointers
        (one tiny file read per table) — if those resolve, readers have a
        consistent view; row-count scans don't belong in a probe that load
        balancers hit every few seconds."""
        from datetime import datetime, timezone

        versions = {
            t: self.engine.store.current_version(t)
            for t in ("libraries", "documents", "chunks")
        }
        return _ok({
            "status": "ok",
            "timestamp": datetime.now(timezone.utc).isoformat(),
            "details": {"table_versions": versions},
        })
