"""Composed services — the reference's service layer
(services/search.py:18-75, services/chunk.py:23-139,
services/document.py:24-212, services/library.py:24-119) over the
EntityStore + IndexLifecycle.

Each service validates (error taxonomy 404/409/422 via api.errors), computes
the mutation as a pure DataFrame rewrite (operators.mutations), persists via
the store's atomic publish, and keeps the library's index fresh. The
reference's per-entity locks disappear: snapshot tables + atomic pointer
flips give readers isolation for free.

Fixed reference quirks (SURVEY.md §2.10): upserting an embedding onto a
previously-unembedded chunk DOES reach the index here (the index delta runs
on the written batch, not gated on the old row's embedding), and LSH update
is a real rehash, not a silent no-op.
"""

from __future__ import annotations

import functools
import logging
import math
import threading
import time
import uuid
from collections.abc import Sequence
from datetime import datetime

import numpy as np

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from vector_db_api_spark.api.errors import ConflictError, NotFoundError, ValidationError
from vector_db_api_spark.functions import vector as V
from vector_db_api_spark.lifecycle import DEFAULT_LAYOUT, IndexConfig, IndexLifecycle
from vector_db_api_spark.operators import mutations as M
from vector_db_api_spark.operators.knn import (
    apply_post_filters, knn_scores, row_post_filter, top_k_order,
)
from vector_db_api_spark.operators.listing import list_page, page_stats
from vector_db_api_spark.session import local_frame
from vector_db_api_spark.sources import bloom as B
from vector_db_api_spark.sources.store import CHUNKS_DDL, EntityStore, PartitionRows

_log = logging.getLogger(__name__)

#: a chunk as a client sends it: the chunks table without its bookkeeping
#: columns (created_at, updated_at, version)
CHUNK_IN_SCHEMA = (
    "id string, library_id string, document_id string, position int, "
    "text string, embedding array<float>, "
    "metadata struct<source_uri:string,author:string,lang:string,"
    "mime_type:string,tags:array<string>,page_number:int,token_count:int,"
    "sha256:string>"
)

_NON_FINITE = "{} chunk(s) have NaN, infinite or NULL embedding values"
_ORPHAN = "{} chunk(s) reference documents not in library {!r}"

MAX_K = 1000          # api/dto.py:153
MAX_EMBEDDING_DIM = 8192  # models/entities.py:54-60
METRICS = V.METRICS


def _writes(method):
    """Run an Engine mutation under the engine's write lock."""
    @functools.wraps(method)
    def locked(self, *args, **kwargs):
        with self.write_lock:
            return method(self, *args, **kwargs)
    return locked


class Engine:
    """One store + one index catalog + the four services' operations."""

    def __init__(
        self, spark: SparkSession, root: str, heal_on_start: bool = True
    ) -> None:
        self.spark = spark
        self.store = EntityStore(spark, root)
        self.indexes = IndexLifecycle(spark, f"{root}/_indexes")
        # startup heal (reference main.py bootstrap parity): a writer that
        # crashed between the generation write and the pointer flip leaves
        # debris that would errorifexists-wedge the next mutation. The
        # engine is the table's single writer, so construction is the safe
        # moment to clear unpublished leftovers. Pass heal_on_start=False
        # when several engines share one store root (DEPLOYMENT.md,
        # "Concurrent writes"): a sibling engine's in-flight generation
        # is indistinguishable from crash debris, so only the deployment's
        # designated bootstrap process should heal.
        if heal_on_start:
            for table in ("libraries", "documents", "chunks"):
                self.store.heal(table)
        # (committed libraries version, {id: Row}) — see _library_rows
        self._libraries: tuple[int | None, dict] | None = None
        # Every mutation holds this lock, so the writes of one engine run
        # one at a time: each allocates the next table-wide version, and the
        # store's driver caches (id sidecars, document-id sets) are derived
        # write by write. Reentrant, so a caller can hold it across several
        # mutations, as Facade.create_document_with_chunks does around its
        # transaction. Readers do not take it.
        self.write_lock = threading.RLock()

    # -- helpers -------------------------------------------------------------

    def _library_rows(self) -> dict:
        """{id: Row} of the libraries snapshot, collected once per committed
        version. The catalog is read on every call, so a commit by this or
        a sibling engine is seen at once. The cached rows are read from the
        committed version they are keyed by, never from the store's current
        version: a version staged by an open transaction — which any thread
        sharing the store sees — can be rolled back and its number reused
        for other rows. While a transaction has staged one, the staged rows
        are read uncached (read-your-writes)."""
        def collect(version: int | None = None) -> dict:
            rows = self.store.read("libraries", version=version).collect()
            return {r["id"]: r for r in rows}

        if self.store.staged("libraries"):
            return collect()
        v = self.store.committed_version("libraries")
        if self._libraries is None or self._libraries[0] != v:
            self._libraries = (v, collect(v) if v is not None else {})
        return self._libraries[1]

    def _get_library_row(self, library_id: str):
        row = self._library_rows().get(library_id)
        if row is None:
            raise NotFoundError(f"library {library_id!r} not found")  # 404
        return row

    def _library_chunks(self, library_id: str) -> DataFrame:
        # manifest-level partition pruning: only this library's directories
        # are even LISTED (store.read(partitions=...)); the residual filter
        # keeps the predicate visible to Catalyst for row-group stats.
        return self.store.read("chunks", partitions=[library_id]).filter(
            F.col("library_id") == library_id
        )

    def _library_documents(self, library_id: str) -> DataFrame:
        return self.store.read("documents", partitions=[library_id]).filter(
            F.col("library_id") == library_id
        )

    def _candidate_partitions(self, table: str, ids) -> list | None:
        """Partitions that MIGHT hold any of ``ids``, from the per-partition
        bloom sidecars — driver-side, no Spark jobs. None means "can't
        prune" (no per-partition manifest yet); [] means provably nowhere."""
        blooms = self.store.partition_blooms(table)
        if not blooms:
            return None if self.store.current_version(table) is not None else []
        hashed = [B.hash_pair(str(i)) for i in ids]
        return [
            part
            for part, bloom in blooms.items()
            if bloom is None
            or any(B.might_contain_hashed(bloom, h1, h2) for h1, h2 in hashed)
        ]

    def _id_exists(self, table: str, id_: str) -> bool:
        """Point existence probe by globally-unique id: bloom-pruned to the
        candidate partitions (usually zero or one) instead of a full-table
        listing."""
        parts = self._candidate_partitions(table, [id_])
        if parts == []:
            return False
        df = self.store.read(table, partitions=parts)
        return not df.filter(F.col("id") == id_).isEmpty()

    # -- LibraryService ------------------------------------------------------

    @_writes
    def create_library(
        self,
        name: str,
        embedding_dim: int,
        index_config: IndexConfig | None = None,
        library_id: str | None = None,
    ) -> str:
        if not (0 < embedding_dim <= MAX_EMBEDDING_DIM):
            raise ValidationError(f"embedding_dim must be in (0, {MAX_EMBEDDING_DIM}]")
        cfg = index_config or IndexConfig()
        lib_id = library_id or str(uuid.uuid4())
        row = self.spark.sql(
            "SELECT {id} AS id, {name} AS name, {dim} AS embedding_dim, "
            "CAST(NULL AS struct<source_uri:string,author:string,lang:string,"
            "mime_type:string,tags:array<string>,description:string>) AS metadata, "
            "current_timestamp() AS created_at, current_timestamp() AS updated_at, "
            "1 AS version",
            id=lib_id, name=name, dim=embedding_dim,
        ).withColumn("index_config", cfg.to_column())
        self.store.write("libraries", self.store.read("libraries").unionByName(row))
        return lib_id

    @_writes
    def update_index_config(self, library_id: str, config: IndexConfig) -> dict:
        """Config swap → full rebuild → atomic publish
        (services/library.py:58-93). The reference's ``update_config`` also
        PERSISTS the new config on the library row (version bump) — so a
        later parameterless rebuild-index re-applies it; mirrored here.

        Ordering (r6 review): the config is persisted BEFORE the index
        rebuild. The store and the index registry publish independently, so
        one of the two can always land without the other on a crash; with
        config-first, the failure mode is "stored intent new, live index
        stale", which the next parameterless ``rebuild_index`` repairs by
        re-applying the stored config. The old rebuild-first order failed
        the other way — a live index whose config change was LOST, which
        rebuild-index would then silently revert."""
        lib = self._get_library_row(library_id)
        new_cfg = config.to_column()
        is_target = F.col("id") == library_id
        libs = (
            self.store.read("libraries")
            .withColumn(
                "index_config",
                F.when(is_target, new_cfg).otherwise(F.col("index_config")),
            )
            .withColumn(
                "version",
                F.when(is_target, F.col("version") + 1).otherwise(F.col("version")),
            )
            .withColumn(
                "updated_at",
                F.when(is_target, F.current_timestamp()).otherwise(
                    F.col("updated_at")
                ),
            )
        )
        self.store.write("libraries", libs)
        return self.indexes.rebuild(
            library_id,
            self._library_chunks(library_id),
            config,
            lib["embedding_dim"],
        )

    def list_libraries(self, offset: int = 0, limit: int = 50):
        """GET /libraries page (routers/libraries.py:62-82): name-ordered
        page + has_more probe. Returns (page_df, has_more)."""
        libs = self.store.read("libraries")
        order = [F.col("name").asc(), F.col("id").asc()]
        page = list_page(libs, order, offset=offset, limit=limit)
        _, more = page_stats(libs, offset=offset, limit=limit)
        return page, more

    @_writes
    def rebuild_index(self, library_id: str) -> dict:
        """POST /libraries/{id}/rebuild-index (routers/libraries.py:110-123):
        rebuild under the CURRENT stored config — the reference re-applies
        ``lib.index_config`` unchanged; here the stored flat struct is
        re-hydrated into an IndexConfig and handed to the same
        rebuild-and-swap path as a config change."""
        lib = self._get_library_row(library_id)
        cfg = IndexConfig.from_row(lib["index_config"])
        return self.indexes.rebuild(
            library_id, self._library_chunks(library_id), cfg, lib["embedding_dim"]
        )

    @_writes
    def delete_library(self, library_id: str) -> None:
        """Cascade delete (services/library.py:95-119). ``libraries`` is a
        tiny catalog table → full rewrite; ``documents``/``chunks`` are
        partitioned by library_id → the cascade is a copy-on-write partition
        DROP (empty content for the touched partition), no other library's
        data is read or rewritten."""
        self._get_library_row(library_id)
        libs = self.store.read("libraries").filter(F.col("id") != library_id)
        from vector_db_api_spark.sources.store import DOCUMENTS_DDL

        empty_docs = local_frame(self.spark, [], DOCUMENTS_DDL)
        empty_chunks = local_frame(self.spark, [], CHUNKS_DDL)
        # one atomic commit for all three tables — a crash can never leave
        # the library gone but its documents/chunks still visible (the
        # reference's single-lock cascade, services/library.py:95-119)
        with self.store.transaction():
            self.store.write("libraries", libs)
            self.store.write_partitions("documents", empty_docs, [library_id])
            self.store.write_partitions("chunks", empty_chunks, [library_id])
            # registry.remove parity (indexing/registry.py:41-44): the
            # index catalog entry dies with the library — post-commit so a
            # rollback keeps the index serving the still-live library
            self.store.after_commit(lambda: self.indexes.drop(library_id))

    # -- DocumentService -----------------------------------------------------

    DOC_META_FIELDS = (
        "source_uri", "author", "lang", "mime_type", "tags", "title",
        "summary", "sha256",
    )

    @_writes
    def create_document(
        self,
        library_id: str,
        document_id: str | None = None,
        metadata: dict | None = None,
    ) -> str:
        """Create a document row; ``metadata`` mirrors the reference
        DocumentCreate DTO (api/dto.py:88-89) — optional, unknown fields
        rejected 422 (extra='forbid' parity, models/entities.py). A caller-
        supplied id that already exists is a 409 (ConflictError taxonomy,
        services/document.py:99) — without this check a duplicate create
        would append a second row, and with-chunks' failure rollback could
        then cascade-delete the PRE-EXISTING document's chunks."""
        self._get_library_row(library_id)
        doc_id = document_id or str(uuid.uuid4())
        if document_id is not None:
            if self._id_exists("documents", doc_id):  # bloom-pruned probe
                raise ConflictError(f"document {doc_id!r} already exists")
        row = self.spark.sql(
            "SELECT {id} AS id, {lib} AS library_id, "
            "CAST(NULL AS struct<source_uri:string,author:string,lang:string,"
            "mime_type:string,tags:array<string>,title:string,summary:string,"
            "sha256:string>) AS metadata, "
            "current_timestamp() AS created_at, current_timestamp() AS updated_at, "
            "1 AS version",
            id=doc_id, lib=library_id,
        )
        if metadata is not None:
            unknown = set(metadata) - set(self.DOC_META_FIELDS)
            if unknown:
                raise ValidationError(
                    f"unknown metadata fields: {sorted(unknown)}"
                )
            tags = metadata.get("tags")
            if tags is not None:
                # DTO parity: tags is List[str] — a scalar/str here would
                # either TypeError out of the 422 taxonomy or iterate
                # char-wise; an empty list must store [] rather than NULL
                if isinstance(tags, str) or not isinstance(tags, (list, tuple)):
                    raise ValidationError("metadata.tags must be a list of strings")
                tags = [str(t) for t in tags]
            meta_col = F.struct(
                *[
                    (
                        F.array(*[F.lit(t) for t in tags]).cast("array<string>")
                        if f == "tags" and tags is not None
                        else F.lit(metadata.get(f) if f != "tags" else None).cast(
                            "array<string>" if f == "tags" else "string"
                        )
                    ).alias(f)
                    for f in self.DOC_META_FIELDS
                ]
            )
            row = row.withColumn("metadata", meta_col)
        # copy-on-write append: only this library's partition is rewritten
        self.store.write_partitions(
            "documents",
            self._library_documents(library_id).unionByName(row),
            [library_id],
            adds=[doc_id],
        )
        return doc_id

    @_writes
    def ingest_document_text(
        self,
        library_id: str,
        text: str,
        document_id: str | None = None,
        chunk_tokens: int = 64,
        stride: int = 48,
        embedder=None,
    ) -> dict:
        """Raw text in, searchable chunks out — the full RAG write path
        composed from the engine's own operators: create the document row,
        ``chunk_documents`` (token windows + stride), ``embed_texts`` at
        the library's embedding_dim, then the validated ``upsert_chunks``
        (which also applies the live index delta). The reference leaves
        chunking/embedding to the caller (chunks arrive pre-made,
        routers/chunks.py:79-92); here it is one engine call.

        ``embedder``: batch fn texts->ndarray (the Cohere-integration
        shape); defaults to the deterministic in-container stand-in.
        """
        from vector_db_api_spark.operators.chunking import chunk_documents
        from vector_db_api_spark.operators.embed import embed_texts, fake_md5_embedder

        if not text or not text.strip():
            raise ValidationError("text must be non-empty")  # 422
        lib = self._get_library_row(library_id)  # 404
        dim = lib["embedding_dim"]
        doc_id = self.create_document(library_id, document_id)
        one = local_frame(
            self.spark, [(doc_id, text)], "document_id string, text string"
        )
        chunks = chunk_documents(
            one, chunk_tokens, stride, id_col="document_id"
        ).withColumn(
            "id",
            F.concat(F.col("document_id"), F.lit(":"), F.col("position")),
        )
        embedded = embed_texts(
            chunks,
            dim=dim,
            id_col="id",
            text_col="chunk_text",
            model_fn=embedder or fake_md5_embedder(dim),
        )
        shaped = (
            chunks.join(embedded, "id")
            .select(
                "id",
                F.lit(library_id).alias("library_id"),
                "document_id",
                "position",
                F.col("chunk_text").alias("text"),
                F.col("embedding").cast("array<float>").alias("embedding"),
                F.struct(
                    F.lit(None).cast("string").alias("source_uri"),
                    F.lit(None).cast("string").alias("author"),
                    F.lit(None).cast("string").alias("lang"),
                    F.lit(None).cast("string").alias("mime_type"),
                    F.lit(None).cast("array<string>").alias("tags"),
                    F.lit(None).cast("int").alias("page_number"),
                    F.col("n_tokens").alias("token_count"),
                    F.sha2(F.col("chunk_text"), 256).alias("sha256"),
                ).alias("metadata"),
            )
        )
        n = self.upsert_chunks(library_id, shaped)
        return {"document_id": doc_id, "chunks": n}

    @_writes
    def delete_document(self, library_id: str, doc_id: str) -> None:
        """Scoped cascade delete (services/document.py:139-158): silently
        no-ops unless the document exists AND belongs to ``library_id`` — a
        wrong-library call must never cascade into another library's data."""
        # partition-pruned existence probe: only this library's partition is
        # listed — a doc homed elsewhere is absent from it, which IS the
        # wrong-library no-op semantics (services/document.py:141-142)
        absent = (
            self.store.read("documents", partitions=[library_id])
            .filter((F.col("id") == doc_id) & (F.col("library_id") == library_id))
            .isEmpty()
        )
        if absent:
            return  # reference returns silently — services/document.py:141-142
        # chunk.library_id == its document's library_id is a store invariant
        # (upsert forces it, move rewrites both) → the cascade touches
        # exactly ONE partition per table; everything else is re-referenced.
        docs, chunks = M.delete_documents(
            self._library_documents(library_id),
            self._library_chunks(library_id),
            [doc_id],
        )
        # doomed chunk ids for the index tombstones, captured over the OLD
        # snapshot's immutable files BEFORE the write publishes the new one
        # (the post-commit hook evaluates lazily, after the flip)
        doomed = self._library_chunks(library_id).filter(
            F.col("document_id") == doc_id
        ).select("id")
        # both tables commit in one catalog flip — never a deleted document
        # with its chunks still visible (or vice versa)
        with self.store.transaction():
            self.store.write_partitions("documents", docs, [library_id])
            self.store.write_partitions("chunks", chunks, [library_id])
            self.store.after_commit(
                lambda: self.indexes.remove(library_id, doomed)
            )

    @_writes
    def move_document(
        self, doc_id: str, src_library_id: str, dst_library_id: str
    ) -> None:
        """services/document.py:160-212 — re-home doc + chunks with the
        reference's full validation ladder: src != dst (422), both libraries
        exist (404), doc lives in src (404), every embedded chunk matches the
        destination's embedding_dim (422). Both live indexes follow the move
        post-commit: src tombstones the departed ids, dst absorbs them as a
        delta — no rebuild needed for the moved rows to be searchable."""
        if src_library_id == dst_library_id:
            raise ValidationError("source and destination libraries are the same")
        self._get_library_row(src_library_id)
        dst = self._get_library_row(dst_library_id)
        # the move touches exactly the src and dst partitions of both tables
        touched = [src_library_id, dst_library_id]
        docs = self.store.read("documents", partitions=touched)
        if docs.filter(
            (F.col("id") == doc_id) & (F.col("library_id") == src_library_id)
        ).isEmpty():
            raise NotFoundError(
                f"document {doc_id!r} not found in library {src_library_id!r}"
            )
        chunks = self.store.read("chunks", partitions=touched)
        bad_dim = chunks.filter(
            (F.col("document_id") == doc_id)
            & F.col("embedding").isNotNull()
            & (F.size("embedding") != dst["embedding_dim"])
        ).count()
        if bad_dim:
            raise ValidationError(
                f"{bad_dim} chunk(s) have embedding dim != destination "
                f"library dim {dst['embedding_dim']}"
            )  # 422 — services/document.py:193-195
        docs, chunks = M.move_document(docs, chunks, doc_id, dst_library_id)
        # the moved rows, as the destination partition will hold them —
        # built over the pre-move snapshot's immutable files, so the
        # post-commit hooks below read them safely after the flip
        moved = chunks.filter(
            (F.col("document_id") == doc_id)
            & (F.col("library_id") == dst_library_id)
        )
        # atomic re-home: a crash mid-move must never publish the document
        # in the destination while its chunks still sit in the source
        with self.store.transaction():
            self.store.write_partitions("documents", docs, touched)
            self.store.write_partitions("chunks", chunks, touched)
            # the index follows the move without a rebuild (improves on the
            # docstring's old "caller rebuilds" contract): the source index
            # tombstones the departed ids, the destination absorbs the
            # rows as a normal delta — both only after the commit flip
            self.store.after_commit(
                lambda: self.indexes.remove(src_library_id, moved.select("id"))
            )
            self.store.after_commit(
                lambda: self.indexes.apply_delta(dst_library_id, moved)
            )

    @_writes
    def update_document_metadata(
        self, doc_id: str, fields: dict, expected_version: int
    ) -> None:
        """Field-wise metadata overwrite under CAS
        (services/document.py:117-138): provided keys replace, the rest
        carry over; version must match (409) and the doc must exist (404)."""
        unknown = set(fields) - set(self.DOC_META_FIELDS)
        if unknown:
            raise ValidationError(f"unknown metadata fields: {sorted(unknown)}")
        # bloom-pruned like _id_exists: only the partitions whose sidecar
        # may hold the id are listed and read, not the whole table
        parts = self._candidate_partitions("documents", [doc_id])
        rows = [] if parts == [] else (
            self.store.read("documents", partitions=parts)
            .filter(F.col("id") == doc_id).collect()
        )
        if not rows:
            raise NotFoundError(f"document {doc_id!r} not found")
        if rows[0]["version"] != expected_version:
            raise ConflictError(
                f"document {doc_id!r} version {rows[0]['version']} != "
                f"expected {expected_version}"
            )

        def _lit(v):
            if isinstance(v, (list, tuple)):
                return F.array(*[F.lit(x) for x in v])
            return F.lit(v)

        new_meta = F.struct(
            *[
                (_lit(fields[f]) if f in fields else F.col(f"metadata.{f}")).alias(f)
                for f in self.DOC_META_FIELDS
            ]
        )
        lib_id = rows[0]["library_id"]  # partition scope of the rewrite
        docs = self._library_documents(lib_id)
        is_target = F.col("id") == doc_id
        updated = (
            docs.withColumn(
                "metadata", F.when(is_target, new_meta).otherwise(F.col("metadata"))
            )
            .withColumn(
                "version",
                F.when(is_target, F.col("version") + 1).otherwise(F.col("version")),
            )
            .withColumn(
                "updated_at",
                F.when(is_target, F.current_timestamp()).otherwise(F.col("updated_at")),
            )
        )
        self.store.write_partitions("documents", updated, [lib_id], adds=[])

    def list_documents(
        self,
        library_id: str,
        has_tag: str | None = None,
        created_after: datetime | None = None,
        sort_by: str = "created_at",
        ascending: bool = True,
        offset: int = 0,
        limit: int = 50,
    ):
        """repos/documents.py:22-47 parity + has_more probe
        (routers/libraries.py:69-75). Returns (page_df, has_more)."""
        docs = self._library_documents(library_id)
        filters = []
        if has_tag is not None:
            filters.append(F.array_contains(F.col("metadata.tags"), has_tag))
        if created_after is not None:
            filters.append(F.col("created_at") > F.lit(created_after))
        order = [
            F.col(sort_by).asc() if ascending else F.col(sort_by).desc(),
            F.col("id").asc(),
        ]
        page = list_page(docs, order, offset=offset, limit=limit, filters=filters)
        _, more = page_stats(docs, offset=offset, limit=limit, filters=filters)
        return page, more

    # -- ChunkService --------------------------------------------------------

    @_writes
    def upsert_chunks(
        self,
        library_id: str,
        incoming: DataFrame,
        orphan_error: type = NotFoundError,
    ) -> int:
        """Bulk upsert with full validation (services/chunk.py:76-116):
        library exists (404), embedding dims match and values are finite
        (422), chunks belong to existing documents of that library
        (404/422), ids live in no other library (409). ``library_id`` is
        FORCED onto every incoming row (services/chunk.py:95) — a row
        carrying another library's id must not land in the wrong partition.
        MERGE-style rewrite + version bump, then the written batch's index
        delta is appended to the live LSH/IVF index (the reference applies
        ``index.add``/``update`` per upsert, services/chunk.py:40-70) — see
        ``IndexLifecycle.apply_delta`` for why append-only is sufficient.
        Returns the number of rows upserted."""
        return self._upsert(library_id, incoming, orphan_error)[0]

    def _upsert(
        self,
        library_id: str,
        incoming: DataFrame,
        orphan_error: type,
        echo_id: str | None = None,
    ) -> tuple[int, dict | None]:
        """``upsert_chunks``; with ``echo_id``, also that id's stored row
        without its embedding: the request row as Spark holds it, plus the
        version and timestamps the MERGE wrote, observed during the write.

        A batch of at most GLOBAL_ID_CHECK_MAX_DRIVER_IDS rows is collected
        once — no job for a local relation — and continues as a local
        relation of those rows, so its lineage runs once. Every check then
        runs in Python on the collected rows, the index delta is assigned
        on the driver, and the chunks sidecar is derived from the previous
        one. A larger batch keeps the distributed checks."""
        lib = self._get_library_row(library_id)
        dim = lib["embedding_dim"]
        # the client columns, in CHUNK_IN_SCHEMA's order and types: the
        # collected rows below are positional
        incoming = incoming.select(*[
            (F.lit(library_id) if f.name == "library_id" else F.col(f.name))
            .cast(f.dataType).alias(f.name)
            for f in StructType.fromDDL(CHUNK_IN_SCHEMA).fields
        ])
        rows = incoming.limit(self.GLOBAL_ID_CHECK_MAX_DRIVER_IDS + 1).collect()
        if len(rows) > self.GLOBAL_ID_CHECK_MAX_DRIVER_IDS:
            rows, ids = None, None
            n = self._check_batch(library_id, incoming, dim, orphan_error)
        else:
            # one partition: a local relation spreads its rows over every
            # core, and each slice would become one more file of the
            # library partition this write rewrites
            incoming = local_frame(self.spark, rows, CHUNK_IN_SCHEMA).coalesce(1)
            ids = sorted({r["id"] for r in rows if r["id"] is not None})
            n = self._check_rows(library_id, rows, dim, orphan_error)
        # global id integrity: the reference keys chunks in ONE dict
        # (repos/chunks.py:8), so an id is globally unique. The
        # partition-scoped merge below only replaces ids within THIS
        # library — an id already living in another library would silently
        # become two rows. Reusing an id across libraries is rejected as a
        # 409 (deliberate, documented deviation from the reference's
        # implicit cross-library move, which would need an O(2-partition)
        # rewrite nobody asks for through this API).
        self._check_global_chunk_ids(library_id, incoming, ids)
        # copy-on-write merge: library_id is forced on every row above, so
        # the MERGE's scope is exactly one partition — only that partition
        # is read for the anti-join and only it is rewritten; a one-chunk
        # upsert on a 100 TB table is a KB-scale write (the reference's
        # per-library write lock, services/chunk.py:87-88, as IO scope).
        merged = M.upsert(self._library_chunks(library_id), incoming)
        # the stamps the MERGE wrote on one of its rows, observed during the
        # write: the echo's, and — all rows of one MERGE share one
        # current_timestamp() — the stamp of the partition's next snapshot
        # (EntityStore.partition_rows), which a batch of distinct ids derives
        derivable = rows is not None and bool(ids) and len(ids) == len(rows)
        stamp_id = echo_id
        if stamp_id is None and derivable:
            stamp_id = ids[0]
        stamps = derive = None
        if stamp_id is not None:
            stamps = Observation()
            mine = F.col("id") == stamp_id
            merged = merged.observe(stamps, *[
                F.max(F.when(mine, F.col(c))).alias(c)
                for c in ("created_at", "updated_at", "version")
            ], F.max(F.when(mine, F.unix_micros("updated_at"))).alias("stamp"))
        if derivable:
            def derive(prev: PartitionRows | None) -> PartitionRows:
                if prev is None:
                    prev = PartitionRows.empty(dim)
                return prev.merged([
                    (r["id"], r["document_id"], r["position"], r["text"],
                     *((None, None) if (m := r["metadata"]) is None
                       else (m["tags"], m["author"])), r["embedding"])
                    for r in rows
                ], stamps.get["stamp"])
        self.store.write_partitions(
            "chunks", merged, [library_id], adds=ids, rows=derive)
        # keep the live ANN index fresh: hash/assign ONLY the written batch.
        # Deferred through after_commit: inside a transaction
        # (Facade.create_document_with_chunks, which composes document
        # create + this bulk upsert in one store txn; the Engine-level
        # transactional callers are delete_library / delete_document /
        # move_document), the live index must not absorb a delta whose
        # chunk rows may yet roll back — the hook runs only after the
        # catalog flip publishes them (immediately when no transaction is
        # open).
        self.store.after_commit(
            lambda: self.indexes.apply_delta(library_id, incoming, rows=rows)
        )
        if echo_id is None:
            return n, None
        out = next(r for r in rows if r["id"] == echo_id).asDict(recursive=True)
        del out["embedding"]
        observed = dict(stamps.get)
        del observed["stamp"]
        return n, {**out, **observed}

    def _check_rows(
        self, library_id: str, rows: list, dim: int, orphan_error: type
    ) -> int:
        """The batch checks over collected rows, in Python: no job. The
        library's document ids are the store's cached set for its live
        documents partition."""
        embedded = [r["embedding"] for r in rows if r["embedding"] is not None]
        bad_dim = sum(len(e) != dim for e in embedded)
        if bad_dim:
            raise ValidationError(
                f"{bad_dim} chunk(s) have embedding dim != {dim}"
            )  # 422 — services/chunk.py:98-99
        non_finite = sum(
            not all(x is not None and math.isfinite(x) for x in e)
            for e in embedded
        )
        if non_finite:
            raise ValidationError(_NON_FINITE.format(non_finite))
        docs = self.store.partition_ids("documents", library_id)
        orphan = sum(r["document_id"] not in docs for r in rows)
        if orphan:
            raise orphan_error(_ORPHAN.format(orphan, library_id))
        return len(rows)

    def _check_batch(
        self, library_id: str, incoming: DataFrame, dim: int, orphan_error: type
    ) -> int:
        """The batch checks of :meth:`_check_rows` as Spark jobs, for a
        batch too large to collect."""
        emb = F.col("embedding")
        stats = incoming.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(emb.isNotNull() & (F.size(emb) != dim)).alias("bad_dim"),
            F.count_if(F.exists(emb, lambda x: x.isNull() | F.isnan(x)
                                | (F.abs(x) == float("inf")))).alias("non_finite"),
        ).first()
        if stats["bad_dim"]:
            raise ValidationError(
                f"{stats['bad_dim']} chunk(s) have embedding dim != {dim}"
            )  # 422 — services/chunk.py:98-99
        if stats["non_finite"]:
            raise ValidationError(_NON_FINITE.format(stats["non_finite"]))
        docs = self._library_documents(library_id)
        orphan = incoming.join(
            docs.select(F.col("id").alias("document_id")), "document_id", "left_anti"
        ).count()
        if orphan:
            # bulk surfaces orphans as 404 (services/chunk.py:77-83); the
            # single-chunk route passes ValidationError for the reference's
            # 422 'not found or not in library' (services/chunk.py:28-30)
            raise orphan_error(_ORPHAN.format(orphan, library_id))
        return stats["rows"]

    #: batches with more rows than this skip the driver-side checks — the
    #: collect, the bloom walk, the driver-side index delta — and run them
    #: as distributed jobs. 10k keeps the worst-case pure-Python bloom walk
    #: at ~10k ids × partitions × k bit probes (100k ids on a 1000-library
    #: store was ~10^9 probes — slower than just running the semi-join)
    GLOBAL_ID_CHECK_MAX_DRIVER_IDS = B.MAX_DRIVER_IDS

    #: verify scans with more ids than this use a left_semi join instead of
    #: an ``isin`` literal list (a 10k-literal In-expression bloats the plan
    #: and codegen; the semi-join broadcasts the tiny id frame instead)
    GLOBAL_ID_CHECK_MAX_ISIN_IDS = 1_000

    def _check_global_chunk_ids(
        self, library_id: str, incoming: DataFrame, ids: list | None
    ) -> None:
        """409 when any incoming id already lives in ANOTHER library.

        Scale path (r6 advice: the old check listed every partition and
        opened parquet footers on each one-row upsert): each partition dir
        carries an exact ``_ID_BLOOM.json`` sidecar (sources/bloom.py),
        so the steady-state check is a DRIVER-SIDE walk of the live
        manifest's cached blooms — zero Spark jobs, zero listing. Only a
        bloom hit (a true duplicate, or a ~0.3% false positive) pays a
        partition-pruned verify scan of that one partition; partitions
        without a sidecar (legacy generations) join the verify scan too.
        ``ids`` is None for a batch over GLOBAL_ID_CHECK_MAX_DRIVER_IDS
        rows, which uses the distributed semi-join instead (collecting
        millions of ids to walk blooms would itself be the bottleneck)."""
        if ids is None:
            others = self.store.read("chunks").filter(
                F.col("library_id") != library_id
            )
            # no broadcast hint here: this branch only runs above
            # GLOBAL_ID_CHECK_MAX_DRIVER_IDS rows, so the id frame is
            # unbounded (a bulk load can carry millions) — let AQE pick
            # broadcast vs shuffle from the measured size at runtime
            clean = others.join(
                incoming.select("id").distinct(), "id", "left_semi"
            ).isEmpty()
            if not clean:
                raise ConflictError("chunk id(s) already exist in another library")
            return
        cand = self._candidate_partitions("chunks", ids)
        suspects = (
            None if cand is None  # legacy _ALL snapshot: unpruned scan
            else [p for p in cand if p != str(library_id)]
        )
        if suspects == []:
            return  # every other partition's bloom excludes every id
        others = self.store.read("chunks", partitions=suspects).filter(
            F.col("library_id") != library_id
        )
        if len(ids) > self.GLOBAL_ID_CHECK_MAX_ISIN_IDS:
            # bounded branch (≤ GLOBAL_ID_CHECK_MAX_DRIVER_IDS ids): the id
            # frame is provably tiny, so hint the broadcast explicitly —
            # without stats Spark can otherwise plan a sort-merge join
            clean = others.join(
                F.broadcast(incoming.select("id").distinct()), "id", "left_semi"
            ).isEmpty()
        else:
            clean = others.filter(F.col("id").isin(ids)).isEmpty()
        if not clean:
            raise ConflictError(
                "chunk id(s) already exist in another library"
            )  # 409 — global-id invariant (repos/chunks.py:8)

    @_writes
    def upsert_chunk(
        self,
        library_id: str,
        document_id: str,
        chunk: dict,
    ) -> dict:
        """Single-chunk upsert (routers/chunks.py:62-77 + services/
        chunk.py:23-74): id optional (uuid4 when absent); the document must
        exist AND belong to the library (the reference raises
        ValidationError here, not NotFound — services/chunk.py:28-30); dim
        checked against the library. Rides the same validated bulk path with
        a 1-row frame, so the written partition delta is one row and the
        live index delta is applied.

        Returns the stored row without its embedding — what a point get of
        the id answers right after — from the request row plus the
        version and timestamps the MERGE wrote, so nothing is read back.

        Validation rides the bulk path once (no duplicated lib/doc reads —
        r6 review finding): 404 missing library first, then the orphan
        check surfaces as the reference's 422."""
        chunk_id = chunk.get("id") or str(uuid.uuid4())
        emb = chunk.get("embedding")
        row = (
            chunk_id, library_id, document_id, chunk.get("position"),
            chunk.get("text"),
            [float(x) for x in emb] if emb is not None else None,
            chunk.get("metadata"),
        )
        frame = local_frame(self.spark, [row], CHUNK_IN_SCHEMA)
        return self._upsert(
            library_id, frame, ValidationError, echo_id=chunk_id
        )[1]

    @_writes
    def delete_chunk(self, library_id: str, chunk_id: str) -> None:
        """DELETE chunk (routers/chunks.py:95-107 + services/
        chunk.py:119-139): silent no-op when the chunk is missing or belongs
        to a different library; otherwise a copy-on-write rewrite of that
        one partition.

        When the partition's snapshot is held (``EntityStore.cached_rows``),
        the presence check reads it and the write derives the next one,
        whose ids build the exact sidecar: two jobs fewer."""
        held = self.store.cached_rows("chunks", library_id)
        if held is not None:
            absent = chunk_id not in held.ids
        else:
            absent = (
                self._library_chunks(library_id)
                .filter(F.col("id") == chunk_id)
                .isEmpty()
            )
        if absent:
            return  # reference returns silently — services/chunk.py:120-122
        new_part = M.delete_chunks(self._library_chunks(library_id), [chunk_id])
        self.store.write_partitions(
            "chunks", new_part, [library_id],
            rows=lambda prev: None if prev is None else prev.without([chunk_id]),
        )
        # the reference's index.remove (services/chunk.py:119-139): record
        # the dead id so maintenance can compact the index once deletes
        # pile up (search is already delete-consistent — live re-rank)
        self.store.after_commit(
            lambda: self.indexes.remove(library_id, [chunk_id])
        )

    #: max conflict rows hauled to the driver for the 409 payload — a large
    #: mis-versioned batch must not collect itself just to raise (VERDICT r5
    #: "what's wrong" #2); the full count rides a separate count() job.
    CAS_CONFLICT_SAMPLE = 10

    @_writes
    def update_chunks_cas(self, updates: DataFrame) -> DataFrame:
        """CAS update_on_version (repos/chunks.py:38-60): applies matching
        rows, raises ConflictError when any row misses. The error carries a
        BOUNDED sample (``err.conflicts``, ≤ CAS_CONFLICT_SAMPLE rows) plus
        the exact total (``err.conflict_count``).

        Partition scope: updates address chunks by globally-unique id, so
        the touched ``library_id`` set is resolved with one read-only
        semi-join against the table — bloom-pruned to the candidate
        partitions first, so a small CAS batch never lists the whole table
        — then the CAS itself runs against, and rewrites, only those
        partitions. IDs matching no stored row surface as 'not_found'
        conflicts exactly as before (an id outside the touched partitions
        exists in none of them)."""
        ids = updates.select("id").distinct()
        id_rows = ids.limit(self.GLOBAL_ID_CHECK_MAX_DRIVER_IDS + 1).collect()
        if len(id_rows) <= self.GLOBAL_ID_CHECK_MAX_DRIVER_IDS:
            cand = self._candidate_partitions("chunks", [r["id"] for r in id_rows])
        else:
            cand = None  # huge batch: the semi-join does the work
        touched = [
            r["library_id"]
            for r in self.store.read("chunks", partitions=cand)
            .join(ids, "id")
            .select("library_id")
            .distinct()
            .collect()
        ]
        existing = self.store.read("chunks", partitions=touched)
        new_part, conflicts = M.cas_apply(existing, updates)
        conflicts = conflicts.persist()  # count + sample share one execution
        try:
            total = conflicts.count()
            if total:
                sample = conflicts.limit(self.CAS_CONFLICT_SAMPLE).collect()
                err = ConflictError(
                    f"{total} CAS conflict(s); first: {sample[0].asDict()}"
                )
                err.conflicts = sample
                err.conflict_count = total
                raise err  # 409
        finally:
            conflicts.unpersist()
        if touched:
            self.store.write_partitions("chunks", new_part, touched)
        return self.store.read("chunks")

    def list_chunks(
        self, document_id: str, offset: int = 0, limit: int = 50
    ) -> DataFrame:
        """repos/chunks.py:28-31 — by-document listing, position order."""
        return list_page(
            self.store.read("chunks").filter(F.col("document_id") == document_id),
            [F.col("position").asc(), F.col("id").asc()],
            offset=offset,
            limit=limit,
        )

    # -- SearchService -------------------------------------------------------

    #: the columns a search hit carries besides ``id`` and ``score``
    HIT_COLS = (
        "library_id", "document_id", "position", "text", "tags", "author",
        "created_at",
    )

    def search(
        self,
        library_id: str,
        query_embedding: Sequence[float],
        k: int = 10,
        metric: str = "cosine",
        doc_ids: Sequence[str] | None = None,
        tags: Sequence[str] | None = None,
        author: str | None = None,
        created_after: datetime | None = None,
    ) -> list[Row]:
        """The flagship composed query (services/search.py:18-75):
        404 → 422 dim → 422 k/metric → index dispatch → top-k → hydrate full
        chunk rows → post-filter AFTER top-k (may return < k rows). The hits
        come back as collected ``Row``s.

        A flat or IVF library whose chunks partition the driver holds
        (``EntityStore.partition_rows``: a small one) is searched there, in
        no Spark job; every other search, LSH and in-place serving included,
        is planned on Spark and collected. Both return the same rows, scores
        bit for bit. One log line a call says which ran."""
        t0 = time.perf_counter()
        lib = self._get_library_row(library_id)
        if len(query_embedding) != lib["embedding_dim"]:
            raise ValidationError(
                f"query dim {len(query_embedding)} != library dim {lib['embedding_dim']}"
            )  # 422 — services/search.py:23-24
        if not all(math.isfinite(x) for x in query_embedding):
            # a NaN score would outrank every hit and is not valid JSON
            raise ValidationError("query_embedding must be finite numbers")
        if not (1 <= k <= MAX_K):
            raise ValidationError(f"k must be in [1, {MAX_K}]")  # api/dto.py:153
        if metric not in METRICS:
            raise ValidationError(f"metric must be one of {METRICS}")

        query = [float(x) for x in query_embedding]
        desc = self.indexes.current(library_id)
        keep = row_post_filter(doc_ids, tags, author, created_after)
        snap = how = None
        if keep is not None and (desc is None or desc["type"] == "flat" or (
                desc["type"] == "ivf"
                and desc.get("layout_serving", DEFAULT_LAYOUT) == DEFAULT_LAYOUT)):
            snap, how = self.store.partition_rows(
                "chunks", library_id, lib["embedding_dim"])
            if snap is None:  # the posting ids only serve a held snapshot
                self.indexes.drop_posting_ids(library_id)
        if snap is None:
            out = self._spark_search(
                library_id, query, k, metric, doc_ids, tags, author, created_after
            ).collect()
        else:
            out = self._driver_search(library_id, desc, snap, query, k, metric, keep)
        _log.info(
            "search library=%s index=%s served=%s snapshot=%s k=%d hits=%d ms=%.1f",
            library_id, "flat" if desc is None else desc["type"],
            "spark" if snap is None else "driver", how or "-", k, len(out),
            1e3 * (time.perf_counter() - t0),
        )
        return out

    def _driver_search(
        self, library_id: str, desc: dict | None, snap: PartitionRows,
        query: list[float], k: int, metric: str, keep,
    ) -> list[Row]:
        """The hits of a held snapshot: every embedded row is a candidate
        for flat, for IVF those whose id is in a probed cell's postings (the
        Spark path's semi-join); scored by ``knn_scores``, the top ``k``
        taken by ``top_k_order``, then post-filtered by ``keep``."""
        cand = snap.embedded
        if desc is not None and desc["type"] == "ivf":
            posted = self.indexes.probed_ids(library_id, desc, query)
            cand = cand & np.fromiter(
                (i in posted for i in snap.ids), bool, len(snap.ids))
        idx = np.flatnonzero(cand)
        scores = knn_scores(snap.emb[idx], query, metric)
        ids = [snap.ids[i] for i in idx]
        hit = Row("id", *self.HIT_COLS, "score")
        ts = TimestampType()
        out = []
        for j in top_k_order(scores, ids, k):
            h = hit(ids[j], library_id, *snap.hits[idx[j]], float(scores[j]))
            if keep(h):  # created_at in microseconds, then as collect() gives it
                out.append(hit(*h[:7], ts.fromInternal(h[7]), h[8]))
        return out

    def _spark_search(
        self, library_id, query, k, metric, doc_ids, tags, author, created_after
    ) -> DataFrame:
        chunks = self._library_chunks(library_id).select(
            "id", "library_id", "document_id", "position", "text",
            F.col("metadata.tags").alias("tags"),
            F.col("metadata.author").alias("author"),
            "created_at", "embedding",
        )
        # the hit columns ride the re-rank, which reads the live chunks
        # snapshot: vanished ids never surface — the reference's
        # dict-lookup-and-skip (services/search.py:46-49) — and no second
        # scan of the partition re-attaches them
        hits = self.indexes.search(
            library_id, chunks, query, k, metric=metric,
            extra_cols=self.HIT_COLS,
        )
        return apply_post_filters(
            hits, doc_ids=doc_ids, tags=tags, author=author,
            created_after=created_after,
            doc_id_col="document_id", tags_col="tags",
            author_col="author", created_at_col="created_at",
        ).orderBy(F.desc("score"), F.asc("id"))

    # -- maintenance ---------------------------------------------------------

    @_writes
    def maintenance(
        self,
        keep: int = 2,
        compact_generation_threshold: int | None = 8,
        index_max_dead_fraction: float | None = 0.2,
    ) -> dict:
        """Operational hygiene for a long-lived engine (no reference
        equivalent — its store is in-memory and needs none): per table,
        COMPACT when the live manifest references more than
        ``compact_generation_threshold`` distinct generation directories
        (copy-on-write leaves each partition in the generation of its last
        rewrite, so a many-library store fragments across generations —
        correct at any count, but listing cost and small files grow), then
        VACUUM snapshots older than the newest ``keep``. Per library, the
        live ANN index is REBUILT when its delete tombstones exceed
        ``index_max_dead_fraction`` of its posting rows (deletes never
        rewrite index tables on the hot path — they append tombstones; the
        rebuild here is where dead postings are actually dropped), then old
        index versions are vacuumed. Same single-writer contract as any
        mutation: run it in the deployment's off-window. Returns
        ``{tables: {...}, indexes: {...}}``."""
        report: dict[str, dict] = {}
        for table in ("libraries", "documents", "chunks"):
            v = self.store.current_version(table)
            gens = 0
            if v is not None:
                manifest = self.store.load_manifest(table, v)
                gens = len({rel.split("/", 1)[0] for rel in manifest.values()})
            compacted = False
            if (
                compact_generation_threshold is not None
                and gens > compact_generation_threshold
            ):
                self.store.compact(table)
                compacted = True
            removed = self.store.vacuum(table, keep=keep)
            report[table] = {
                "generations": gens,
                "compacted": compacted,
                "vacuumed": removed,
            }
        indexes: dict[str, dict] = {}
        if index_max_dead_fraction is not None:
            for row in self.store.read("libraries").select("id").collect():
                lib_id = row["id"]
                dead = self.indexes.tombstone_count(lib_id)
                rebuilt = False
                if dead and self.indexes.needs_compaction(
                    lib_id, max_dead_fraction=index_max_dead_fraction
                ):
                    self.rebuild_index(lib_id)
                    rebuilt = True
                vacuumed = self.indexes.vacuum(lib_id, keep=keep)
                if dead or rebuilt or vacuumed:
                    indexes[lib_id] = {
                        "tombstones": dead,
                        "rebuilt": rebuilt,
                        "vacuumed": vacuumed,
                    }
        return {"tables": report, "indexes": indexes}
