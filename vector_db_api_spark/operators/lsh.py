"""Sign (random-hyperplane) LSH for cosine kNN.

Spark re-expression of the reference LSHIndex
(src/vector_db_api/indexing/lsh.py:13-131): L tables × H hyperplanes per
table; a vector's signature in table t packs the sign bits of its dots with
that table's hyperplanes; query probes its own bucket in each table, unions
candidates, exact-re-ranks.

Scale design:
- Hyperplanes are a tiny seeded matrix (L×H×d doubles) generated on the
  driver and shipped inside a Pandas UDF closure → one numpy matmul per
  Arrow batch computes ALL tables' signatures for every row (no per-row
  Python, no JVM fold over H·d elements).
- The bucket table (table_id, signature, id) is a DataFrame; persisted
  partitioned/bucketed by (table_id, signature) the probe becomes a
  partition-pruned scan. The probe itself is a literal L-way disjunction
  pushed into that scan (static pruning, no join, no shuffle of the
  corpus); the matched candidate ids are broadcast into the re-rank
  semi-join.
- Re-rank: exact scoring of the candidate set only (inner join back to the
  corpus), then TakeOrderedAndProject top-k.

Deliberate deviations from the reference (SURVEY.md §2.10):
- re-rank ALL candidates (reference arbitrarily caps at 6·k in set order);
- ``update`` rehashes (reference LSH update is a silent no-op);
- pad-to-k falls back to an exact full scan when the buckets under-deliver
  (reference pads from arbitrary dict order up to 2·k).

MLlib's BucketedRandomProjectionLSH is Euclidean-only, hence hand-built.
"""

from __future__ import annotations

import logging

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_db_api_spark.operators.knn import knn
from vector_db_api_spark.operators.topk import topk
from vector_db_api_spark.session import local_frame

DEFAULT_NUM_TABLES = 8          # registry.py:47-49 defaults
DEFAULT_HYPERPLANES = 16


def _pack_signatures(mat: np.ndarray, hyperplanes: np.ndarray) -> np.ndarray:
    """(n, d) × (L, H, d) → (n, L) packed int64 signatures: sign bits of the
    hyperplane dots, little-endian per table. Module-level so executor
    kernels can call it on a broadcast-fetched matrix without dragging the
    whole model object through the closure."""
    n = mat.shape[0]
    l, h, d = hyperplanes.shape
    dots = mat @ hyperplanes.reshape(l * h, d).T
    bits = (dots >= 0).reshape(n, l, h)
    weights = (1 << np.arange(h, dtype=np.int64))
    return (bits * weights).sum(axis=2).astype(np.int64)


class SignLSH:
    """Random-hyperplane LSH model. Deterministic given (dim, seed)."""

    def __init__(
        self,
        dim: int,
        num_tables: int = DEFAULT_NUM_TABLES,
        hyperplanes_per_table: int = DEFAULT_HYPERPLANES,
        seed: int = 42,
    ) -> None:
        if hyperplanes_per_table > 60:
            raise ValueError("hyperplanes_per_table must be <= 60 (packed into a signed 64-bit signature)")
        self.dim = dim
        self.num_tables = num_tables
        self.hyperplanes_per_table = hyperplanes_per_table
        self.seed = seed
        rng = np.random.default_rng(seed)
        # (L, H, d) Gaussian hyperplanes — the reference draws per-component
        # Gaussians too (lsh.py:17, seeded at lsh.py:53).
        self.hyperplanes = rng.standard_normal(
            (num_tables, hyperplanes_per_table, dim)
        )

    @classmethod
    def auto_size(
        cls,
        n_rows: int,
        dim: int,
        num_tables: int = DEFAULT_NUM_TABLES,
        multiprobe: int = 1,
        target_rows_per_table: float = 8.0,
        seed: int = 42,
        min_hyperplanes: int = 4,
        max_hyperplanes: int = 48,
    ) -> "SignLSH":
        """Size H from the corpus so each table's probed rows stay bounded:
        smallest H with probes(H) × n / 2^H ≤ ``target_rows_per_table``,
        where probes(H) counts the multiprobe bucket expansion (1+H masks at
        ``multiprobe=1`` — the search default, so sizing must include it).

        Why this matters at scale: expected bucket occupancy is n / 2^H, so a
        FIXED H quietly degrades as the corpus grows — buckets deepen, every
        probe drags in a growing candidate set, and when a weak query still
        comes up short, ``search``'s pad-to-k fallback silently pays a full
        corpus scan. Deriving H from n keeps the candidate set
        (≈ L × target_rows_per_table) CONSTANT under growth — n=2k sizes to
        H=12, n=1e9 to H=32 — which is the property a 1000-executor
        deployment needs. Recall at that fixed candidate budget is then a
        function of data geometry alone: clustered corpora (the regime ANN
        exists for) clear 0.9 recall at ≤5%% candidate fraction (pinned at
        bench scale in tests/test_lsh_ivf.py::test_autosized_recall_bar);
        isotropic vectors fundamentally cannot, at any parameters — the
        bench reports both regimes honestly.
        """
        def probes(h: int) -> int:
            p = 1
            if multiprobe >= 1:
                p += h
            if multiprobe >= 2:
                p += h * (h - 1) // 2
            return p

        n = max(n_rows, 1)
        h = min_hyperplanes
        while h < max_hyperplanes and probes(h) * n / (2.0 ** h) > target_rows_per_table:
            h += 1
        return cls(dim, num_tables=num_tables, hyperplanes_per_table=h, seed=seed)

    # -- signature computation -------------------------------------------

    def _signatures_np(self, mat: np.ndarray) -> np.ndarray:
        """(n, d) → (n, L) packed int64 signatures (driver-side; executor
        kernels use :func:`_pack_signatures` on a shipped matrix)."""
        return _pack_signatures(mat, self.hyperplanes)

    def signatures(
        self,
        corpus: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        include_vectors: bool = False,
    ) -> DataFrame:
        """(id, table_id, signature[, vec]) for every embedded, non-zero row.

        Zero vectors are excluded — the reference drops them from the index
        because normalize() returns None (lsh.py:59, 67-69).

        ``include_vectors=True`` emits the embedding alongside each bucket
        row — a SELF-CONTAINED bucket table (the classic LSH space/time
        trade: L copies of every vector, like the reference holding bucket
        members in RAM next to the store). A probe against it needs NO
        corpus join: the matched bucket rows already carry the vectors to
        re-rank, so single-query search is one job, and at scale a copy
        persisted ``partitionBy(table_id)`` + sorted by ``signature`` serves
        probes from a handful of row-group-pruned reads.
        """
        from vector_db_api_spark.functions.ship import ship_model

        # ship ONLY the hyperplane matrix (broadcast when large), never the
        # whole model object through the task closure
        shipped = ship_model(corpus, self.hyperplanes)
        out_schema = bucket_ddl(corpus, id_col, vec_col, include_vectors)

        def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            hp = shipped.get()
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                norms = np.linalg.norm(mat, axis=1)
                keep = norms > 0
                if not keep.any():
                    continue
                sigs = _pack_signatures(mat[keep], hp)  # (n, L)
                ids = pdf[id_col].to_numpy()[keep]
                n, l = sigs.shape
                cols = {
                    id_col: np.repeat(ids, l),
                    "table_id": np.tile(np.arange(l, dtype=np.int32), n),
                    "signature": sigs.reshape(-1),
                }
                if include_vectors:
                    # object-dtype repeat: L references per row's list, no copy
                    cols[vec_col] = np.repeat(
                        pdf[vec_col].to_numpy()[keep], l
                    )
                yield pd.DataFrame(cols)

        return corpus.filter(F.col(vec_col).isNotNull()).mapInPandas(
            hash_batches, schema=out_schema
        )

    def query_signatures(
        self, query_vec: Sequence[float], multiprobe: int = 0
    ) -> list[tuple[int, int]]:
        """[(table_id, signature)] for one query (driver-side, L·H·d flops).

        ``multiprobe`` > 0 additionally probes every bucket whose signature
        is within that Hamming distance of the query's (multi-probe LSH):
        a neighbor that lands one sign-flip away — the most likely miss —
        is then still found. Probes grow as Σ C(H, i) per table; recall
        rises steeply for multiprobe 1–2 at H≲16 while the probed fraction
        of the corpus stays ≈ L·ΣC(H,i)/2^H.
        """
        q = np.asarray(query_vec, dtype=np.float64)[None, :]
        if np.linalg.norm(q) == 0:
            return []  # zero query → no buckets (lsh.py:86-87)
        sigs = self._signatures_np(q)[0]
        flips = self._probe_masks(multiprobe)
        return [(t, int(s) ^ m) for t, s in enumerate(sigs) for m in flips]

    def _probe_masks(self, multiprobe: int) -> list[int]:
        """XOR masks for Hamming-``multiprobe`` bucket expansion."""
        h = self.hyperplanes_per_table
        flips = [0]
        if multiprobe >= 1:
            flips += [1 << i for i in range(h)]
        if multiprobe >= 2:
            flips += [(1 << i) | (1 << j) for i in range(h) for j in range(i + 1, h)]
        if multiprobe >= 3:
            raise ValueError("multiprobe > 2 unsupported (probe count explodes)")
        return flips

    def query_signatures_df(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        multiprobe: int = 0,
    ) -> DataFrame:
        """(query_id, table_id, signature) probe rows for a BATCH of queries
        — the distributed analogue of :meth:`query_signatures`. Same Arrow
        matmul kernel as corpus hashing; zero-vector queries produce no probe
        rows (and therefore no hits), matching the single-query contract."""
        from vector_db_api_spark.functions.ship import ship_model

        shipped = ship_model(queries, self.hyperplanes)
        flips = np.asarray(self._probe_masks(multiprobe), dtype=np.int64)
        id_type = queries.schema[query_id_col].dataType.simpleString()
        out_schema = f"{query_id_col} {id_type}, table_id int, signature long"

        def probe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            hp = shipped.get()
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.asarray(pdf[query_vec_col].tolist(), dtype=np.float64)
                keep = np.linalg.norm(mat, axis=1) > 0
                if not keep.any():
                    continue
                sigs = _pack_signatures(mat[keep], hp)  # (n, L)
                ids = pdf[query_id_col].to_numpy()[keep]
                n, l = sigs.shape
                m = len(flips)
                expanded = sigs[:, :, None] ^ flips[None, None, :]  # (n, L, m)
                yield pd.DataFrame(
                    {
                        query_id_col: np.repeat(ids, l * m),
                        "table_id": np.tile(
                            np.repeat(np.arange(l, dtype=np.int32), m), n
                        ),
                        "signature": expanded.reshape(-1),
                    }
                )

        return queries.filter(F.col(query_vec_col).isNotNull()).mapInPandas(
            probe_batches, schema=out_schema
        )

    def search_batch(
        self,
        corpus: DataFrame,
        buckets: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        multiprobe: int = 1,
        broadcast_probes: bool = True,
    ) -> DataFrame:
        """Batch ANN: ONE job answers every query in ``queries``.

        Plan: probe rows (Q × L × masks — small) join the bucket table on
        (table_id, signature), dedup to (query_id, id) pairs (a candidate
        reachable through several tables must score once), then exact
        re-rank via :func:`rerank_pairs` with a per-query window top-k.

        ``broadcast_probes=True`` (default) broadcasts the probe side so the
        bucket table is never shuffled — right whenever Q × L × masks fits
        an executor (≈ millions of rows). For larger query sets pass False
        and let the (table_id, signature)-keyed shuffle join handle it.

        No pad-to-k here: a per-query exact-scan fallback inside a batch job
        would hide a full corpus scan behind one weak query — callers decide
        (filter queries with < k hits and re-run exact on just those).
        """
        from vector_db_api_spark.operators.knn import rerank_pairs

        probes = self.query_signatures_df(
            queries, query_id_col, query_vec_col, multiprobe=multiprobe
        )
        if broadcast_probes:
            probes = F.broadcast(probes)
        if vec_col in buckets.columns:
            # self-contained bucket table: the probe join already yields the
            # candidate vectors — dedup per (query, id) keeps one copy
            # (identical across tables) and the re-rank skips the corpus
            # hydration join entirely
            pairs = (
                probes.join(buckets, ["table_id", "signature"])
                .groupBy(query_id_col, id_col)
                .agg(F.first(vec_col).alias(vec_col))
            )
            return rerank_pairs(
                corpus, queries, pairs, k, metric=metric, id_col=id_col,
                vec_col=vec_col, query_id_col=query_id_col,
                query_vec_col=query_vec_col, vec_in_pairs=True,
            )
        pairs = (
            probes.join(buckets, ["table_id", "signature"])
            .select(query_id_col, id_col)
            .distinct()
        )
        return rerank_pairs(
            corpus, queries, pairs, k, metric=metric, id_col=id_col,
            vec_col=vec_col, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )

    # -- search ------------------------------------------------------------

    def _probe_condition(
        self, query_vec: Sequence[float], multiprobe: int = 0
    ) -> Column | None:
        """Boolean Column matching the query's probe keys, or None for a
        zero query. The probe is a LITERAL per-table ``signature IN (...)``
        disjunction, not a join: it pushes into the parquet scan
        (PushedFilters In/EqualTo) and prunes a table partitioned by
        ``table_id`` / sorted by ``signature`` without needing dynamic
        partition pruning — only the probed buckets are ever read."""
        probes = self.query_signatures(query_vec, multiprobe=multiprobe)
        if not probes:
            return None
        by_table: dict[int, list[int]] = {}
        for t, s in probes:
            by_table.setdefault(t, []).append(s)
        cond = None
        for t, sigs in by_table.items():
            leg = (F.col("table_id") == F.lit(t)) & F.col("signature").isin(sigs)
            cond = leg if cond is None else (cond | leg)
        return cond

    def _probe_filter(
        self,
        buckets: DataFrame,
        query_vec: Sequence[float],
        id_col: str,
        multiprobe: int = 0,
    ) -> DataFrame | None:
        """Bucket rows matching the query's probe keys, or None for a zero
        query (see :meth:`_probe_condition` for the pushdown rationale)."""
        cond = self._probe_condition(query_vec, multiprobe=multiprobe)
        if cond is None:
            return None
        return buckets.filter(cond).select(id_col)

    def candidates(
        self,
        buckets: DataFrame,
        query_vec: Sequence[float],
        id_col: str = "id",
        multiprobe: int = 0,
    ) -> DataFrame:
        """Distinct candidate ids across the query's probed buckets."""
        spark = buckets.sparkSession
        matched = self._probe_filter(buckets, query_vec, id_col, multiprobe=multiprobe)
        if matched is None:
            id_type = buckets.schema[id_col].dataType.simpleString()
            return local_frame(spark, [], f"{id_col} {id_type}")
        return matched.distinct()

    def search(
        self,
        corpus: DataFrame,
        buckets: DataFrame,
        query_vec: Sequence[float],
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        pad_to_k: bool = True,
        multiprobe: int = 1,
    ) -> DataFrame:
        """ANN top-k: probe buckets → exact re-rank of candidates.

        Runs ONE job: against a self-contained bucket table (built with
        ``include_vectors=True``) the probed rows carry their vectors and
        re-rank happens in place with no corpus join at all; against an
        id-only table, semi-join the candidate buckets and re-rank. Only if the re-ranked result has fewer than k rows
        AND ``pad_to_k`` is set does a second, *logged* exact full scan run
        (deterministic, strictly better than the reference's arbitrary-order
        padding — lsh.py:101-110). At 100 TB a recall shortfall therefore
        costs one visible fallback job, never a silent full scan inside the
        probe path.
        """
        cond = self._probe_condition(query_vec, multiprobe=multiprobe)
        if cond is None:  # zero query → empty result, no jobs (lsh.py:86-87)
            id_type = corpus.schema[id_col].dataType.simpleString()
            return local_frame(
                corpus.sparkSession, [], f"{id_col} {id_type}, score double"
            )
        if vec_col in buckets.columns:
            # SELF-CONTAINED bucket table (build_bucket_table
            # include_vectors=True): the probed rows already carry the
            # vectors, so re-rank needs NO corpus join — probe + dedup +
            # score + top-k is ONE job. The dedup groupBy runs AFTER the
            # probe filter (≤ L × bucket occupancy rows — AQE coalesces
            # the tiny exchange); ``first`` is deterministic here because
            # every copy of an id carries the identical vector.
            cand_v = buckets.filter(cond).groupBy(id_col).agg(
                F.first(vec_col).alias(vec_col)
            )
            hits = knn(cand_v, query_vec, k, metric=metric, id_col=id_col,
                       vec_col=vec_col)
        else:
            # id-only bucket table: hydrate via semi-join. Candidate ids are
            # bounded by L × bucket occupancy (the caller sizes H so buckets
            # hold ~corpus/2^H rows), so the build side is small by
            # construction → broadcast it. No .distinct() first: a left-semi
            # join already dedups, and skipping it removes a full candidate
            # shuffle.
            cand = buckets.filter(cond).select(id_col)
            hydrated = corpus.join(F.broadcast(cand), id_col, "left_semi")
            hits = knn(hydrated, query_vec, k, metric=metric, id_col=id_col,
                       vec_col=vec_col)
        if not pad_to_k:
            return hits
        rows = hits.collect()  # ≤ k rows — the search job itself
        if len(rows) >= k:
            return local_frame(corpus.sparkSession, rows, hits.schema)
        logging.getLogger(__name__).warning(
            "SignLSH.search: buckets yielded %d < k=%d hits; falling back to "
            "exact full scan (pad_to_k=True)", len(rows), k,
        )
        return knn(corpus, query_vec, k, metric=metric, id_col=id_col, vec_col=vec_col)


def bucket_ddl(
    corpus: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    include_vectors: bool = False,
) -> str:
    """Schema of the :meth:`SignLSH.signatures` bucket table over
    ``corpus``, so a persisted copy can be read without inferring it."""
    # Derive the id type from the corpus schema so the later candidate
    # semi-join is an exact-type equi-join (no implicit string↔bigint
    # coercion that loses precision for large int64 ids).
    id_type = corpus.schema[id_col].dataType.simpleString()
    ddl = f"{id_col} {id_type}, table_id int, signature long"
    if include_vectors:
        ddl += f", {vec_col} {corpus.schema[vec_col].dataType.simpleString()}"
    return ddl


def build_bucket_table(
    model: SignLSH,
    corpus: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    include_vectors: bool = False,
) -> DataFrame:
    """Materializable bucket table, repartitioned by probe key so a persisted
    copy supports pruned probes (write with
    ``.write.partitionBy('table_id').bucketBy(...)`` or sort by signature).

    ``include_vectors=True`` co-locates each row's embedding with its bucket
    entries (L copies — the LSH space/time trade): probes then re-rank
    in-place with no corpus join, making single-query search one job and a
    persisted probe a handful of row-group-pruned reads. Leave False when
    index storage is the constraint and a corpus semi-join is acceptable.

    Mutability contract: the in-place layout re-ranks against the vectors
    STORED IN the index, so it is only correct for an immutable/append-only
    snapshot (the batch-analytics and dedup cases). The serving catalog
    (lifecycle.py) ENFORCES this in code since r10: a version may be built
    ``layout='selfcontained'``, and the first mutation against it
    atomically downgrades serving to the id-only/live-hydration mode —
    whose correctness argument (stale posting rows are harmless because
    re-rank hydrates from the LIVE chunks table, where deletes drop and
    updates win) holds regardless of what the index row carries."""
    return model.signatures(
        corpus, id_col=id_col, vec_col=vec_col, include_vectors=include_vectors
    ).repartition("table_id", "signature")
