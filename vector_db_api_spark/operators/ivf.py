"""IVF (inverted-file) ANN index: k-means centroids + posting lists.

Spark re-expression of the reference IVFIndex
(src/vector_db_api/indexing/ivf.py:13-201): train k centroids with
spherical k-means (normalized means, max-dot assignment), keep an
assignment (posting) table, search by probing the nprobe nearest centroids
and exact-re-ranking their postings.

Scale design:
- Training uses MLlib ``KMeans(distanceMeasure="cosine")`` — the built-in
  distributed Lloyd's with map-side partial aggregation; the reference's
  hand-rolled 20-iteration loop (ivf.py:133-189) is exactly what MLlib
  already does, so we don't re-implement it.
- The centroid table is tiny (k ≤ a few thousand × d) → collected to the
  driver / broadcast; top-nprobe selection is a driver-side numpy argpartition
  (the reference scores centroids linearly per query too, ivf.py:101-104).
- The assignment table (id, centroid_id) is the posting list; persisted
  partitioned by ``centroid_id`` the nprobe probe becomes partition pruning —
  only nprobe/k of the corpus bytes are read at 100 TB.
- Re-rank: exact scoring of candidates (semi-join), TakeOrderedAndProject.

Deliberate deviations from the reference (SURVEY.md §2.10):
- re-rank ALL nprobe candidates (ivf.py:112-115 truncates to k in arbitrary
  set order before scoring — a recall bug);
- untrained index falls back to exact full scan (parity: ivf.py:96-99).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_api_spark.operators.knn import empty_hits, hydrate_hits, knn
from vector_db_api_spark.session import local_frame

DEFAULT_NUM_CENTROIDS = 64   # registry.py:51-54 defaults
DEFAULT_NPROBE = 4
FRAME_DDL = "centroid_id int, vec array<double>"  # to_frame / from_frame


def _spherical_kmeans(
    mat: np.ndarray, k: int, seed: int, max_iter: int, tol: float = 1e-6
) -> np.ndarray:
    """Seeded spherical Lloyd's over an in-memory (n, d) sample: max-dot
    assignment against unit centroids, normalized-mean update, empty
    clusters reseeded from the data — the reference's loop (ivf.py:133-189)
    vectorized. The sample is bounded by the caller, so n·d·k flops per
    iteration stay driver-sized."""
    n = len(mat)
    if n == 0:
        raise ValueError("cannot train IVF on an empty/all-zero corpus")
    k = max(1, min(k, n))
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.where(norms == 0, 1.0, norms)
    rng = np.random.default_rng(seed)
    cent = unit[rng.choice(n, size=k, replace=False)]
    for _ in range(max_iter):
        assign = (unit @ cent.T).argmax(axis=1)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, unit)
        counts = np.bincount(assign, minlength=k)
        empty = counts == 0
        if empty.any():
            sums[empty] = unit[rng.choice(n, size=int(empty.sum()))]
        cn = np.linalg.norm(sums, axis=1, keepdims=True)
        new_cent = sums / np.where(cn == 0, 1.0, cn)
        shift = float(np.abs(new_cent - cent).max())
        cent = new_cent
        if shift < tol:
            break
    return cent


def nearest_cells(
    mat: np.ndarray, centroids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The assignment kernel: ``(keep, cells)`` — which rows of ``mat``
    have a nonzero norm (NULL-free, zero vectors get no cell), and the cell
    of each kept row: its highest dot with the unit ``centroids``, the
    lowest cell id on a tie (``argmax``). One function for the executor
    batches of :meth:`IVFIndex.assign` and the driver's
    :meth:`IVFIndex.assign_rows`, so equal float64 input gives equal
    cells."""
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    unit = mat[keep] / norms[keep, None]
    return keep, (unit @ centroids.T).argmax(axis=1).astype(np.int32)


def posting_ddl(
    corpus: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    include_vectors: bool = False,
) -> str:
    """Schema of the :meth:`IVFIndex.assign` posting table over ``corpus``,
    so a persisted copy can be read without inferring it."""
    # Match the corpus id type exactly so downstream semi-joins never
    # implicitly coerce (string=bigint loses precision on large int64).
    id_type = corpus.schema[id_col].dataType.simpleString()
    ddl = f"{id_col} {id_type}, centroid_id int"
    if include_vectors:
        ddl += f", {vec_col} {corpus.schema[vec_col].dataType.simpleString()}"
    return ddl


class IVFIndex:
    """Trained IVF model: normalized centroid matrix + assignment table."""

    def __init__(self, centroids: np.ndarray, nprobe: int = DEFAULT_NPROBE) -> None:
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        self.centroids = centroids / np.where(norms == 0, 1.0, norms)
        self.nprobe = nprobe

    # -- training ----------------------------------------------------------

    @classmethod
    def train(
        cls,
        corpus: DataFrame,
        num_centroids: int = DEFAULT_NUM_CENTROIDS,
        nprobe: int = DEFAULT_NPROBE,
        vec_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 20,
        method: str = "sample",
        train_sample_rows: int = 131_072,
    ) -> "IVFIndex":
        """Train the coarse quantizer.

        ``method="sample"`` (default): ONE distributed pass reservoir-samples
        ≤ ``train_sample_rows`` vectors per the standard IVF practice (train
        the quantizer on a bounded sample, assign the full corpus), then runs
        seeded spherical Lloyd's on the driver — the same normalized-mean /
        max-dot loop as the reference (ivf.py:133-189), but over a sample
        that fits in memory by construction. At 100 TB this is the only
        sane plan: full-corpus k-means costs max_iter corpus scans; sample
        training costs one.

        ``method="mllib"``: MLlib ``KMeans(distanceMeasure="cosine")`` over
        the full corpus, for the rare case the quantizer must see every row
        (distributed, seeded, deterministic).

        max_iter=20 mirrors the reference constant IVF_KMEAN_ITERS
        (ivf.py:10). Zero vectors are excluded (ivf.py:41-43).
        """
        if method == "mllib":
            cent = cls._train_mllib(corpus, num_centroids, vec_col, seed, max_iter)
        elif method == "sample":
            sample = cls._sample_vectors(corpus, vec_col, train_sample_rows, seed)
            cent = _spherical_kmeans(sample, num_centroids, seed, max_iter)
        else:
            raise ValueError(f"unknown train method: {method!r}")
        return cls(cent, nprobe=nprobe)

    @classmethod
    def auto_train(
        cls,
        corpus: DataFrame,
        n_rows: int | None = None,
        nprobe: int | None = None,
        vec_col: str = "embedding",
        seed: int = 42,
        **kwargs,
    ) -> "IVFIndex":
        """``train`` with corpus-derived sizing: num_centroids ≈ √n (the
        standard IVF rule — posting lists and the centroid scan then both
        grow as √n instead of one of them growing linearly), nprobe ≈
        centroids/32 (bounded ≥2 so recall never hinges on one Voronoi
        cell). A fixed centroid count is the IVF analogue of LSH's fixed H:
        posting lists fatten linearly with corpus growth and every probe
        rescans them."""
        n = n_rows if n_rows is not None else corpus.count()
        # 2√n sits inside the √n..16√n guidance for inverted-file indexes;
        # the extra centroids halve posting-list depth so a fat Voronoi cell
        # costs less to probe
        k = int(max(4, min(65536, round(2 * np.sqrt(max(n, 1))))))
        if nprobe is None:
            nprobe = max(2, k // 32)
        return cls.train(
            corpus, num_centroids=k, nprobe=nprobe, vec_col=vec_col,
            seed=seed, **kwargs,
        )

    @staticmethod
    def _train_mllib(
        corpus: DataFrame, num_centroids: int, vec_col: str, seed: int, max_iter: int
    ) -> np.ndarray:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.col(vec_col).alias("__arr"))
            .withColumn("__nrm", F.sqrt(F.aggregate(
                F.transform("__arr", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda a, x: a + x)))
            .filter(F.col("__nrm") > 0)
            .select(array_to_vector(F.col("__arr")).alias("features"))
        )
        # Clamp k without a full corpus scan: limit(k).count() stops after
        # finding num_centroids rows, so this never double-scans at 100 TB.
        n = vecs.limit(num_centroids).count()
        k = max(1, min(num_centroids, n))
        model = KMeans(
            k=k, seed=seed, maxIter=max_iter, distanceMeasure="cosine"
        ).fit(vecs)
        return np.asarray(model.clusterCenters(), dtype=np.float64)

    @staticmethod
    def _sample_vectors(
        corpus: DataFrame, vec_col: str, n_rows: int, seed: int
    ) -> np.ndarray:
        """(m, d) float64 sample, m ≤ n_rows, one pass, no count() action.

        Each partition keeps a seeded uniform reservoir of
        ``n_rows / num_partitions`` rows inside an Arrow-batched
        ``mapInPandas`` (so a 100 TB corpus ships at most n_rows vectors to
        the driver), then the driver trims the concatenation."""
        from collections.abc import Iterator

        import pandas as pd

        num_parts = max(1, corpus.rdd.getNumPartitions())
        per_part = max(1, -(-n_rows // num_parts))  # ceil

        def reservoir(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # partition-local: seed from the first rows' content is fragile,
            # use numpy's SeedSequence spawned off the TaskContext partition id
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            rng = np.random.default_rng(np.random.SeedSequence([seed, pid]))
            kept: pd.DataFrame | None = None
            seen = 0
            for pdf in batches:
                pdf = pdf[[vec_col]]
                seen += len(pdf)
                pool = pdf if kept is None else pd.concat([kept, pdf], ignore_index=True)
                if len(pool) > per_part:
                    # uniform without replacement over the running pool —
                    # slightly biased toward later batches vs a true
                    # reservoir, irrelevant for quantizer training
                    idx = rng.choice(len(pool), size=per_part, replace=False)
                    pool = pool.iloc[np.sort(idx)].reset_index(drop=True)
                kept = pool
            if kept is not None and len(kept):
                yield kept

        sampled = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(vec_col)
            .mapInPandas(reservoir, schema=f"{vec_col} array<double>")
            .collect()
        )
        mat = np.asarray([r[vec_col] for r in sampled], dtype=np.float64)
        if len(mat) > n_rows:
            rng = np.random.default_rng(seed)
            mat = mat[rng.choice(len(mat), size=n_rows, replace=False)]
        norms = np.linalg.norm(mat, axis=1)
        return mat[norms > 0]

    # -- persistence -------------------------------------------------------

    def to_frame(self, spark) -> DataFrame:
        """(centroid_id int, vec array<double>) — the trained quantizer as
        a tiny DataFrame, writable wherever the posting table lives (this
        is the layout ``lifecycle.rebuild`` persists as ``ivf_centroids``).
        A trained model must outlive the session: seeds reproduce the
        TRAINING RUN, not a model trained on data you no longer have."""
        rows = [
            (int(i), [float(x) for x in self.centroids[i]])
            for i in range(len(self.centroids))
        ]
        return local_frame(spark, rows, FRAME_DDL)

    @classmethod
    def from_frame(cls, frame: DataFrame, nprobe: int = DEFAULT_NPROBE) -> "IVFIndex":
        """Rehydrate from :meth:`to_frame`'s layout (model-sized collect;
        centroid_id fixes the row order so cell ids survive the round
        trip)."""
        rows = sorted(frame.collect(), key=lambda r: r["centroid_id"])
        ids = [r["centroid_id"] for r in rows]
        if ids != list(range(len(ids))):
            raise ValueError(
                f"centroid frame ids must be exactly 0..k-1, got {ids[:5]}..."
            )
        mat = np.asarray([r["vec"] for r in rows], dtype=np.float64)
        return cls(mat, nprobe=nprobe)

    # -- assignment (posting lists) ----------------------------------------

    def assign(
        self,
        corpus: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        include_vectors: bool = False,
    ) -> DataFrame:
        """(id, centroid_id[, vec]) posting table: nearest centroid by dot
        product on normalized vectors (== cosine). Broadcast the centroid
        matrix into an Arrow-batched numpy matmul; incremental adds reuse
        this on the delta only (ivf.py:40-49 semantics).

        ``include_vectors=True`` is the classic IVF-Flat layout: each
        vector stored IN its posting row (exactly one copy — unlike LSH's
        L× duplication). Probes over such a table re-rank in place with no
        corpus hydration join, and a copy persisted
        ``partitionBy(centroid_id)`` serves an nprobe probe as a
        partition-pruned scan of just the probed cells.

        Mutability contract: in-place re-rank reads the vector stored in
        the posting row, so this layout is only correct for an
        immutable/append-only snapshot. The serving catalog (lifecycle.py)
        enforces this in code since r10: versions built
        ``layout='selfcontained'`` serve in place only until the first
        mutation, which atomically downgrades serving to the id-only mode
        — whose stale rows are harmless precisely BECAUSE re-rank hydrates
        from the live chunks table (deletes drop at the join, updates win
        at re-rank)."""
        from collections.abc import Iterator

        import pandas as pd

        from vector_db_api_spark.functions.ship import ship_model

        # large centroid matrices (auto_train sizes k ~ 2√n — 100k+ cells at
        # corpus scale) ride a broadcast, not the per-task closure
        shipped = ship_model(corpus, self.centroids)
        out_schema = posting_ddl(corpus, id_col, vec_col, include_vectors)

        def assign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cent = shipped.get()
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                keep, best = nearest_cells(mat, cent)
                if not keep.any():
                    continue
                cols = {id_col: pdf[id_col].to_numpy()[keep], "centroid_id": best}
                if include_vectors:
                    cols[vec_col] = pdf[vec_col].to_numpy()[keep]
                yield pd.DataFrame(cols)

        return corpus.filter(F.col(vec_col).isNotNull()).mapInPandas(
            assign_batches, schema=out_schema
        )

    def assign_rows(
        self, vectors: Sequence[Sequence[float]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """:meth:`assign` over non-NULL vectors held on the driver:
        ``(keep, cells)`` as :func:`nearest_cells` returns them. The values
        are rounded to float32 first, as the stored ``array<float>`` the
        executors read is, so a request's float64 JSON numbers land in the
        cells :meth:`assign` gives the stored rows."""
        mat = np.asarray(vectors, dtype=np.float32).astype(np.float64)
        return nearest_cells(mat, self.centroids)

    # -- search --------------------------------------------------------------

    def probe_centroids(
        self, query_vec: Sequence[float], nprobe: int | None = None
    ) -> list[int]:
        """Top-nprobe centroid ids by dot with the normalized query
        (driver-side; the centroid table is tiny by construction).
        ``nprobe`` overrides the trained default — the per-query
        recall/cost knob (probe more cells for a harder query)."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = np.linalg.norm(q)
        if qn == 0:
            return []  # zero query → empty (ivf.py:92-93)
        scores = self.centroids @ (q / qn)
        nprobe = min(nprobe or self.nprobe, len(scores))
        # stable argsort on -scores: equal dots keep index order, so ties
        # resolve to the LOWER centroid id — the oracle's tie rule (ORDER BY
        # dots DESC, j ASC). argpartition's arbitrary tie SELECTION at the
        # nprobe boundary could diverge from it nondeterministically (r11
        # advice); the centroid table is k-sized, the full sort is noise.
        order = np.argsort(-scores, kind="stable")
        return [int(i) for i in order[:nprobe]]

    def search(
        self,
        corpus: DataFrame,
        assignments: DataFrame,
        query_vec: Sequence[float],
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        nprobe: int | None = None,
        prefilter: Column | None = None,
        extra_cols: Sequence[str] = (),
    ) -> DataFrame:
        """ANN top-k: nprobe centroid filter (partition-prunable) → semi-join
        → exact re-rank of ALL candidates. Returns ``(id_col, *extra_cols,
        score)`` like :func:`knn`: ``extra_cols`` of ``corpus`` ride the
        re-rank, so a caller needs no join back to the corpus for them.

        ``prefilter`` (a boolean Column over corpus attributes) makes this a
        FILTERED vector search: the predicate applies to the corpus BEFORE
        the candidate semi-join, so Catalyst pushes it into the parquet scan
        and only matching rows pay the re-rank — pre-filtering, not the
        reference's post-filter-after-top-k (services/search.py:52-64, which
        ``apply_post_filters`` mirrors). A highly selective predicate can
        return fewer than k rows from the probed cells; raise ``nprobe``
        (per-query override) to widen the candidate pool — the standard
        filtered-ANN recall/cost trade."""
        probe = self.probe_centroids(query_vec, nprobe=nprobe)
        if not probe:
            return empty_hits(corpus, id_col, extra_cols)
        if vec_col in assignments.columns and prefilter is None:
            # IVF-Flat posting table (assign include_vectors=True): probed
            # cells already carry their vectors — re-rank in place, no
            # corpus hydration join. ``prefilter`` predicates reference
            # corpus attributes, so a filtered search falls through to the
            # corpus-join path below.
            cand_v = assignments.filter(
                F.col("centroid_id").isin(probe)
            ).select(id_col, vec_col)
            hits = knn(cand_v, query_vec, k, metric=metric, id_col=id_col,
                       vec_col=vec_col)
            return hydrate_hits(hits, corpus, k, id_col, extra_cols)
        cand = assignments.filter(F.col("centroid_id").isin(probe)).select(id_col)
        corpus2 = corpus.filter(prefilter) if prefilter is not None else corpus
        hydrated = corpus2.join(cand, id_col, "left_semi")
        return knn(hydrated, query_vec, k, metric=metric, id_col=id_col,
                   vec_col=vec_col, extra_cols=extra_cols)

    def assign_queries(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        nprobe: int | None = None,
        with_rank: bool = False,
    ) -> DataFrame:
        """(query_id, centroid_id[, probe_rank]) probe pairs for a BATCH of
        queries — the distributed analogue of :meth:`probe_centroids`
        (top-nprobe by dot with the unit query; the centroid matrix
        broadcast when large). Zero-vector queries produce no probe rows.

        ``with_rank=True`` adds ``probe_rank`` (0 = nearest cell): the
        selection is already a stable descending sort, so ranks are free —
        one pass at the LARGEST nprobe then serves every smaller p via
        ``probe_rank < p`` (the self-join auto-router's trick)."""
        import pandas as pd

        from vector_db_api_spark.functions.ship import ship_model

        shipped = ship_model(queries, self.centroids)
        nprobe = min(nprobe or self.nprobe, len(self.centroids))
        id_type = queries.schema[query_id_col].dataType.simpleString()
        out_schema = f"{query_id_col} {id_type}, centroid_id int"
        if with_rank:
            out_schema += ", probe_rank int"

        def probe_batches(batches):
            cent = shipped.get()
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.asarray(pdf[query_vec_col].tolist(), dtype=np.float64)
                norms = np.linalg.norm(mat, axis=1)
                keep = norms > 0
                if not keep.any():
                    continue
                unit = mat[keep] / norms[keep, None]
                scores = unit @ cent.T  # (n, k_centroids)
                if nprobe < scores.shape[1]:
                    # stable sort = ties to the lower centroid id, matching
                    # probe_centroids and the oracle's (dots DESC, j ASC)
                    # rule — an exact tie at the nprobe boundary must pick
                    # the same cells on every engine (r11 advice)
                    top = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
                else:
                    top = np.argsort(-scores, axis=1, kind="stable")
                ids = pdf[query_id_col].to_numpy()[keep]
                cols = {
                    query_id_col: np.repeat(ids, top.shape[1]),
                    "centroid_id": top.reshape(-1).astype(np.int32),
                }
                if with_rank:
                    cols["probe_rank"] = np.tile(
                        np.arange(top.shape[1], dtype=np.int32), len(ids)
                    )
                yield pd.DataFrame(cols)

        return queries.filter(F.col(query_vec_col).isNotNull()).mapInPandas(
            probe_batches, schema=out_schema
        )

    def self_join_pairs(
        self,
        corpus: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        nprobe_sym: int | None = None,
        undirected: bool = False,
    ) -> DataFrame:
        """Directed candidate pairs (query_id, ``id_col``) for an
        approximate kNN SELF-join via SYMMETRIC multi-probe (r10 verdict
        #3): every vector probes its ``nprobe_sym`` nearest cells, and a
        pair is a candidate when the two probe SETS INTERSECT.

        Why symmetric: the asymmetric batch plan (``search_batch`` over
        the corpus as its own query set) probes p cells per QUERY but each
        corpus vector is discoverable only in its single home cell — two
        boundary vectors straddling adjacent cells miss each other unless
        one happens to probe the other's home. Probing both sides makes a
        pair reachable when ANY of the p×p cell combinations collide —
        the standard multi-assignment recall upgrade, reference-free.

        Plan shape (100 TB): one mapInPandas probe pass (n×p rows, fused
        with the scan) → equi-self-join on ``centroid_id`` (bucket-local:
        Σ_cells |bucket|² directed pairs — NEVER a cartesian; AQE handles
        skewed cells) → ``distinct`` (a pair sharing ≥2 probed cells must
        score once — rerank_pairs requires duplicate-free pairs). Self
        pairs (a,a) are kept for parity with ``search_batch`` (a vector is
        its own nearest neighbor; dedup callers filter it like the exact
        plan does). Candidate work scales as p²/k of the naive n² — the
        recall/cost knob the self-join recall curve in BENCH_SCALE.md
        measures.

        ``undirected=True`` (r16): the candidate set is symmetric by
        construction ((a,b) is a candidate ⇔ (b,a) is — same probe-set
        intersection), so return only the ``query_id <= id`` orientation
        — the filter runs BEFORE the distinct, halving the dedup shuffle
        — for callers that score once per unordered pair and mirror
        (:meth:`self_join`)."""
        queries = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        )
        probes = self.assign_queries(queries, nprobe=nprobe_sym)
        right = probes.select(
            F.col("query_id").alias(id_col), "centroid_id"
        )
        joined = probes.join(right, "centroid_id")
        if undirected:
            joined = joined.filter(F.col("query_id") <= F.col(id_col))
        return joined.select("query_id", id_col).distinct()

    def self_join(
        self,
        corpus: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        nprobe_sym: int | None = None,
    ) -> DataFrame:
        """Approximate kNN self-join: per-vector top-k over the symmetric
        multi-probe candidates (:meth:`self_join_pairs`), exact re-rank.
        Drop-in for the ``search_batch``-as-self-join plan with strictly
        higher recall at the same nprobe (the candidate set is a
        superset); cost grows with nprobe² instead of nprobe — choose via
        the measured recall/candidate-fraction curve (BENCH_SCALE.md).

        r16 (guide §1.2): score each UNORDERED candidate pair once and
        mirror the scored row. The candidate set is symmetric by
        construction, and every metric here is commutative with
        bit-identical arithmetic (``x*y == y*x`` per element, identical
        fold order over the same index positions; cosine's
        ``norm_a * norm_b`` product likewise commutes bit-exactly), so the
        mirrored scored multiset — and therefore the per-query top-k — is
        exactly what scoring every directed pair produced, for half the
        dedup shuffle, half the hydration joins and half the score folds.
        Equivalence is pinned by the oracle replay
        (knn_self_join_ivf_sym) and tests/test_lsh_ivf.py."""
        from vector_db_api_spark.operators.knn import score_pairs
        from vector_db_api_spark.operators.topk import topk_per_group

        queries = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        )
        pairs = self.self_join_pairs(
            corpus, id_col=id_col, vec_col=vec_col, nprobe_sym=nprobe_sym,
            undirected=True,
        )
        scored = score_pairs(
            corpus, queries, pairs, metric=metric, id_col=id_col,
            vec_col=vec_col, broadcast_queries=False,
        )
        fwd = F.struct(
            F.col("query_id").alias("q"),
            F.col(id_col).alias("i"),
            F.col("score").alias("s"),
        )
        rev = F.struct(
            F.col(id_col).alias("q"),
            F.col("query_id").alias("i"),
            F.col("score").alias("s"),
        )
        mirrored = scored.select(
            F.explode(
                F.when(F.col("query_id") == F.col(id_col), F.array(fwd))
                .otherwise(F.array(fwd, rev))
            ).alias("__p")
        ).select(
            F.col("__p.q").alias("query_id"),
            F.col("__p.i").alias(id_col),
            F.col("__p.s").alias("score"),
        )
        return topk_per_group(
            mirrored, ["query_id"], [F.desc("score"), F.col(id_col).asc()], k
        )

    def route_self_join(
        self,
        corpus: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        nprobe_candidates: tuple[int, ...] = (1, 2, 4, 8),
        recall_bar: float = 0.8,
        max_candidate_fraction: float = 0.1,
        sample_queries: int = 256,
        seed: int = 42,
    ) -> dict:
        """Decide probe-vs-exact for the approximate kNN self-join by
        MEASURING the serving bar on a query sample (r11 verdict #6: the
        regime bar in BENCH_SCALE.md required the USER to know whether
        their corpus is clustered; the engine has the data to decide).

        The bar (BENCH_SCALE.md "self-join recall curve"): the probe plan
        serves when some p in ``nprobe_candidates`` reaches sampled
        recall@k >= ``recall_bar`` at candidate fraction <=
        ``max_candidate_fraction``; otherwise the corpus is scan-bound
        (random/isotropic regime — sub-scan recall is information-
        theoretically unavailable) and the EXACT plan is the honest one.

        Cost shape — every step is O(n), never the probe plan's
        Σ|bucket|² candidate join:

        - ONE ranked probe pass over the corpus at max(p) (``probe_rank``
          filters serve every smaller p for free);
        - ONE tiny aggregation for every candidate p's exact directed-pair
          count Σ_cells c_p(cell)²: the (cell, rank) histogram is at most
          k_centroids × p_max rows, so it collects and the per-p cumsum/
          square runs in exact Python integers (r16; the r15 shape paid
          two more exchanges to do the same integer arithmetic
          distributedly on <1k rows);
        - ONE job for every eligible p's sampled recall (r16; was two —
          an exact-pass collect then a candidate-scoring collect, each
          shipping per-query id SETS to the driver): the exact top-k of
          the ``sample_queries`` hash-picked vectors (JVM kNN-batch
          expressions, bit-stable) joins the probe-plan candidates —
          each candidate pair carries the smallest p at which it is a
          candidate (__pmin), is scored once with the norm-hoisted
          cosine (norms once per row/query, one dot per pair —
          bit-identical arithmetic to rerank_pairs), and one window
          partitioned by (p, query_id) replays each p's two-stage top-k.
          Per-p hit/want intersections reduce distributedly
          (array_intersect over the collect_set pairs) and ONE collect
          returns the integer numerators/denominators.

        Returns the decision record: ``{"plan": "probe"|"exact",
        "nprobe_sym": p|None, "sampled_recall": {p: r}, and
        "candidate_fraction": {p: f}}`` — callers log it; ``self_join_auto``
        dispatches on it."""
        from vector_db_api_spark.functions import vector as V
        from vector_db_api_spark.operators.knn import knn_batch

        queries = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        )
        p_max = min(max(nprobe_candidates), len(self.centroids))
        # the three setup actions (query count, ranked-probe checkpoint,
        # sample checkpoint) are mutually independent — submit them as
        # concurrent jobs (guide §2.6) so the route pays max() of their
        # walls, not the sum; each is a driver-blocking round-trip on a
        # route that is job-latency-bound at any scale (r16). The pool
        # threads inherit the caller's local properties and tags, so the
        # jobs carry its job group and are cancelled with it.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        inherit = inheritable_thread_target(queries.sparkSession)
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_n = pool.submit(inherit(queries.count))
            f_probes = pool.submit(inherit(
                lambda: self.assign_queries(
                    queries, nprobe=p_max, with_rank=True
                ).localCheckpoint(eager=True)  # reused per candidate p
            ))
            # deterministic sample: hash-ordered ids, stable across retries
            f_sample = pool.submit(inherit(
                lambda: queries.orderBy(
                    F.xxhash64(F.col("query_id"), F.lit(seed))
                ).limit(sample_queries).localCheckpoint(eager=True)
            ))
            n = f_n.result()
            probes = f_probes.result()
            sample = f_sample.result()
        decision: dict = {"plan": "exact", "nprobe_sym": None, "n": int(n),
                          "sampled_recall": {}, "candidate_fraction": {},
                          "recall_bar": recall_bar,
                          "max_candidate_fraction": max_candidate_fraction}
        if n == 0:
            return decision
        # limit() over the n-row query table — the sample size is known
        # without a count job (r16; the re-count was one more driver
        # round-trip per route call)
        m = min(int(n), int(sample_queries))
        ps = sorted(set(min(p, p_max) for p in nprobe_candidates))
        # -- r15 (guide §1.2): the p-loop below used to run 2 JOBS PER
        # CANDIDATE p (a filtered histogram+collect, then a full
        # rerank+window+collect that RE-SCORED the pair set) — 4 candidate
        # p values = up to 8 sequential small jobs, each re-reading the
        # probe table. r15 made both loops single-pass; r16 tightened the
        # job count again (histogram collected raw, exact+recall fused
        # into one job, the one-use sample-probe checkpoint and the two
        # redundant count jobs dropped) — see the docstring cost bullets.
        #
        # Every p's exact directed-pair count Σ_cells c_p(cell)² from the
        # ≤ k_centroids × p_max-row (cell, rank) histogram, cumulated per
        # cell in exact Python integers — bit-identical to the r15
        # distributed explode/sum (which was itself bit-identical to the
        # per-p loop).
        hist = (
            probes.groupBy("centroid_id", "probe_rank")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        cell_rank: dict[int, dict[int, int]] = {}
        for r in hist:
            cell_rank.setdefault(int(r["centroid_id"]), {})[
                int(r["probe_rank"])] = int(r["c"])
        pairs_at = {p: 0 for p in ps}
        for by_rank in cell_rank.values():
            cum = 0
            ranks = sorted(by_rank)
            ri = 0
            for p in ps:
                while ri < len(ranks) and ranks[ri] < p:
                    cum += by_rank[ranks[ri]]
                    ri += 1
                pairs_at[p] += cum * cum
        fracs = {
            p: float(pairs_at.get(p, 0)) / (float(n) * float(n)) for p in ps
        }
        eligible = [p for p in ps if fracs[p] <= max_candidate_fraction]
        recalls: dict[int, float] = {}
        if eligible:
            # only ranks below the largest ELIGIBLE p participate — the
            # candidate set (and the scoring fold) stays exactly the old
            # loop's union over eligible p, not the p_max superset (on a
            # scan-bound corpus p_max's candidate fraction can be ~0.7
            # while the eligible ps sit under 0.05).
            #
            # NOTE (r15 advice): scoring always runs at p_top =
            # max(eligible) — the old per-p loop early-exited when a
            # smaller p already cleared recall_bar, so this batched pass
            # can score up to the p_top candidate set where the loop
            # stopped sooner. Accepted tradeoff: the set is bounded by
            # max_candidate_fraction on a sample_queries-sized sample,
            # and one pass beats up-to-|ps| sequential jobs.
            p_top = max(eligible)
            sample_probe_all = self.assign_queries(
                sample, nprobe=p_max, with_rank=True
            )  # used once below — no checkpoint job (r16)
            cand = (
                F.broadcast(
                    sample_probe_all.filter(F.col("probe_rank") < p_top)
                    .select(
                        "query_id", "centroid_id",
                        F.col("probe_rank").alias("__rs"),
                    )
                )
                .join(
                    probes.filter(F.col("probe_rank") < p_top).select(
                        F.col("query_id").alias(id_col), "centroid_id",
                        F.col("probe_rank").alias("__rc"),
                    ),
                    "centroid_id",
                )
                .groupBy("query_id", id_col)
                .agg(
                    (F.min(F.greatest("__rs", "__rc")) + 1).alias("__pmin")
                )
            )
            # scoring expressions == rerank_pairs/score_pairs
            # (operators/knn.py): corpus hydration join with the
            # double-cast vector and its norm materialized once per row,
            # broadcast query side carrying its norm, one dot fold per
            # pair — bit-identical arithmetic to the inline similarity
            qside = F.broadcast(
                sample.select(
                    "query_id",
                    V.as_double_array("query_vec").alias("__qv"),
                    V.norm(V.as_double_array("query_vec")).alias("__qn"),
                )
            )
            if metric == "cosine":
                hydr = corpus.select(
                    F.col(id_col),
                    V.as_double_array(vec_col).alias("__ev"),
                ).withColumn("__ne", V.norm("__ev"))
                score = F.when(
                    (F.col("__ne") == 0.0) | (F.col("__qn") == 0.0),
                    F.lit(0.0),
                ).otherwise(
                    V.dot("__ev", "__qv") / (F.col("__ne") * F.col("__qn"))
                )
            else:
                hydr = corpus
                score = V.similarity(
                    metric, V.as_double_array(vec_col), F.col("__qv")
                )
            elig_arr = F.array(*[F.lit(int(p)) for p in eligible])
            scored = (
                hydr.join(cand, id_col, "inner")
                .join(qside, "query_id")
                .select(
                    F.col("query_id"), F.col(id_col), F.col("__pmin"),
                    score.alias("score"),
                )
                .select(
                    "query_id", id_col, "score",
                    F.explode(
                        F.filter(elig_arr, lambda p: p >= F.col("__pmin"))
                    ).alias("__p"),
                )
            )
            w = Window.partitionBy("__p", "query_id").orderBy(
                F.desc("score"), F.col(id_col).asc()
            )
            got_sets = (
                scored.withColumn("__rk1", F.row_number().over(w))
                .filter(F.col("__rk1") <= k + 1)
                .filter(F.col("query_id") != F.col(id_col))
                .withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= k)
                .groupBy("__p", "query_id")
                .agg(F.collect_set(id_col).alias("__got"))
            )
            # exact top-k of the sample against the FULL corpus (the
            # ground-truth recall denominator) — self-pairs excluded like
            # dedup callers. Fused with the candidate pass into ONE job:
            # per-(p, query) intersections reduce distributedly and one
            # tiny collect returns integer numerators/denominators — the
            # same integers the two-collect driver loop summed (r16).
            want_sets = (
                knn_batch(corpus, sample, k + 1, metric=metric,
                          id_col=id_col, vec_col=vec_col)
                .filter(F.col("query_id") != F.col(id_col))
                .withColumn("__rk", F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("score"), F.col(id_col).asc())))
                .filter(F.col("__rk") <= k)
                .groupBy("query_id")
                .agg(F.collect_set(id_col).alias("__want"))
            )
            id_type = corpus.schema[id_col].dataType.simpleString()
            empty_ids = F.array().cast(f"array<{id_type}>")
            rec_rows = (
                want_sets
                .select("query_id", "__want",
                        F.explode(elig_arr).alias("__p"))
                .join(got_sets, ["__p", "query_id"], "left")
                .groupBy("__p")
                .agg(
                    F.sum(F.size(F.array_intersect(
                        F.col("__want"),
                        F.coalesce(F.col("__got"), empty_ids),
                    ))).alias("num"),
                    F.sum(F.size("__want")).alias("den"),
                )
                .collect()
            )
            by_p = {int(r["__p"]): (int(r["num"]), int(r["den"]))
                    for r in rec_rows}
            for p in eligible:
                num, den = by_p.get(p, (0, 0))
                recalls[p] = num / den if den else 1.0
        # replay the original control flow over the precomputed numbers so
        # the decision record is field-for-field what the loop produced
        # (fracs/recalls after the accepting p stay unrecorded)
        for p in ps:
            decision["candidate_fraction"][p] = round(fracs[p], 6)
            if fracs[p] > max_candidate_fraction:
                continue  # scan-bound at this p; larger p only grows it
            decision["sampled_recall"][p] = round(recalls[p], 4)
            if recalls[p] >= recall_bar:
                decision["plan"] = "probe"
                decision["nprobe_sym"] = p
                break
        decision["sample_size"] = int(m)
        return decision

    def self_join_auto(
        self,
        corpus: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        exact_collect_limit: int = 1_000_000,
        exact_collect_bytes: int = 2 << 30,
        decision_out: dict | None = None,
        **route_kw,
    ) -> DataFrame:
        """kNN self-join with the plan picked by :meth:`route_self_join`:
        the symmetric multi-probe plan at the smallest p that meets the
        measured bar, else the exact Arrow/numpy plan (the honest choice
        in the scan-bound regime — at sf1 BENCH_SCALE measured exact 99s
        vs probe 325s on random 20k×64d).

        The exact fallback collects the query side to the driver
        (``knn_batch_numpy``'s contract), bounded by BOTH
        ``exact_collect_limit`` (rows) and ``exact_collect_bytes``
        (estimated rows × dim × 8 — r12 verdict #3: a row-only bound is
        byte-blind; 1M rows at the reference's max embedding_dim 8192 is
        ~65 GB of query vectors on the driver, the OOM the limit exists
        to prevent; at the bench's 64-d the same rows are ~0.5 GB). The
        dim estimate reads ``size(vec_col)`` from one row. Above either
        bound a scan-bound corpus has NO fast plan at the requested bar,
        and silently running an n² job or a recall-starved probe would
        both be lies — the error says which knobs exist (lower
        ``recall_bar``, raise ``max_candidate_fraction``, or call
        ``self_join`` with an explicit p). Pass ``decision_out={}`` to
        receive the routing record."""
        decision = self.route_self_join(
            corpus, k, metric=metric, id_col=id_col, vec_col=vec_col,
            **route_kw)
        if decision_out is not None:
            decision_out.update(decision)
        return self.dispatch_self_join(
            corpus, decision, k, metric=metric, id_col=id_col,
            vec_col=vec_col, exact_collect_limit=exact_collect_limit,
            exact_collect_bytes=exact_collect_bytes)

    def dispatch_self_join(
        self,
        corpus: DataFrame,
        decision: dict,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        exact_collect_limit: int = 1_000_000,
        exact_collect_bytes: int = 2 << 30,
    ) -> DataFrame:
        """Execute a routing decision record from :meth:`route_self_join` —
        or from a catalog cache (r12 verdict #4: repeat callers reuse the
        decision through ``IndexLifecycle.self_join_auto`` instead of
        re-paying the two O(n) routing passes per call). The exact branch
        re-applies the row/byte gates against the decision's n — a cached
        record never weakens the bound."""
        if decision["plan"] == "probe":
            return self.self_join(
                corpus, k, metric=metric, id_col=id_col, vec_col=vec_col,
                nprobe_sym=decision["nprobe_sym"])
        dim_row = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d")).first()
        )
        dim = int(dim_row["d"]) if dim_row else 0
        est_bytes = decision["n"] * dim * 8
        if decision["n"] > exact_collect_limit or est_bytes > exact_collect_bytes:
            raise ValueError(
                f"self-join on {decision['n']} rows × dim {dim} "
                f"(~{est_bytes / 2**30:.1f} GiB of query vectors on the "
                f"driver) is scan-bound (sampled recall "
                f"{decision['sampled_recall']} below bar "
                f"{decision['recall_bar']} within candidate fraction "
                f"{decision['max_candidate_fraction']}) and exceeds "
                f"exact_collect_limit={exact_collect_limit} rows or "
                f"exact_collect_bytes={exact_collect_bytes}: no plan meets "
                f"the bar. Lower recall_bar / raise max_candidate_fraction "
                f"to accept approximate results, or call self_join() with "
                f"an explicit nprobe_sym."
            )
        from vector_db_api_spark.operators.knn import knn_batch_numpy

        rows = corpus.filter(F.col(vec_col).isNotNull()).select(
            id_col, vec_col).collect()
        all_queries = [
            (str(r[id_col]), [float(x) for x in r[vec_col]]) for r in rows
        ]
        return knn_batch_numpy(corpus, all_queries, k, metric=metric,
                               id_col=id_col, vec_col=vec_col)

    def search_batch(
        self,
        corpus: DataFrame,
        assignments: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        nprobe: int | None = None,
        broadcast_probes: bool = True,
    ) -> DataFrame:
        """Batch ANN: ONE job answers every query in ``queries``.

        Plan: (query_id, centroid_id) probe pairs join the posting table on
        ``centroid_id`` — partition-prunable when the postings are stored
        partitioned by centroid — giving (query_id, id) candidates with no
        dedup needed (each id lives in exactly one posting list), then exact
        re-rank via :func:`rerank_pairs`. ``broadcast_probes`` as in
        ``SignLSH.search_batch`` (Q × nprobe rows — tiny)."""
        from vector_db_api_spark.operators.knn import rerank_pairs

        probes = self.assign_queries(
            queries, query_id_col, query_vec_col, nprobe=nprobe
        )
        if broadcast_probes:
            probes = F.broadcast(probes)
        if vec_col in assignments.columns:
            # IVF-Flat posting table: the probe join already carries the
            # candidate vectors (one copy per id by construction — no
            # dedup, no corpus hydration join)
            pairs = probes.join(assignments, "centroid_id").select(
                query_id_col, id_col, vec_col
            )
            return rerank_pairs(
                corpus, queries, pairs, k, metric=metric, id_col=id_col,
                vec_col=vec_col, query_id_col=query_id_col,
                query_vec_col=query_vec_col, vec_in_pairs=True,
            )
        pairs = probes.join(assignments, "centroid_id").select(
            query_id_col, id_col
        )
        return rerank_pairs(
            corpus, queries, pairs, k, metric=metric, id_col=id_col,
            vec_col=vec_col, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
