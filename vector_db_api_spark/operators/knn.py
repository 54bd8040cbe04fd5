"""Brute-force (exact) kNN — the Spark re-expression of the reference's
FlatIndex (src/vector_db_api/indexing/flat.py:8-28) plus the search service's
hydration and post-filter semantics (src/vector_db_api/services/search.py:18-75).

Execution model at scale:

- Single query: the query vector is a literal folded into the score
  expression → one scan of the corpus, whole-stage codegen, partial top-k per
  partition merged on the driver (TakeOrderedAndProject). No shuffle.
- Query batch: broadcast the (small) query side, crossJoin against the
  corpus, window top-k per query_id. One shuffle, partitioned by query_id.
- Arrow/numpy path (``knn_batch_numpy``): for throughput-bound batches, a
  mapInPandas matmul scores an entire Arrow batch of corpus rows against all
  queries at once (~10-100× over row-at-a-time Python; still scan-parallel).

Reference-parity details:
- ties broken by id ascending (reference order is arbitrary; we are stricter)
- rows with NULL embeddings are never scored (services/library.py:84-86)
- post-filters apply AFTER top-k, so fewer than k rows may return
  (services/search.py:52-62)
- ``k > corpus`` returns the whole corpus, scored (test_flat.py:162-174)
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from vector_db_api_spark.functions import vector as V
from vector_db_api_spark.operators.topk import topk, topk_per_group
from vector_db_api_spark.session import local_frame


def knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact top-k over a corpus for ONE query vector.

    Returns (id_col, *extra_cols, score) ordered by score desc, id asc.
    """
    e = V.as_double_array(vec_col)
    embedded = corpus.filter(F.col(vec_col).isNotNull())
    if metric == "cosine":
        # constant-fold the query norm (Python fold == Spark fold bits) and
        # materialize the row norm in its own projection so the non-cheap
        # HOF fold is NOT duplicated into the when-condition and the
        # denominator (CollapseProject keeps non-cheap aliases separate):
        # per row exactly two folds run — dot + norm(row)
        qn = V.const_norm(query_vec)
        if qn == 0.0:
            scored = embedded.withColumn("score", F.lit(0.0))
        else:
            q = V.const_array(query_vec)
            scored = embedded.withColumn("__ne", V.norm(e)).withColumn(
                "score",
                F.when(F.col("__ne") == 0.0, F.lit(0.0)).otherwise(
                    V.dot(e, q) / (F.col("__ne") * F.lit(qn))
                ),
            )
    else:
        q = V.as_double_array(V.const_array(query_vec))
        scored = embedded.withColumn("score", V.similarity(metric, e, q))
    scored = scored.select(id_col, *extra_cols, "score")
    return topk(scored, [F.desc("score"), F.col(id_col).asc()], k)


def knn_scores(emb, query_vec: Sequence[float], metric: str = "cosine"):
    """The scores :func:`knn` gives the rows of a float32 matrix held on the
    driver, bit for bit: each metric is the same left fold over the
    dimension in float64 as the ``aggregate``/``zip_with`` expressions,
    one IEEE operation at a time (``acc = acc + e[:, j] * q[j]``, no fused
    multiply-add, no pairwise summation), the query norm is
    ``V.const_norm``'s, and a zero norm scores 0.0 under cosine."""
    import numpy as np

    q = [float(x) for x in query_vec]
    e = np.asfortranarray(emb, dtype=np.float64)

    def fold(term) -> np.ndarray:
        acc = np.zeros(e.shape[0])
        for j in range(len(q)):
            acc = acc + term(e[:, j], q[j])
        return acc

    if metric == "cosine":
        qn = V.const_norm(q)
        if qn == 0.0:
            return np.zeros(e.shape[0])
        dot = fold(lambda x, y: x * y)
        ne = np.sqrt(fold(lambda x, _: x * x))
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(ne == 0.0, 0.0, dot / (ne * qn))
    if metric == "euclidean":
        return 1.0 / (1.0 + np.sqrt(fold(lambda x, y: (x - y) * (x - y))))
    if metric == "dot_product":
        return fold(lambda x, y: x * y)
    raise ValueError(f"Unknown metric: {metric!r}; expected one of {V.METRICS}")


def top_k_order(scores, ids: Sequence, k: int) -> list[int]:
    """Positions of the top ``k`` of ``scores`` in :func:`knn`'s order —
    score descending with NaN first, as Spark sorts doubles, then id
    ascending (NULL first). Only the rows scoring at least the k-th best
    are sorted in Python."""
    import numpy as np

    s = np.where(np.isnan(scores), np.inf, scores)
    cand = range(len(s))
    if len(s) > k:
        cand = np.flatnonzero(s >= -np.partition(-s, k - 1)[k - 1])

    def key(i):
        x, id_ = float(scores[i]), ids[i]
        return (x == x, -x if x == x else 0.0, id_ is not None, id_ or "")

    return sorted(cand, key=key)[:k]


def row_post_filter(
    doc_ids: Sequence[str] | None = None,
    tags: Sequence[str] | None = None,
    author: str | None = None,
    created_after: datetime | None = None,
):
    """:func:`apply_post_filters` as a predicate over one hit held on the
    driver (a mapping of the hit columns, ``created_at`` in microseconds
    since the epoch), with SQL's three-valued semantics: a NULL column
    fails every filter on it. None when a filter value is one the driver
    would not compare as Spark does — only strings, and a ``datetime`` for
    ``created_after``, are taken."""
    from pyspark.sql.types import TimestampType

    if (tags is not None and not all(isinstance(t, str) for t in tags)) or (
        author is not None and not isinstance(author, str)
    ) or (created_after is not None and not isinstance(created_after, datetime)):
        return None
    docs = None if doc_ids is None else {str(d) for d in doc_ids}
    wanted = None if tags is None else set(tags)
    # F.lit(datetime)'s conversion: a naive value is local time
    after = None if created_after is None else TimestampType().toInternal(created_after)

    def keep(h) -> bool:
        return (
            (docs is None or h["document_id"] in docs)
            and (wanted is None or (h["tags"] is not None
                                    and not wanted.isdisjoint(h["tags"])))
            and (author is None or h["author"] == author)
            and (after is None or (h["created_at"] is not None
                                   and h["created_at"] > after))
        )

    return keep


def empty_hits(
    corpus: DataFrame, id_col: str = "id", extra_cols: Sequence[str] = ()
) -> DataFrame:
    """Zero rows of :func:`knn`'s output schema, ``(id_col, *extra_cols,
    score)`` — for probes that can reach no candidate (a zero query)."""
    fields = [
        StructField(c, corpus.schema[c].dataType) for c in (id_col, *extra_cols)
    ]
    return local_frame(
        corpus.sparkSession, [],
        StructType([*fields, StructField("score", DoubleType())]),
    )


def hydrate_hits(
    hits: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "id",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Attach ``extra_cols`` of ``corpus`` to the ``(id_col, score)`` top-k
    ``hits`` of :func:`knn` — for re-ranks that never read the corpus (an
    in-place posting or bucket table). An inner join on ``id_col``: a hit
    whose id is not in ``corpus`` drops. The joined rows are a top-k again,
    in knn's order, so a caller's sort by ``(-score, id)`` needs no
    shuffle."""
    if not extra_cols:
        return hits
    out = hits.join(corpus.select(id_col, *extra_cols), id_col).select(
        id_col, *extra_cols, "score"
    )
    return topk(out, [F.desc("score"), F.col(id_col).asc()], k)


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k per query for a BATCH of queries.

    Broadcast the small query side; score with a JVM fold; window top-k per
    query. The row_number ≤ k predicate makes Catalyst insert
    ``WindowGroupLimit(Partial)`` BEFORE the shuffle (Spark ≥ 3.5), so each
    map task forwards only its own top-k rows per query — the full N·Q
    scored rows never hit the exchange. Verified by the plan-shape test;
    a hand-rolled map-side reduction (``partial_topk_per_group``) exists for
    engines without that rule but is strictly slower here (it would drag
    every scored row through an Arrow round-trip that Catalyst then
    re-sorts).
    Returns (query_id, id, score).
    """
    e = V.as_double_array(vec_col)
    qcols = [
        F.col(query_id_col).alias("__qid"),
        V.as_double_array(query_vec_col).alias("__qv"),
    ]
    if metric == "cosine":
        # query norms materialize INSIDE the broadcast build (once per
        # query, not once per corpus×query pair)
        qcols.append(V.norm(V.as_double_array(query_vec_col)).alias("__qn"))
    q = F.broadcast(queries.select(*qcols))
    embedded = corpus.filter(F.col(vec_col).isNotNull())
    if metric == "cosine":
        # row norm computed BEFORE the join: once per corpus row, not once
        # per corpus×query pair
        scored = embedded.withColumn("__ne", V.norm(e)).crossJoin(q).withColumn(
            "score",
            F.when((F.col("__ne") == 0.0) | (F.col("__qn") == 0.0), F.lit(0.0))
            .otherwise(V.dot(e, F.col("__qv")) / (F.col("__ne") * F.col("__qn"))),
        )
    else:
        scored = embedded.crossJoin(q).withColumn(
            "score", V.similarity(metric, e, F.col("__qv"))
        )
    scored = scored.select(
        F.col("__qid").alias(query_id_col), F.col(id_col), F.col("score")
    )
    return topk_per_group(
        scored,
        [query_id_col],
        [F.desc("score"), F.col(id_col).asc()],
        k,
    )


def knn_batch_numpy(
    corpus: DataFrame,
    queries: list[tuple[str, list[float]]],
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    max_query_matrix_bytes: int = 2 << 30,
) -> DataFrame:
    """Arrow-vectorized exact kNN: numpy matmul per Arrow batch via
    mapInPandas, then window top-k. The fast path for large query batches
    (avoids one fold evaluation per (row, query) pair).

    Partial top-k happens inside each batch (heap-free: argpartition), so
    only ~k rows per (batch, query) reach the shuffle.

    Contract (r12 verdict #3 byte audit): the query matrix rides a
    broadcast — EVERY executor materializes len(queries) × dim × 8 bytes,
    and each Arrow batch additionally holds a (batch_rows × len(queries))
    float64 score block. ``max_query_matrix_bytes`` bounds the broadcast
    estimate up front (a row count alone is byte-blind — 1M queries at
    dim 8192 is ~65 GB per executor); past it, chunk the queries and call
    this per chunk, or use an ANN index path.
    """
    import numpy as np

    from vector_db_api_spark.functions.ship import ship_model

    if queries:
        est = len(queries) * len(queries[0][1]) * 8
        if est > max_query_matrix_bytes:
            raise ValueError(
                f"query matrix {len(queries)} × {len(queries[0][1])} "
                f"(~{est / 2**30:.1f} GiB) exceeds max_query_matrix_bytes="
                f"{max_query_matrix_bytes}; every executor holds a full "
                f"copy via broadcast. Chunk the query batch or use an ANN "
                f"index path."
            )
    qids = [str(qid) for qid, _ in queries]
    # big query batches ride a broadcast, not every task's closure
    shipped = ship_model(corpus, np.asarray([v for _, v in queries], dtype=np.float64))

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id string, {id_col} {id_type}, score double"

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qmat = shipped.get()
        qnorm = np.linalg.norm(qmat, axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if metric == "cosine":
                norms = np.linalg.norm(mat, axis=1)
                denom = np.outer(norms, qnorm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = np.where(denom > 0, (mat @ qmat.T) / np.where(denom == 0, 1, denom), 0.0)
            elif metric == "dot_product":
                scores = mat @ qmat.T
            elif metric == "euclidean":
                d2 = (
                    (mat * mat).sum(axis=1)[:, None]
                    - 2.0 * (mat @ qmat.T)
                    + (qmat * qmat).sum(axis=1)[None, :]
                )
                scores = 1.0 / (1.0 + np.sqrt(np.maximum(d2, 0.0)))
            else:
                raise ValueError(f"Unknown metric: {metric!r}")
            ids = pdf[id_col].to_numpy()
            kk = min(k, scores.shape[0])
            # One vectorized argpartition + gather for the whole batch
            # instead of a Python loop building one tiny DataFrame per
            # query (Q constructions + a Q-way concat per batch dominated
            # the kernel at large Q; the corpus-as-queries self-join runs
            # Q = n). Which of several rows tied at the k-th score
            # argpartition keeps is implementation-defined, so the columns
            # whose boundary is tied are re-ranked by the oracle's
            # (-score, id) rule; untied columns pay one comparison pass.
            if kk < scores.shape[0]:
                idx = np.argpartition(-scores, kk - 1, axis=0)[:kk]
                kth = np.take_along_axis(scores, idx, axis=0).min(axis=0)
                tied = np.flatnonzero((scores >= kth).sum(axis=0) > kk)
                if tied.size:
                    id_rank = np.argsort(np.argsort(ids, kind="stable"))
                    sub = scores[:, tied]
                    order = np.lexsort(
                        (np.broadcast_to(id_rank[:, None], sub.shape), -sub),
                        axis=0,
                    )
                    idx[:, tied] = order[:kk]
            else:
                idx = np.broadcast_to(
                    np.arange(scores.shape[0])[:, None], scores.shape
                )
            sel_scores = np.take_along_axis(scores, idx, axis=0)
            qarr = np.asarray(qids, dtype=object)
            yield pd.DataFrame(
                {
                    "query_id": np.broadcast_to(
                        qarr[None, :], idx.shape
                    ).ravel(),
                    id_col: ids[idx].ravel(),
                    "score": sel_scores.ravel(),
                }
            )

    partial = corpus.filter(F.col(vec_col).isNotNull()).mapInPandas(
        score_batches, schema=out_schema
    )
    return topk_per_group(
        partial, ["query_id"], [F.desc("score"), F.col(id_col).asc()], k
    )


def apply_post_filters(
    hits: DataFrame,
    doc_ids: Sequence[str] | None = None,
    tags: Sequence[str] | None = None,
    author: str | None = None,
    created_after: datetime | None = None,
    doc_id_col: str = "document_id",
    tags_col: str = "tags",
    author_col: str = "author",
    created_at_col: str = "created_at",
) -> DataFrame:
    """Reference post-filter semantics (services/search.py:40-62), applied
    AFTER top-k: doc-id membership, ANY-overlap tags, author equality,
    strictly-after created_at."""
    out = hits
    if doc_ids is not None:
        out = out.filter(F.col(doc_id_col).isin([str(d) for d in doc_ids]))
    if tags is not None:
        out = out.filter(
            F.arrays_overlap(F.col(tags_col), F.array(*[F.lit(t) for t in tags]))
        )
    if author is not None:
        out = out.filter(F.col(author_col) == F.lit(author))
    if created_after is not None:
        out = out.filter(F.col(created_at_col) > F.lit(created_after))
    return out


def rerank_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    pairs: DataFrame,
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_in_pairs: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact re-rank of precomputed (query_id, id) candidate pairs — the
    shared tail of every batch ANN path (LSH/IVF ``search_batch``).

    ``pairs`` must be duplicate-free per (query_id, id): duplicates would
    occupy two ranks in the window and surface the same hit twice.

    Scale shape: candidates join the corpus on ``id_col`` (the pair set is
    a tiny fraction of the corpus — AQE picks broadcast when it fits), the
    query side is explicitly broadcast, and the final per-query top-k is one
    window shuffle on ``query_id`` over ≤ |pairs| scored rows — never over
    corpus × queries like a naive crossJoin.

    ``vec_in_pairs=True``: ``pairs`` already carries ``vec_col`` (a
    self-contained LSH bucket table probe), so the corpus hydration join is
    skipped entirely — one fewer shuffle/broadcast stage.

    ``broadcast_queries=False``: for CORPUS-SIZED query sides (the
    IVF self-join feeds the whole corpus as queries) a forced broadcast is
    the same driver-OOM cliff the r10 sf1 sweep caught in ngram_jaccard —
    leave the join strategy to Catalyst/AQE instead (shuffled hash/SMJ on
    ``query_id_col``, both sides partition cleanly)."""
    scored = score_pairs(
        corpus, queries, pairs, metric=metric, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, vec_in_pairs=vec_in_pairs,
        broadcast_queries=broadcast_queries,
    )
    return topk_per_group(
        scored, [query_id_col], [F.desc("score"), F.col(id_col).asc()], k
    )


def score_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    pairs: DataFrame,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_in_pairs: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """The hydration+scoring body of :func:`rerank_pairs` (every batch ANN
    path), without the final top-k — exposed so symmetric callers (the IVF
    self-join) can score each unordered pair once and mirror.

    r16 (guide §1.2 per-pair work): the cosine path no longer inlines
    ``V.similarity`` per pair. The inline expression re-evaluated
    ``norm(e)`` and ``norm(q)`` in BOTH the zero-guard and the denominator
    — 4 interpreted norm folds + 1 dot fold per scored pair (HOFs are
    CodegenFallback, so no codegen CSE saves it; verified in the committed
    r16 before-plans: the score Project carries four ``SQRT(aggregate(``
    subtrees). Now the double-cast vector and its norm materialize ONCE
    per corpus row BELOW the hydration join (the knn_batch pattern), and
    query norms materialize inside the (broadcast) query build — per pair
    exactly one dot fold runs. Arithmetic is bit-identical: same cast,
    same fold order, same ``(norm_e * norm_q)`` product order, same
    zero-guard ordering."""
    if metric == "cosine":
        q = queries.select(
            F.col(query_id_col),
            V.as_double_array(query_vec_col).alias("__qv"),
            V.norm(V.as_double_array(query_vec_col)).alias("__qn"),
        )
    else:
        q = queries.select(
            F.col(query_id_col),
            V.as_double_array(query_vec_col).alias("__qv"),
        )
    if broadcast_queries:
        q = F.broadcast(q)
    if vec_in_pairs:
        cand = pairs.select(query_id_col, id_col, vec_col)
        if metric == "cosine":
            # self-contained pair tables carry the vector per pair — the
            # cast/norm hoist here is per pair, still 4 folds → 2
            cand = cand.select(
                query_id_col, id_col,
                V.as_double_array(vec_col).alias("__ev"),
            ).withColumn("__ne", V.norm("__ev"))
    else:
        if metric == "cosine":
            # cast + norm BELOW the join: once per corpus row, not once
            # per (corpus row × pair) — the values ride the join
            hydr = corpus.select(
                F.col(id_col), V.as_double_array(vec_col).alias("__ev")
            ).withColumn("__ne", V.norm("__ev"))
            cand = hydr.join(pairs.select(query_id_col, id_col), id_col, "inner")
        else:
            cand = corpus.join(
                pairs.select(query_id_col, id_col), id_col, "inner"
            )
    if metric == "cosine":
        score = F.when(
            (F.col("__ne") == 0.0) | (F.col("__qn") == 0.0), F.lit(0.0)
        ).otherwise(
            V.dot("__ev", "__qv") / (F.col("__ne") * F.col("__qn"))
        )
    else:
        score = V.similarity(metric, V.as_double_array(vec_col), F.col("__qv"))
    return cand.join(q, query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        score.alias("score"),
    )


def knn_quantized(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int,
    oversample: int = 4,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    quant_col: str = "embedding_q",
) -> DataFrame:
    """Two-stage search over int8-quantized embeddings
    (functions/quant.py): stage 1 scores the dequantized codes and keeps
    ``oversample × k`` candidates; stage 2 re-ranks exactly those against
    the float column.

    Why this wins at 100 TB: the quantized column is ~4× smaller, so the
    full-corpus scan of stage 1 reads a quarter of the bytes; stage 2
    touches the float vectors of only ``oversample·k`` rows (broadcast
    semi-join → TakeOrderedAndProject). Reconstruction error is bounded by
    scale/2 per component, so modest oversampling recovers the exact top-k
    (recall pinned by test).

    ``corpus`` must carry both ``quant_col`` (struct scale/codes) and
    ``vec_col``; at deployment they live in separate column families /
    files so stage 1 never reads the floats.
    """
    from vector_db_api_spark.functions.quant import dequantize_int8

    stage1 = topk(
        corpus.select(
            id_col,
            V.similarity_const(
                metric, dequantize_int8(F.col(quant_col)), query_vec
            ).alias("__qscore"),
        ),
        [F.desc("__qscore"), F.col(id_col).asc()],
        oversample * k,
    ).select(id_col)
    survivors = corpus.join(F.broadcast(stage1), id_col, "left_semi")
    return knn(survivors, query_vec, k, metric=metric, id_col=id_col, vec_col=vec_col)
