"""Exact kNN: ordering, k>N, null exclusion, post-filter semantics, and the
equality of the three scoring paths (single, batch-fold, batch-numpy)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from vector_db_api_spark.operators import knn as KNN


@pytest.fixture(scope="module")
def small_corpus(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (5, None),  # un-embedded chunk — must never be scored
    ]
    return spark.createDataFrame(rows, "id bigint, embedding array<float>")


def test_knn_ordering_and_null_exclusion(small_corpus):
    hits = KNN.knn(small_corpus, [1.0, 0.0, 0.0], 4).collect()
    assert [r["id"] for r in hits] == [1, 2, 3, 4]
    assert hits[0]["score"] == pytest.approx(1.0)
    assert hits[-1]["score"] == pytest.approx(-1.0)
    assert all(r["id"] != 5 for r in hits)


def test_knn_k_greater_than_corpus(small_corpus):
    # reference test_flat.py:162-174 — k > N returns the whole (embedded) corpus
    hits = KNN.knn(small_corpus, [1.0, 0.0, 0.0], 100).collect()
    assert len(hits) == 4


def test_knn_extra_cols_hydration(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "en"), (2, [0.0, 1.0], "de")],
        "id bigint, embedding array<float>, lang string",
    )
    hits = KNN.knn(df, [1.0, 0.0], 1, extra_cols=("lang",)).collect()
    assert hits[0]["lang"] == "en"


def test_post_filters_after_topk(spark):
    hits = spark.createDataFrame(
        [(1, "d1", ["a"], "alice", 0.9), (2, "d2", ["b"], "bob", 0.8)],
        "id bigint, document_id string, tags array<string>, author string, score double",
    )
    out = KNN.apply_post_filters(hits, doc_ids=["d1"], tags=["a"], author="alice")
    rows = out.collect()
    # post-filter applies AFTER top-k → may return fewer than k
    assert [r["id"] for r in rows] == [1]


def test_knn_batch_matches_single(clustered_df, clustered_vectors):
    _, mat, _ = clustered_vectors
    qs = [("qa", [float(x) for x in mat[3]]), ("qb", [float(x) for x in mat[77]])]
    queries = spark_df = clustered_df.sparkSession.createDataFrame(
        qs, "query_id string, query_vec array<double>"
    )
    batch = KNN.knn_batch(clustered_df, queries, 5)
    got = {
        qid: [r["id"] for r in sorted(rows, key=lambda r: (-r["score"], r["id"]))]
        for qid, rows in _group(batch.collect(), "query_id").items()
    }
    for qid, vec in qs:
        single = [r["id"] for r in KNN.knn(clustered_df, vec, 5).collect()]
        assert got[qid] == single, f"batch != single for {qid}"


def test_knn_batch_numpy_matches_fold(clustered_df, clustered_vectors):
    _, mat, _ = clustered_vectors
    qs = [("q0", [float(x) for x in mat[0]]), ("q1", [float(x) for x in mat[500 - 1]])]
    queries = clustered_df.sparkSession.createDataFrame(
        qs, "query_id string, query_vec array<double>"
    )
    fold = _group(KNN.knn_batch(clustered_df, queries, 5).collect(), "query_id")
    fast = _group(KNN.knn_batch_numpy(clustered_df, qs, 5).collect(), "query_id")
    for qid in dict(qs):
        ids_fold = sorted(r["id"] for r in fold[qid])
        ids_fast = sorted(r["id"] for r in fast[qid])
        assert ids_fold == ids_fast
        # scores agree to float tolerance (different summation orders)
        sf = {r["id"]: r["score"] for r in fold[qid]}
        sn = {r["id"]: r["score"] for r in fast[qid]}
        for i in sf:
            assert sf[i] == pytest.approx(sn[i], rel=1e-9)



@pytest.mark.parametrize("n_parts", [1, 4])
def test_knn_batch_numpy_breaks_boundary_ties_by_id(spark, n_parts):
    """Sixty rows drawn from three distinct vectors: every query's k-th
    score is tied across ~20 rows. The kept ids must be the (-score, id)
    top-k, the order the registry oracles use, not whichever tied rows
    argpartition happens to keep. Small-integer coordinates make every
    dot product exact, so duplicated rows score bit-identically."""
    rng = np.random.default_rng(5)
    protos = np.array([[1, 0, 0, 0], [1, 1, 0, 0], [0, 1, 1, 0]], dtype=np.float64)
    mat = protos[rng.integers(0, 3, size=60)]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        "id bigint, embedding array<double>",
    ).repartition(n_parts)
    qs = [("qa", [1.0, 0.0, 0.0, 0.0]), ("qb", [1.0, 1.0, 0.0, 0.0]),
          ("qc", [0.0, 1.0, 1.0, 0.0])]
    k = 5
    got = _group(KNN.knn_batch_numpy(corpus, qs, k).collect(), "query_id")
    norms = np.linalg.norm(mat, axis=1)
    ids = np.arange(60)
    for qid, q in qs:
        qv = np.asarray(q)
        scores = (mat @ qv) / (norms * np.linalg.norm(qv))
        want = ids[np.lexsort((ids, -scores))][:k].tolist()
        assert sorted(r["id"] for r in got[qid]) == sorted(want), qid


def _group(rows, key):
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def test_embed_texts_deterministic_pluggable_nullsafe(spark):
    """The embed hook (operators/embed.py): deterministic default model,
    null texts embed as null, and a custom model_fn plugs in (the
    reference's Cohere integration shape as a mapInPandas stage)."""
    import numpy as np

    from vector_db_api_spark.operators.embed import embed_texts, fake_md5_embedder

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "gamma")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r["embedding"] for r in embed_texts(docs, dim=8).collect()}
    assert out[2] is None
    assert len(out[1]) == 8
    # bit-exact vs a driver-side call of the same model
    want = fake_md5_embedder(8)(["alpha beta"])[0]
    assert out[1] == list(want)
    # repeated runs identical (no per-partition state)
    again = {r["doc_id"]: r["embedding"] for r in embed_texts(docs, dim=8).collect()}
    assert again == out
    # pluggable model_fn: constant vectors
    ones = embed_texts(
        docs, model_fn=lambda ts: np.ones((len(ts), 4)), dim=4
    ).collect()
    assert all(r["embedding"] == [1.0] * 4 for r in ones if r["doc_id"] != 2)
    # shape mismatch surfaces, not silently truncates
    import pytest as _pytest

    with _pytest.raises(Exception, match="shape"):
        embed_texts(docs, model_fn=lambda ts: np.ones((len(ts), 3)), dim=4).collect()
