"""Local deterministic embedder, end-to-end (r9 verdict #5).

Twins the reference's external-embedding integration family
(tests/integration/test_cohere_embeddings.py:47-373) with a NO-NETWORK
model — :func:`hashed_ngram_embedder`, a hashed bag-of-features random
projection — run through the engine's real write path (ingest → chunk →
embed → upsert → index) and search path, asserting the same properties the
reference asserts against Cohere:

- embedding generation: right dimension, distinct texts → distinct vectors
  (reference :52-72);
- consistency: identical text → identical vector across calls (:202-216);
- same dimension regardless of text length (:218-233);
- end-to-end semantic ranking: a topical query's top hit comes from the
  expected topic family, under flat AND lsh AND ivf index configs
  (reference :233 / test_semantic_similarity_ranking — lexical/subword
  similarity stands in for distributional similarity, so queries share
  vocabulary stems with their target family);
- related concepts score higher than unrelated ones (:174-195).
"""

from __future__ import annotations

import numpy as np

from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.operators.embed import embed_texts, hashed_ngram_embedder

TOPICS = {
    "dogs": "Dogs are loyal pets and friendly companions for families.",
    "cats": "Cats are independent pets that enjoy climbing and napping.",
    "ml": "Machine learning algorithms learn patterns from training data.",
    "dl": "Deep learning uses neural networks to recognize complex patterns.",
    "cooking": "Cooking a hearty stew requires patience and careful seasoning.",
    "baking": "Baking crusty bread needs precise measurements of flour and yeast.",
}
QUERIES = [
    ("Which pets are loyal companions?", {"dogs", "cats"}),
    ("How do neural networks learn patterns from data?", {"ml", "dl"}),
    ("What seasoning goes into a hearty stew?", {"cooking", "baking"}),
]


def _cos(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_embedder_generation_consistency_dims():
    emb = hashed_ngram_embedder(dim=64)
    texts = list(TOPICS.values())
    mat = emb(texts)
    assert mat.shape == (len(texts), 64)
    # distinct texts → distinct vectors (reference :66-69)
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            assert not np.array_equal(mat[i], mat[j])
    # consistency across calls (reference test_embedding_consistency)
    again = emb([texts[0]])
    assert np.array_equal(mat[0], again[0])
    # same dim for short and long text (reference test_embedding_dimensions)
    short_long = emb(["Short text", "A much longer text " * 10])
    assert short_long.shape == (2, 64)
    # no tokens → the zero vector (documented contract)
    assert not emb(["?!??"]).any()


def test_related_concepts_more_similar_than_unrelated():
    """Reference :174-195: AI and ML texts must be more similar to each
    other than to an unrelated topic."""
    emb = hashed_ngram_embedder(dim=64)
    mat = emb([TOPICS["ml"], TOPICS["dl"], TOPICS["dogs"]])
    assert _cos(mat[0], mat[1]) > _cos(mat[0], mat[2])
    assert _cos(mat[0], mat[1]) > _cos(mat[1], mat[2])


def test_embed_index_search_ranking_all_index_types(spark, tmp_path_factory):
    """The reference's end-to-end flow (embed → chunks:bulk → search) and
    its semantic-ranking assertion (:233), through the engine's OWN write
    path (ingest_document_text with the pluggable embedder — the Cohere
    client seam) and all three index families."""
    model = hashed_ngram_embedder(dim=64)
    eng = Engine(spark, str(tmp_path_factory.mktemp("embed_sem")))
    eng.create_library("sem", 64, IndexConfig("flat"), library_id="L")
    for key, text in TOPICS.items():
        res = eng.ingest_document_text("L", text, document_id=key,
                                       embedder=model)
        assert res == {"document_id": key, "chunks": 1}

    configs = [
        IndexConfig("flat"),
        IndexConfig("lsh", {"num_tables": 8, "hyperplanes_per_table": 2}),
        IndexConfig("ivf", {"num_centroids": 2, "nprobe": 2}),
    ]
    for cfg in configs:
        eng.update_index_config("L", cfg)
        eng.rebuild_index("L")
        for query, expected in QUERIES:
            qv = model([query])[0].tolist()
            hits = eng.search("L", qv, k=3)
            assert 0 < len(hits) <= 3
            for h in hits:  # score present and non-negative (ref :165-170)
                assert isinstance(h["score"], float) and h["score"] >= 0.0
            top_doc = hits[0]["document_id"]
            assert top_doc in expected, (
                f"{cfg.type}: query {query!r} ranked {top_doc!r} first, "
                f"expected one of {sorted(expected)}"
            )


def test_words_only_variant_matches_sql_replay(spark):
    """The SQL-replayable configuration (char_ngrams=(), max_words capped)
    must produce vectors DuckDB recomputes bit-for-bit — the property the
    embed_semantic_knn_top10 registry oracle relies on."""
    import duckdb

    texts = [
        "Dogs are loyal pets. Dogs! dogs,  and 2 cats?",
        "",
        "punctuation-only ... !!!",
    ]
    mat = hashed_ngram_embedder(dim=8, char_ngrams=(), max_words=4)(texts)
    comp = (
        "(CAST(('0x' || substring(md5(f || '|' || CAST(j AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 1000000) / 1000000.0 * 2.0 - 1.0"
    )
    sql = f"""
    SELECT list_transform(range(0, 8), j ->
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(
          list_transform(
            list_slice(regexp_extract_all(lower(t), '[a-z0-9]+'), 1, 4),
            w -> 'w|' || w),
          f -> {comp})),
        (acc, x) -> acc + x)) AS v
    FROM (SELECT unnest(?) AS t)
    """
    got = [row[0] for row in duckdb.sql(sql, params=[texts]).fetchall()]
    for i, want in enumerate(mat):
        assert got[i] == list(want), texts[i]


def test_embed_texts_accepts_ngram_model(spark):
    """The mapInPandas plumbing runs the n-gram model unchanged (same seam
    a real sentence-transformer would use)."""
    docs = spark.createDataFrame(
        [("a", TOPICS["dogs"]), ("b", TOPICS["ml"]), ("c", None)],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r["embedding"]
        for r in embed_texts(
            docs, model_fn=hashed_ngram_embedder(dim=64), dim=64
        ).collect()
    }
    assert out["c"] is None
    local = hashed_ngram_embedder(dim=64)([TOPICS["dogs"], TOPICS["ml"]])
    assert out["a"] == list(local[0]) and out["b"] == list(local[1])
