"""Registry invariants: the driver contract must not silently regress."""

from __future__ import annotations

from vector_db_api_spark import suite

# The driver checks the first 50 entries in this order.
WINDOW = [
    "knn_cosine_top10", "doc_span_dedup", "doc_ccnet_buckets",
    "doc_winnowing_np", "doc_repetition_np", "minhash_lsh_pairs",
    "dedup_components", "simhash_np", "embedding_neardup_mp",
    "doc_semantic_decontaminate", "semdedup_drop_np_hotcell",
    "doc_quality_model", "stream_semdedup_compacted", "lsh_search_batch_top10",
    "doc_semantic_decontaminate_blocked", "ivf_search_batch_top10",
    "doc_semantic_decontaminate_blocked_np", "pq_search_batch_top10",
    "stream_semantic_decontaminate_state", "doc_lm_nll_join",
    "doc_leakage_split", "doc_dsir_select_fast", "knn_batch_numpy_ids_top5",
    "doc_hybrid_rrf", "doc_temperature_sample", "events_sessions",
    "skew_salted_agg", "stream_bm25_compacted", "stream_curate_compacted",
    "doc_semantic_decontaminate_np", "stream_line_dedup_compacted",
    "doc_line_dedup", "doc_sample_hash", "span_overlap_pairs", "doc_pii",
    "events_anomalies", "rel_idle_customers", "stream_span_dedup_compacted",
    "multimodal_embed", "events_zorder", "crud_engine_index_delete",
    "search_e2e", "corpus_curate_full", "corpus_clean_modern",
    "embed_subword_knn_top10", "knn_self_join_ivf_sym", "stream_kmv_state",
    "events_pivot", "doc_token_count_bpe", "corpus_vocabulary",
]


def test_window_is_declared_explicitly():
    assert list(suite.SUITE)[:50] == WINDOW


def test_window_is_full_and_oracle_backed():
    names = list(suite.SUITE)
    assert len(names) >= 50
    missing_oracle = [n for n in names[:50] if suite.SUITE[n].oracle is None]
    assert missing_oracle == [], f"rows-only entries inside the window: {missing_oracle}"


def test_every_oracle_entry_has_a_callable_and_sql():
    for name, entry in suite.SUITE.items():
        assert callable(entry.fn), name
        assert isinstance(entry.op_class, str) and entry.op_class, name
        if entry.oracle is not None:
            assert isinstance(entry.oracle, str) and "SELECT" in entry.oracle.upper(), name


def test_queries_and_oracle_sql_views_agree():
    qs, osql = suite.queries(), suite.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) == len(suite.SUITE)


def test_rotation_policy_every_class_keeps_a_window_rep():
    """Every operator class keeps an entry inside the 50-entry window,
    except the exceptions suite.WINDOW_CLASS_EXCEPTIONS names, so a change
    to the window cannot silently strand a class."""
    entries = list(suite.SUITE.values())
    covered = {e.op_class for e in entries[:50]}
    uncovered = {e.op_class for e in entries} - covered
    assert uncovered == set(suite.WINDOW_CLASS_EXCEPTIONS), (
        f"classes without an in-window rep: "
        f"{sorted(uncovered - set(suite.WINDOW_CLASS_EXCEPTIONS))}"
        f" (or an exception regained a rep and should leave "
        f"WINDOW_CLASS_EXCEPTIONS)"
    )


def test_sampled_scale_oracles_are_registered_and_seeded():
    """The two quadratic-oracle self-join entries carry
    SAMPLED full-scale oracle twins (seeded ~1% query subset, portable
    h32 on both engines) so sf1+ sweeps hash real values instead of
    running SPARK-ONLY. Pins: the twins point at real SUITE entries, the
    sample literal matches on both sides, and the sampled SQL embeds the
    same ranked/top-k tail as the full oracle."""
    assert set(suite.SAMPLED_SCALE_ORACLES) == {
        "knn_self_join_top3", "knn_self_join_ivf_sym"
    }
    for name, twin in suite.SAMPLED_SCALE_ORACLES.items():
        assert name in suite.SUITE
        assert suite._SJ_SAMPLE_SALT in twin["oracle"]
        assert f"% {suite._SJ_SAMPLE_MOD} = 0" in twin["oracle"]
        assert callable(twin["spark_filter"])
        # the sampled oracle keeps the full oracle's compare columns
        full = suite.SUITE[name].oracle
        for col in ("query_id", "vec_id", "score"):
            assert col in twin["oracle"] and col in full
