"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

It measures and records; it does not judge. Each row gets its warm wall
time, and the Spark jobs and stages its last warm pass launched, counted
by DAG-scheduler id range (so jobs submitted from pool threads count too).
The counts are deterministic, so they are the cross-run signal: the
artifact lists the rows whose counts differ from the committed
BENCH_DETAIL.md. Wall times are host-dependent and are reported raw.

Execution is forced with the ``noop`` sink so every column is actually
computed (a bare ``count()`` would let Catalyst prune the scored columns).

Measurement protocol: one COLD pass over the whole suite (pays plan/codegen
compilation, reported in aggregate as ``cold_first_run_sec``), then THREE
timed passes; each row reports the MEDIAN of its three warm runs, which
absorbs one outlier in either direction. Full passes rather than
back-to-back repeats, so a transient load/GC spike cannot hit every
measurement of one query, and a JVM GC is forced between passes so blocks
released by the previous pass cannot bleed GC pressure into the next.

Index-backed searches (lsh/ivf/pq) time the SEARCH path; their build cost
is reported separately as ``lsh_build``/``ivf_build``/``pq_build``, since
builds are periodic batch jobs and searches are the hot path. The ANN
query vector is drawn FROM the corpus (find-similar-to-this-item), so
``recall_at_10`` is measured where recall is meaningful; a random Gaussian
query has no true neighbors in the data.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from perfbench.sparkcount import SparkCounter
from vector_db_api_spark import suite
from vector_db_api_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    # search paths
    "knn_cosine_top10",
    "knn_batch_top5",
    "knn_batch_numpy_top5",
    "search_e2e",
    # dedup / text pipeline
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "exact_duplicates",
    # cross-document duplicated-span removal (substring dedup)
    "doc_span_dedup",
    # CCNet-style line-level boilerplate removal
    "doc_line_dedup",
    "embedding_neardup",
    "embedding_neardup_np",
    "embedding_neardup_mp",
    "embedding_neardup_mp_np",
    "semdedup_drop_np",
    "semdedup_drop_np_hotcell",
    "doc_quality",
    "doc_quality_model_join",
    "doc_winnowing",
    "doc_winnowing_np",
    "simhash_np",
    "emb_quantize_int8",
    "corpus_clean",
    # relational / events
    "events_hourly",
    "rel_top_customers",
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_ship_priority",
    "rel_customer_running_total",
    # skew + streaming-dedup batch paths
    "skew_salted_join",
    "events_first_seen",
    "events_sessions",
    "events_type_stats",
    "events_asof",
    "events_distinct_kmv",
    "events_value_histogram",
    # curation
    "doc_sample_hash",
    "doc_packing",
    # temporal joins / gapfill
    "events_interval_join",
    "events_gapfill",
    # decontamination / repetition / lexical+hybrid retrieval
    "doc_decontaminate",
    # the embedding form (paraphrase leaks; broadcast-NLJ eval side):
    # fold oracle twin + Arrow/BLAS production twin
    "doc_semantic_decontaminate",
    "doc_semantic_decontaminate_np",
    # the cell-blocked production path for large eval sides
    # (fold oracle twin + probe-and-score-fused BLAS twin)
    "doc_semantic_decontaminate_blocked",
    "doc_semantic_decontaminate_blocked_np",
    "doc_repetition",
    "doc_repetition_np",
    "doc_bm25",
    "doc_hybrid_rrf",
    # DSIR data selection: fit + score + top-k over the pool;
    # _fast = the plain-SUM scoring twin
    "doc_dsir_select",
    "doc_dsir_select_fast",
    # chunking / span overlap / pii / layout / profile
    "doc_chunking",
    "span_overlap_pairs",
    "doc_pii",
    "events_zorder",
    "doc_temperature_sample",
    "corpus_profile",
    "corpus_vocabulary",
    "doc_lm_nll",
    "doc_lm_nll_join",
    # CCNet perplexity buckets (the exact-NTILE oracle twin; the approx
    # production twin is pinned plan-only in pytest)
    "doc_ccnet_buckets",
    "multimodal_embed",
    "doc_leakage_split",
    "events_anomalies",
    "knn_quantized_top10",
    # mutations
    "crud_upsert",
]

# the scale the committed BENCH_DETAIL.md is measured at; a run at any
# other sf writes BENCH_SF{sf}.md with a raw scaling table instead
CANONICAL_SF = 0.1


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _detail_json(body: str) -> dict | None:
    """The JSON block of a BENCH_DETAIL.md / BENCH_SF*.md body."""
    try:
        det = json.loads(body.split("```json", 1)[1].split("```", 1)[0])
    except (IndexError, ValueError):
        return None
    return det if isinstance(det, dict) else None


def _head_detail(here: str) -> dict | None:
    """The JSON of BENCH_DETAIL.md as committed at HEAD: a working-tree
    copy may be left over from any earlier run."""
    try:
        res = subprocess.run(
            ["git", "-C", here, "show", "HEAD:BENCH_DETAIL.md"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return _detail_json(res.stdout) if res.returncode == 0 else None


def _counter_diff_section(prior: dict | None, detail: dict) -> str:
    """Markdown table of the rows whose job or stage count differs from
    ``prior`` (HEAD's detail JSON), with both counts and the raw warm
    seconds of this run."""
    head = "\n## Job and stage counts vs HEAD\n\n"
    if not prior or "jobs" not in prior or "stages" not in prior:
        return head + ("HEAD has no BENCH_DETAIL.md with job/stage counts; "
                       "nothing to compare.\n")
    pj, ps = prior["jobs"], prior["stages"]
    jobs, stages = detail["jobs"], detail["stages"]
    changed = [n for n in jobs
               if (pj.get(n), ps.get(n)) != (jobs[n], stages[n])]
    if not changed:
        return head + f"All {len(jobs)} rows match HEAD's counts.\n"

    def _c(v) -> str:
        return "—" if v is None else str(v)

    lines = [
        f"{len(changed)} of {len(jobs)} rows differ from HEAD.\n",
        "| row | jobs before | jobs after | stages before | stages after "
        "| warm s |",
        "|---|---|---|---|---|---|",
    ]
    for n in changed:
        lines.append(
            f"| {n} | {_c(pj.get(n))} | {jobs[n]} | {_c(ps.get(n))} "
            f"| {stages[n]} | {detail['queries'][n]:.3f} |"
        )
    return head + "\n".join(lines) + "\n"


def _scaling_section(base: dict | None, timings: dict[str, float],
                     sf_val: float | str) -> str:
    """Markdown table of raw warm-time ratios of a non-canonical sf run
    against ``base`` (the canonical detail JSON), next to the data growth
    factor. Host speed is not divided out, so a ratio means something only
    when both runs used the same host."""
    if not base or not base.get("queries"):
        return "\n(no canonical BENCH_DETAIL.md to scale against)\n"
    base_q = base["queries"]
    base_sf = float(base.get("sf", CANONICAL_SF))
    try:
        growth = float(sf_val) / base_sf
    except (TypeError, ValueError):
        return "\n(non-numeric sf; no scaling table)\n"
    rows = sorted(
        ((now / base_q[name], name, base_q[name], now)
         for name, now in timings.items() if base_q.get(name, 0) > 0),
        reverse=True,
    )
    lines = [
        f"\n## Scaling vs canonical sf{base_sf} (data growth {growth:.2f}x)\n",
        f"| query | sf{base_sf} (s) | sf{sf_val} (s) | ratio |",
        "|---|---|---|---|",
    ]
    lines += [f"| {name} | {b:.2f} | {now:.2f} | {r:.2f}x |"
              for r, name, b, now in rows]
    if rows:
        lines.append(
            f"\nMedian time ratio: **{rows[len(rows) // 2][0]:.2f}x** over "
            f"{len(rows)} shared queries at {growth:.2f}x the data.\n"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    spark = get_spark("bench")
    qs = suite.queries()
    counter = SparkCounter(spark)
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}

    def _count(name: str, mark: tuple[int, int]) -> None:
        j1, s1 = counter.mark()
        jobs[name], stages[name] = j1 - mark[0], s1 - mark[1]

    # warm the JVM/codegen once on a trivial job so query 1 isn't charged
    # for session startup
    spark.range(1000).selectExpr("sum(id)").collect()

    # -- build the full thunk list (headline + ANN search paths) ----------
    from vector_db_api_spark.operators.ivf import IVFIndex
    from vector_db_api_spark.operators.knn import knn
    from vector_db_api_spark.operators.lsh import SignLSH, build_bucket_table
    from vector_db_api_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    # corpus-drawn ANN query: "find items similar to this one". Sorted
    # before limit(): the loader's round-robin spread makes a bare limit()
    # partition-order-dependent under AQE, which would move recall_at_10 /
    # candidate_fraction between runs. Every query-sampling site in this
    # file picks by id order for the same reason.
    qrows = emb.orderBy("vec_id").limit(32).collect()
    qv = [float(x) for x in qrows[0]["embedding"]]
    qdf = spark.createDataFrame(
        [(f"q{r['vec_id']}", [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id string, query_vec array<double>",
    ).cache()
    qdf.count()

    build: dict[str, float] = {}
    n_corpus = emb.count()

    # Builds are run once warm and then timed, like every query thunk: a
    # cold build time is mostly first-touch JIT/Arrow codegen. The cold
    # head is still visible in cold_first_run_sec.
    def _warm_build(name, make):
        """make() -> (model, cached_df); run once warm, discard, re-run
        timed and counted — train + layout + cache-materialize."""
        _, df = make()
        df.count()
        df.unpersist()
        mark = counter.mark()
        t0 = time.time()
        model, df = make()
        df.count()
        build[name] = round(time.time() - t0, 3)
        _count(name, mark)
        return model, df

    # H auto-derived from corpus size (bounded probed-rows per table under
    # the multiprobe-1 default); a fixed H sized for sf0.01 gives deep
    # buckets and poor recall at sf0.1.
    # Self-contained bucket table (vectors co-located, the L× space/time
    # trade): single-query probes re-rank in place with NO corpus join,
    # one job instead of probe + broadcast-semi-join.
    def _mk_lsh():
        m = SignLSH.auto_size(n_corpus, dim=64, seed=42)
        return m, build_bucket_table(
            m, emb, id_col="vec_id", include_vectors=True).cache()

    model, buckets = _warm_build("lsh_build", _mk_lsh)

    # IVF-Flat posting layout (vectors in the posting rows, one copy per
    # id): probes re-rank in place with no corpus hydration join
    def _mk_ivf():
        m = IVFIndex.auto_train(emb, n_rows=n_corpus, seed=42)
        return m, m.assign(emb, id_col="vec_id", include_vectors=True).cache()

    ivf, assignments = _warm_build("ivf_build", _mk_ivf)

    from vector_db_api_spark.operators.pq import PQIndex

    def _mk_pq():
        m = PQIndex.train(emb, m=8, k=64, seed=42)
        return m, m.encode(emb, id_col="vec_id").cache()

    pqm, pq_codes = _warm_build("pq_build", _mk_pq)

    thunks = {
        name: (lambda n=name: _force(qs[n](spark, SF_DIR))) for name in HEADLINE
    }
    thunks["lsh_search"] = lambda: _force(
        model.search(emb, buckets, qv, 10, id_col="vec_id", pad_to_k=False,
                     multiprobe=0)
    )
    thunks["lsh_search_mp1"] = lambda: _force(
        model.search(emb, buckets, qv, 10, id_col="vec_id", pad_to_k=False)
    )
    thunks["ivf_search"] = lambda: _force(
        ivf.search(emb, assignments, qv, 10, id_col="vec_id")
    )
    # compressed-scan search: ADC over the 16-byte codes column, exact
    # re-rank of the top-4k candidates — the memory-bound path at 100 TB
    thunks["pq_search"] = lambda: _force(
        pqm.search(emb, pq_codes, qv, 10, id_col="vec_id")
    )
    # full IVF-PQ: nprobe cell pruning × 16x byte compression multiply
    pq_cell_codes = pq_codes.join(
        assignments.select("vec_id", "centroid_id"), "vec_id"
    ).cache()
    pq_cell_codes.count()
    thunks["ivfpq_search"] = lambda: _force(
        pqm.search_cells(emb, pq_cell_codes, ivf, qv, 10, id_col="vec_id")
    )
    thunks["ivf_search_np8"] = lambda: _force(
        ivf.search(emb, assignments, qv, 10, id_col="vec_id", nprobe=8)
    )
    # 32-query batches through the index paths: ONE job per batch (the
    # per-query driver loop would launch 32)
    thunks["lsh_search_batch32"] = lambda: _force(
        model.search_batch(emb, buckets, qdf, 10, id_col="vec_id")
    )
    thunks["ivf_search_batch32"] = lambda: _force(
        ivf.search_batch(emb, assignments, qdf, 10, id_col="vec_id")
    )
    # batch ADC: one codes pass for the whole batch, map-side partial top-k
    thunks["pq_search_batch32"] = lambda: _force(
        pqm.search_batch(emb, pq_codes, qdf, 10, id_col="vec_id")
    )
    # approximate similarity self-join — the 100-TB path of the dedup
    # pipeline's most expensive stage as a FIRST-CLASS operator: the whole
    # corpus as the query batch through the IVF probe → pruned posting
    # join → re-rank plan (exact twin: knn_self_join_np / oracle-checked
    # knn_self_join_top3); recall vs exact reported below
    corpus_queries = emb.select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    ).cache()
    corpus_queries.count()
    thunks["knn_self_join_ivf"] = lambda: _force(
        ivf.search_batch(emb, assignments, corpus_queries, 4, id_col="vec_id")
    )
    # symmetric multi-probe self-join: both sides probe 2 cells, pairs
    # candidate on probe-set intersection, which recovers boundary recall;
    # the recall/candidate-fraction curve lives in BENCH_SCALE.md
    thunks["knn_self_join_ivf_sym"] = lambda: _force(
        ivf.self_join(emb, 4, id_col="vec_id", nprobe_sym=2)
    )
    # full exact kNN self-join (every vector × every vector, top-3) via the
    # Arrow/numpy matmul path — the throughput variant of the oracle-exact
    # knn_self_join_top3 correctness query (fold path: exact but ~15× the
    # flops-per-second cost; correctness runs it at sf0.01)
    from vector_db_api_spark.operators.knn import knn_batch_numpy

    all_queries = [
        (str(r["vec_id"]), [float(x) for x in r["embedding"]])
        # id-ordered so the [:64] recall sample below is deterministic
        # whatever the loader's row order
        for r in emb.orderBy("vec_id").collect()
    ]
    thunks["knn_self_join_np"] = lambda: _force(
        knn_batch_numpy(emb, all_queries, 4, id_col="vec_id")
    )
    # auto-routed self-join: the measured wall INCLUDES the routing probe
    # (ranked probe pass + per-p pair-count histograms + sampled recall)
    # plus whichever plan it dispatches — on this isotropic corpus that is
    # the exact numpy plan, so the delta vs knn_self_join_np IS the
    # router's decision cost
    thunks["knn_self_join_auto"] = lambda: _force(
        ivf.self_join_auto(emb, 4, id_col="vec_id", sample_queries=64)
    )
    # the repeat-caller path: the routing decision persisted through the
    # catalog (IndexLifecycle.self_join_auto). The cold pass measures and
    # caches the decision; the timed passes hit the cache, so this row IS
    # the probe-skipped second call. Delta vs knn_self_join_auto = the
    # per-call routing cost the cache removes (minus one fingerprint scan).
    import tempfile as _tf

    from vector_db_api_spark.lifecycle import IndexConfig, IndexLifecycle

    _lc = IndexLifecycle(spark, _tf.mkdtemp(prefix="bench_lc_"))
    _lc.rebuild("benchlib", emb, IndexConfig("ivf", {}), dim=64,
                id_col="vec_id")
    thunks["knn_self_join_auto_cached"] = lambda: _force(
        _lc.self_join_auto("benchlib", emb, 4, id_col="vec_id",
                           sample_queries=64)
    )

    # -- cold pass + three timed passes (median) --------------------------
    def _gc_flush() -> None:
        """Force a JVM GC so blocks released by the previous pass (local
        checkpoints, shuffle files awaiting ContextCleaner) are reclaimed
        before the next pass is timed."""
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.5)

    cold: dict[str, float] = {}
    for name, thunk in thunks.items():
        t0 = time.time()
        thunk()
        cold[name] = round(time.time() - t0, 3)

    timings: dict[str, float] = dict(build)
    runs: dict[str, list[float]] = {name: [] for name in thunks}
    for _ in range(3):
        _gc_flush()
        for name, thunk in thunks.items():
            mark = counter.mark()
            t0 = time.time()
            thunk()
            runs[name].append(time.time() - t0)
            _count(name, mark)  # overwritten each pass: the last one stays
    for name, samples in runs.items():
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)

    # recall@10 of the ANN paths vs the exact scan — the bar is speedup AT
    # BOUNDED RECALL, so the bench reports both sides of the tradeoff
    # NOTE: the synthetic embeddings are isotropic (nearest-neighbor cosine
    # ≈ 0.41, no cluster structure), the hardest possible regime for ANN —
    # sub-linear search at recall ~1.0 is information-theoretically
    # unavailable there. Selectivity (fraction of the corpus scanned) is
    # reported so the recall number can be read against its cost; the
    # clustered-regime section below measures the same auto-sized indexes
    # where ANN applies, and the ≥0.9 @ ≤5% contract is additionally pinned
    # in tests/test_lsh_ivf.py::test_autosized_recall_bar.
    exact_ids = {r["vec_id"] for r in knn(emb, qv, 10, id_col="vec_id").collect()}

    def ann_recall(ids):
        return round(len(ids & exact_ids) / len(exact_ids), 3)

    lsh_ids = {r["vec_id"] for r in model.search(
        emb, buckets, qv, 10, id_col="vec_id", pad_to_k=False).collect()}
    lsh_mp1_ids = {r["vec_id"] for r in model.search(
        emb, buckets, qv, 10, id_col="vec_id", pad_to_k=False,
        multiprobe=1).collect()}
    ivf_ids = {r["vec_id"] for r in ivf.search(
        emb, assignments, qv, 10, id_col="vec_id").collect()}
    ivf_np8_ids = {r["vec_id"] for r in ivf.search(
        emb, assignments, qv, 10, id_col="vec_id", nprobe=8).collect()}
    pq_ids = {r["vec_id"] for r in pqm.search(
        emb, pq_codes, qv, 10, id_col="vec_id").collect()}
    recall = {
        "lsh_search": ann_recall(lsh_ids),
        "lsh_search_mp1": ann_recall(lsh_mp1_ids),
        "ivf_search": ann_recall(ivf_ids),
        "ivf_search_np8": ann_recall(ivf_np8_ids),
        # pq scans ALL rows but 16× fewer bytes; its "candidate fraction"
        # is the exact-rerank set (4k / n)
        "pq_search": ann_recall(pq_ids),
    }
    selectivity = {
        "lsh_search": round(
            model.candidates(buckets, qv, id_col="vec_id").count() / n_corpus, 3),
        "lsh_search_mp1": round(
            model.candidates(buckets, qv, id_col="vec_id", multiprobe=1).count()
            / n_corpus, 3),
        "ivf_search": round(
            assignments.filter(
                F.col("centroid_id").isin(ivf.probe_centroids(qv))
            ).count() / n_corpus, 3),
        "ivf_search_np8": round(
            assignments.filter(
                F.col("centroid_id").isin(ivf.probe_centroids(qv, nprobe=8))
            ).count() / n_corpus, 3),
        "pq_search": round(40 / n_corpus, 3),  # exact-rerank set (4·k)
    }

    # recall of the approximate self-join vs the exact top-3 neighbor sets
    # (sampled queries — the exact all-pairs reference at full width is the
    # knn_self_join_np job itself)
    from vector_db_api_spark.operators.knn import knn_batch

    sample_q = [(qid, vec) for qid, vec in all_queries[:64]]
    sq_df = spark.createDataFrame(
        sample_q, "query_id string, query_vec array<double>"
    )
    exact_sj = (
        knn_batch(emb, sq_df, 4, id_col="vec_id")
        .filter(F.col("query_id") != F.col("vec_id").cast("string"))
        .groupBy("query_id").agg(F.collect_set("vec_id").alias("ids"))
        .collect()
    )
    approx_sj = (
        ivf.search_batch(emb, assignments, sq_df, 4, id_col="vec_id")
        .filter(F.col("query_id") != F.col("vec_id").cast("string"))
        .groupBy("query_id").agg(F.collect_set("vec_id").alias("ids"))
        .collect()
    )
    approx_by_q = {r["query_id"]: set(r["ids"]) for r in approx_sj}
    sj_hits = sj_total = 0
    for r in exact_sj:
        want = set(r["ids"])
        sj_hits += len(want & approx_by_q.get(r["query_id"], set()))
        sj_total += len(want)
    recall["knn_self_join_ivf"] = round(sj_hits / max(sj_total, 1), 3)

    # -- clustered regime: same auto-sized indexes on clustered vectors ----
    # (the geometry ANN exists for; same corpus size as the isotropic table)
    from vector_db_api_spark.sources.synthetic_vectors import clustered_corpus

    cdf = clustered_corpus(spark, n_corpus, dim=64, n_clusters=64,
                           spread=0.05).cache()
    cdf.count()
    cmodel = SignLSH.auto_size(n_corpus, dim=64, seed=42)
    cbuckets = build_bucket_table(cmodel, cdf).cache()
    cbuckets.count()
    civf = IVFIndex.auto_train(cdf, n_rows=n_corpus, seed=42)
    casg = civf.assign(cdf).cache()
    casg.count()
    cpq = PQIndex.train(cdf, m=8, k=64, seed=42)
    ccodes = cpq.encode(cdf).cache()
    ccodes.count()
    crows = cdf.orderBy("id").limit(8).collect()  # id-ordered: deterministic
    c_lsh_rec, c_lsh_frac, c_ivf_rec, c_ivf_frac = [], [], [], []
    c_pq_rec = []
    for r in crows:
        cq = [float(x) for x in r["embedding"]]
        c_exact = {x["id"] for x in knn(cdf, cq, 10).collect()}
        c_lsh = {x["id"] for x in cmodel.search(
            cdf, cbuckets, cq, 10, pad_to_k=False).collect()}
        c_lsh_rec.append(len(c_lsh & c_exact) / 10)
        c_lsh_frac.append(
            cmodel.candidates(cbuckets, cq, multiprobe=1).count() / n_corpus)
        c_ivf = {x["id"] for x in civf.search(cdf, casg, cq, 10).collect()}
        c_ivf_rec.append(len(c_ivf & c_exact) / 10)
        c_ivf_frac.append(casg.filter(
            F.col("centroid_id").isin(civf.probe_centroids(cq))
        ).count() / n_corpus)
        # PQ's rerank pool must cover the cluster multiplicity: ADC cannot
        # rank within a tight cluster, so the pool IS the recall knob (the
        # 4k default recalled 0.25 at n=20k, where clusters hold ~n/64
        # members; curve in BENCH_SCALE.md "PQ rerank pool"). n/50 = 2% of
        # the corpus, still a ~50x scan reduction before the exact re-rank.
        c_pq = {x["id"] for x in cpq.search(
            cdf, ccodes, cq, 10, rerank=max(40, n_corpus // 50)
        ).collect()}
        c_pq_rec.append(len(c_pq & c_exact) / 10)
    recall["lsh_clustered"] = round(sum(c_lsh_rec) / len(c_lsh_rec), 3)
    recall["ivf_clustered"] = round(sum(c_ivf_rec) / len(c_ivf_rec), 3)
    recall["pq_clustered"] = round(sum(c_pq_rec) / len(c_pq_rec), 3)
    # approximate self-join in ITS regime: near-dup corpora are clustered
    # by construction (that's what makes them deduplicable)
    csq = cdf.orderBy("id").limit(64).select(
        F.col("id").cast("string").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    c_exact_sj = (
        knn_batch(cdf, csq, 4)
        .filter(F.col("query_id") != F.col("id").cast("string"))
        .groupBy("query_id").agg(F.collect_set("id").alias("ids"))
        .collect()
    )
    c_approx_sj = (
        civf.search_batch(cdf, casg, csq, 4)
        .filter(F.col("query_id") != F.col("id").cast("string"))
        .groupBy("query_id").agg(F.collect_set("id").alias("ids"))
        .collect()
    )
    c_by_q = {r["query_id"]: set(r["ids"]) for r in c_approx_sj}
    cj_hits = cj_total = 0
    for r in c_exact_sj:
        want = set(r["ids"])
        cj_hits += len(want & c_by_q.get(r["query_id"], set()))
        cj_total += len(want)
    recall["knn_self_join_ivf_clustered"] = round(cj_hits / max(cj_total, 1), 3)
    selectivity["lsh_clustered"] = round(sum(c_lsh_frac) / len(c_lsh_frac), 3)
    selectivity["ivf_clustered"] = round(sum(c_ivf_frac) / len(c_ivf_frac), 3)
    recall_bar = {
        "target": "recall>=0.9 at candidate_fraction<=0.05 (clustered regime)",
        "lsh": bool(recall["lsh_clustered"] >= 0.9
                    and selectivity["lsh_clustered"] <= 0.05),
        "ivf": bool(recall["ivf_clustered"] >= 0.9
                    and selectivity["ivf_clustered"] <= 0.05),
    }

    here = os.path.dirname(os.path.abspath(__file__))
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "jobs": {name: jobs[name] for name in timings},
        "stages": {name: stages[name] for name in timings},
        "recall_at_10": recall,
        "candidate_fraction": selectivity,
        "recall_bar": recall_bar,
        "cold_first_run_sec": round(sum(cold.values()), 3),
        "sf": sf_val,
    }
    # Full detail: an early stdout line + a committed artifact. The driver
    # captures only the last ~2000 chars of stdout, so the LAST line must be
    # a compact headline.
    print(json.dumps(detail))
    # the subset rule, with computed counts, so a reader can't mistake the
    # benched subset for the registry size
    subset_note = (
        f"\n## What's benched and why\n\n"
        f"This artifact times {len(thunks)} query thunks + {len(build)} "
        f"index builds = {len(timings)} rows, out of {len(qs)} registered "
        f"suite entries. The subset is bench.py's HEADLINE list plus the "
        f"ANN search/build paths: ONE production-shaped thunk per operator "
        f"family. Excluded by design: expression-oracle twins whose numpy "
        f"production twin IS benched (the oracle shape exists for DuckDB "
        f"parity, not throughput), per-entry CRUD micro-ops covered by "
        f"crud_upsert, and fixed-model SQL replays (correctness artifacts). "
        f"Every registered entry — benched or not — runs under the driver's "
        f"correctness sweep and tools/check_correctness.py.\n"
    )
    body = "```json\n" + json.dumps(detail, indent=1) + "\n```\n"
    try:
        if sf_val == CANONICAL_SF:
            with open(os.path.join(here, "BENCH_DETAIL.md"), "w") as f:
                f.write("# Bench detail (written by bench.py)\n\n" + body
                        + _counter_diff_section(_head_detail(here), detail)
                        + subset_note)
        else:
            # a scale run never touches the canonical artifact
            with open(os.path.join(here, f"BENCH_SF{sf}.md"), "w") as f:
                f.write(f"# Bench at sf{sf} (written by bench.py)\n\n" + body
                        + _scaling_section(_head_detail(here), timings, sf_val)
                        + subset_note)
    except OSError:
        pass
    headline_queries = [
        "corpus_clean", "minhash_lsh_pairs", "embedding_neardup_np",
        "semdedup_drop_np", "events_distinct_kmv",
        "simhash_np", "doc_winnowing_np", "doc_repetition_np", "doc_bm25",
        "doc_hybrid_rrf", "events_hourly", "events_sessions",
        "rel_revenue_by_nation", "knn_self_join_ivf", "ivf_search_batch32",
        "lsh_search", "crud_upsert",
    ]
    headline = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {q: round(timings[q], 2) for q in headline_queries
                    if q in timings},
        "n_queries": len(timings),
        "recall_bar": {"lsh": recall_bar["lsh"], "ivf": recall_bar["ivf"]},
        "recall_clustered": {
            "lsh": recall.get("lsh_clustered"),
            "ivf": recall.get("ivf_clustered"),
            "pq": recall.get("pq_clustered"),
        },
        "cold_first_run_sec": round(sum(cold.values()), 2),
        "sf": sf_val,
        "detail": "BENCH_DETAIL.md",
    }
    line = json.dumps(headline)
    assert len(line) <= 1500, f"headline line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
