"""Streaming-at-scale sweep (r10 verdict #5): drain the stateful streaming
operators against a LARGE sf dir (default /tmp/sf1 — 1M events / 50k docs /
20k vectors), with real micro-batch granularity where the semantics allow
it, and record what the gate-scale sweeps never showed:

- PER-BATCH wall + input rows, from the StreamingQuery's progress log;
- the on-disk STATE-STORE size after the drain (epoch-partitioned parquet);
- the served result checked against the SAME DuckDB oracle the registry
  uses (the stream-vs-batch equality bar, now at 100× the gate scale).

Epoch granularity per family (chosen so the oracle stays EXACT):

- bm25 postings: 8 files → 8 micro-batches (each doc lands in exactly one
  epoch; latest_rows max-epoch dedup makes the epoch split invisible);
- kmv sketches: 8 files → 8 micro-batches (KMV merge theorem: any split
  merges to the single-pass sketch bit-for-bit);
- semdedup: the registry's 2-epoch even/odd split (the oracle replays that
  exact two-stage greedy — MORE epochs would change the admitted set);
- trending rollup: single availableNow batch (the watermark would drop
  time-unordered late files under a forced split; the suite contract is
  drain-then-serve).

Prints a markdown section for CORRECTNESS_LOCAL.md.

Usage: python tools/stream_sf1.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

from pyspark.sql import functions as F  # noqa: E402

from check_correctness import canon, duck_con  # noqa: E402
from vector_db_api_spark import suite  # noqa: E402
from vector_db_api_spark.session import get_spark  # noqa: E402
from vector_db_api_spark.sources.tables import load_table  # noqa: E402


def _du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return round(total / 1e6, 2)


def _batches(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        if p is None:
            continue
        out.append({
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "sec": round((p.get("durationMs") or {}).get(
                "triggerExecution", 0) / 1000.0, 2),
        })
    return [b for b in out if b["rows"] or b["sec"]]


def _oracle_ok(con, name: str, df) -> tuple[bool, int]:
    sql = suite.oracle_sql()[name]
    srows, scols = canon([tuple(r) for r in df.collect()], df.columns)
    res = con.execute(sql)
    drows, dcols = canon(res.fetchall(), [d[0] for d in res.description])
    return (srows == drows and [c.lower() for c in scols]
            == [c.lower() for c in dcols]), len(srows)


def _write_id_ordered_batches(docs, src: str, nb: int = 8) -> None:
    """Write ``docs`` as ``nb`` sequential single-file id-range parquets
    whose arrival order under FileStreamSource is EXPLICIT: each append's
    new files get a strictly increasing mtime stamp. The source orders
    equal-mtime files by PATH (random part names), so on a coarse-mtime
    filesystem back-to-back appends could otherwise reorder micro-batches
    and spuriously fail the id-ordered batch-oracle equality (ADVICE r13)."""
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    step = (hi - lo + nb) // nb
    stamped: set[str] = set()
    base = time.time()
    for i in range(nb):
        docs.filter(
            (F.col("doc_id") >= lo + i * step)
            & (F.col("doc_id") < lo + (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(src)
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if p not in stamped and not name.startswith(("_", ".")):
                os.utime(p, (base + i, base + i))
                stamped.add(p)


def run_bm25(spark, con, sf_dir, report):
    from vector_db_api_spark.operators.keyword import bm25_scores_postings
    from vector_db_api_spark.streaming.ingest import (
        incremental_postings_ingest,
        latest_rows,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_stream_bm25_")
    src, pp, dp, ck = (f"{tmp}/{d}" for d in ("src", "postings", "doclens", "ck"))
    suite._docs(spark, sf_dir).select("doc_id", "text").repartition(8) \
        .write.mode("overwrite").parquet(src)
    t0 = time.time()
    q = incremental_postings_ingest(
        spark, src, "doc_id bigint, text string", pp, dp, ck,
        max_files_per_trigger=1,
    )
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = bm25_scores_postings(
        latest_rows(spark.read.parquet(pp)),
        latest_rows(spark.read.parquet(dp)),
        suite.BM25_QUERY,
    )
    ok, n = _oracle_ok(con, "stream_bm25_state", served)
    report("stream_bm25 (8 epochs)", wall, _batches(q),
           _du_mb(pp) + _du_mb(dp), ok, n)


def run_kmv(spark, con, sf_dir, report):
    from vector_db_api_spark.streaming.ingest import (
        incremental_kmv_ingest,
        served_kmv_estimates,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_stream_kmv_")
    src, sp, ck = (f"{tmp}/{d}" for d in ("src", "state", "ck"))
    load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    ).repartition(8).write.mode("overwrite").parquet(src)
    t0 = time.time()
    q = incremental_kmv_ingest(
        spark, src, "event_type string, user_id bigint", sp, ck,
        ["event_type"], "user_id", k=suite._KMV_K, max_files_per_trigger=1,
    )
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = served_kmv_estimates(
        spark, sp, ["event_type"], k=suite._KMV_K
    ).withColumnRenamed("est_distinct", "est_users")
    ok, n = _oracle_ok(con, "stream_kmv_state", served)
    report("stream_kmv (8 epochs)", wall, _batches(q), _du_mb(sp), ok, n)


def run_span_dedup(spark, con, sf_dir, report):
    """r12: continuous span dedup, 8 id-ordered micro-batches. Epoch
    granularity: the batch-oracle equality needs non-decreasing ids across
    batches, so the corpus is written as 8 sequential single-file id-range
    parquets (FileStreamSource orders by mtime — the run_first_seen trick)
    and drained with maxFilesPerTrigger=1."""
    from vector_db_api_spark.streaming.dedup import incremental_span_dedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_stream_span_")
    src, sp, out, ck = (f"{tmp}/{d}" for d in ("src", "state", "out", "ck"))
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    _write_id_ordered_batches(docs, src)
    t0 = time.time()
    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = incremental_span_dedup_ingest(stream, sp, out, ck, n=suite.SPAN_N)
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_removed", "n_spans", "clean_text"
    )
    ok, n = _oracle_ok(con, "stream_span_dedup_state", served)
    report("stream_span_dedup (8 id-ordered epochs)", wall, _batches(q),
           _du_mb(sp), ok, n)


def run_semdedup(spark, con, sf_dir, report):
    from vector_db_api_spark.streaming.dedup import incremental_semdedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_stream_semdedup_")
    a, b, sp = f"{tmp}/a", f"{tmp}/b", f"{tmp}/state"
    emb = suite._emb(spark, sf_dir).select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 2 == 0).write.mode("overwrite").parquet(a)
    emb.filter(F.col("vec_id") % 2 == 1).write.mode("overwrite").parquet(b)
    cent = suite._semdedup_fixed_centroids()
    batches, t0 = [], time.time()
    for i, src in enumerate((a, b)):
        stream = spark.readStream.schema(
            "vec_id bigint, embedding array<float>"
        ).parquet(src)
        q = incremental_semdedup_ingest(
            stream, sp, f"{tmp}/ck{i}", cent, suite.NEARDUP_THRESHOLD,
            id_col="vec_id", epoch_offset=i * 1_000_000,
        )
        suite._await_stream(q, seconds=3600)
        bs = _batches(q)
        for bb in bs:
            bb["batch"] = f"epoch{i}"
        batches += bs
    wall = time.time() - t0
    served = spark.read.parquet(sp).select("vec_id")
    ok, n = _oracle_ok(con, "stream_semdedup_state", served)
    report("stream_semdedup (2 epochs)", wall, batches, _du_mb(sp), ok, n)


def run_trending(spark, con, sf_dir, report):
    served = suite.q_stream_trending_state(spark, sf_dir)
    t0 = time.time()
    n_served = served.count()
    wall = time.time() - t0
    ok, n = _oracle_ok(con, "stream_trending_state", served)
    report("stream_trending (1 availableNow batch over 1M events)",
           wall, [], None, ok, n)


def run_curate(spark, con, sf_dir, report):
    """r13 (VERDICT r12 #8): the COMPOSED curation stream — Gopher gate →
    continuous span dedup → near-dup admission in one foreachBatch
    pipeline — drained as 8 id-ordered micro-batches (the span stage's
    batch-oracle equality needs non-decreasing ids, and under id order
    the admission rule equals the oracle's smaller-id bucket check)."""
    from vector_db_api_spark.streaming.curate import incremental_curate_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_stream_curate_")
    src, sp, out, ck = (f"{tmp}/{d}" for d in ("src", "state", "out", "ck"))
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    _write_id_ordered_batches(docs, src)
    t0 = time.time()
    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = incremental_curate_ingest(
        stream, sp, out, ck, n=suite.SPAN_N, num_hashes=suite.MINHASH_P,
        bands=suite.MINHASH_BANDS, k=suite.JACCARD_K,
        gopher_thresholds={
            "min_words": suite.CURATE_MIN_WORDS,
            "min_stopwords": suite.CURATE_MIN_STOPWORDS,
        },
    )
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_removed", "n_spans",
        F.col("text").alias("clean_text"),
    )
    ok, n = _oracle_ok(con, "stream_curate_state", served)
    report("stream_curate composed (8 id-ordered epochs)", wall,
           _batches(q), _du_mb(sp), ok, n)


def run_line_dedup(spark, con, sf_dir, report):
    """r15 (VERDICT r14 #4): continuous keep-first line dedup, 8
    id-ordered micro-batches — the span recipe (id-range single files,
    explicit mtime order, maxFilesPerTrigger=1) applied to the r13 line
    stream."""
    from vector_db_api_spark.streaming.dedup import incremental_line_dedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_stream_line_")
    src, sp, out, ck = (f"{tmp}/{d}" for d in ("src", "state", "out", "ck"))
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    _write_id_ordered_batches(docs, src)
    t0 = time.time()
    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = incremental_line_dedup_ingest(stream, sp, out, ck)
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_lines", "n_lines_removed", "clean_text"
    )
    ok, n = _oracle_ok(con, "stream_line_dedup_state", served)
    report("stream_line_dedup (8 id-ordered epochs)", wall, _batches(q),
           _du_mb(sp), ok, n)


def run_semantic_decon(spark, con, sf_dir, report):
    """r15 (VERDICT r14 #4): the continuous semantic-decontamination gate
    at sf1 — the train split streams in as 8 micro-batches against the
    static prepared benchmark (collected + shipped ONCE, ADVICE r14 #4);
    the gate is stateless, so the drained epoch-stamped flags must union
    to exactly the batch _np twin's pair set at ANY granularity."""
    from vector_db_api_spark.streaming.dedup import (
        read_flags,
        streaming_semantic_decontaminate,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_stream_semdecon_")
    src, fp, ck = (f"{tmp}/{d}" for d in ("src", "flags", "ck"))
    train, bench = suite._semdecon_split(spark, sf_dir)
    train.select("vec_id", "embedding").repartition(8) \
        .write.mode("overwrite").parquet(src)
    t0 = time.time()
    q = streaming_semantic_decontaminate(
        spark, src, "vec_id bigint, embedding array<float>",
        bench, suite.SEMDECON_THRESHOLD, fp, ck,
        id_col="vec_id", bench_id_col="bench_id", max_files_per_trigger=1,
    )
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = read_flags(
        spark, fp, "vec_id bigint, bench_id bigint"
    ).select("vec_id", "bench_id")
    ok, n = _oracle_ok(con, "stream_semantic_decontaminate_state", served)
    report("stream_semantic_decon (8 epochs)", wall,
           _batches(q), _du_mb(fp), ok, n)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark("stream-sf1")
    con = duck_con(sf_dir)
    lines = [f"\n### Streaming at {sf_dir} (tools/stream_sf1.py)\n"]

    def report(name, wall, batches, state_mb, ok, n):
        lines.append(
            f"- **{name}**: drain {wall:.1f}s"
            + (f", state {state_mb} MB" if state_mb is not None else "")
            + f", served {n} rows, oracle "
            + ("**MATCH**" if ok else "**MISMATCH**")
        )
        if batches:
            per = ", ".join(
                f"b{b['batch']}={b['sec']}s/{b['rows']}r" for b in batches
            )
            lines.append(f"  - per-batch: {per}")
        print(lines[-1], flush=True)

    run_kmv(spark, con, sf_dir, report)
    run_bm25(spark, con, sf_dir, report)
    run_trending(spark, con, sf_dir, report)
    run_semdedup(spark, con, sf_dir, report)
    run_span_dedup(spark, con, sf_dir, report)
    run_curate(spark, con, sf_dir, report)
    run_line_dedup(spark, con, sf_dir, report)
    run_semantic_decon(spark, con, sf_dir, report)
    print("\n".join(lines))
    with open("/tmp/stream_sf1_section.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\nwritten: /tmp/stream_sf1_section.md")
    spark.stop()


if __name__ == "__main__":
    main()
