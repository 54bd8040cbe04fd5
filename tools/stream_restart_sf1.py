"""Restart-under-fire at sf1 (r11 verdict #7): compose the r9 mid-drain
crash harness (tests/test_streaming_restart.py) with the r10/r11 sf1 drain
sweep (tools/stream_sf1.py) — kill each custom stateful streaming operator
at the worst moment INSIDE an sf1 drain and assert the served state still
matches its oracle.

Crash point (the real at-least-once window): the drain has committed half
its epochs, the newest epoch's STATE is fully written, but the engine dies
before committing ``commits/N`` in the checkpoint. The restarted drain
replays epoch N against state that already contains N's writes, then
ingests the remaining files. Idempotence mechanisms under test, now at
50k docs / 1M events / 20k vectors:

- bm25 postings + KMV: epoch-stamped dynamic partition overwrite — the
  replay overwrites exactly its own partition;
- SemDeDup: the admission read excludes the epoch being written, so the
  replay recomputes the identical partition;
- first_seen (applyInPandasWithState): state-store version rollback + the
  parquet sink's commit log (exactly-once output). No arrival-order-free
  SQL oracle exists for first-seen winners, so its bar is equality with an
  UNINTERRUPTED sf1 reference drain; the other three check the registry's
  DuckDB oracle.

Prints a markdown section for CORRECTNESS_LOCAL.md's streaming notes.

Usage: python tools/stream_restart_sf1.py [sf_dir]
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


def _crash_after_state_write(ckpt: str) -> int:
    """Delete the newest checkpoint commit (state already written) — the
    same simulation tests/test_streaming_restart.py pins at gate scale."""
    cdir = os.path.join(ckpt, "commits")
    ids = sorted(int(n) for n in os.listdir(cdir) if n.lstrip("-").isdigit())
    os.remove(os.path.join(cdir, str(ids[-1])))
    crc = os.path.join(cdir, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return ids[-1]


def _oracle_ok(con, name: str, df) -> tuple[bool, int]:
    sql = suite.oracle_sql()[name]
    srows, scols = canon([tuple(r) for r in df.collect()], df.columns)
    res = con.execute(sql)
    drows, dcols = canon(res.fetchall(), [d[0] for d in res.description])
    return (srows == drows and [c.lower() for c in scols]
            == [c.lower() for c in dcols]), len(srows)


def run_bm25(spark, con, sf_dir, report):
    from vector_db_api_spark.operators.keyword import bm25_scores_postings
    from vector_db_api_spark.streaming.ingest import (
        incremental_postings_ingest,
        latest_rows,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_restart_bm25_")
    src, pp, dp, ck = (f"{tmp}/{d}" for d in ("src", "postings", "doclens", "ck"))
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    schema = "doc_id bigint, text string"
    t0 = time.time()
    # first half: 4 files -> 4 epochs, then crash after epoch 3's state write
    docs.filter(F.col("doc_id") % 2 == 0).repartition(4) \
        .write.mode("append").parquet(src)
    q = incremental_postings_ingest(spark, src, schema, pp, dp, ck,
                                    max_files_per_trigger=1)
    suite._await_stream(q, seconds=3600)
    replayed = _crash_after_state_write(ck)
    # second half arrives while we were down; restart replays + continues
    docs.filter(F.col("doc_id") % 2 == 1).repartition(4) \
        .write.mode("append").parquet(src)
    q = incremental_postings_ingest(spark, src, schema, pp, dp, ck,
                                    max_files_per_trigger=1)
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = bm25_scores_postings(
        latest_rows(spark.read.parquet(pp)),
        latest_rows(spark.read.parquet(dp)),
        suite.BM25_QUERY,
    )
    ok, n = _oracle_ok(con, "stream_bm25_state", served)
    report("stream_bm25", wall, replayed, ok, n, "DuckDB oracle")


def run_kmv(spark, con, sf_dir, report):
    from vector_db_api_spark.streaming.ingest import (
        incremental_kmv_ingest,
        served_kmv_estimates,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_restart_kmv_")
    src, sp, ck = (f"{tmp}/{d}" for d in ("src", "state", "ck"))
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    schema = "event_type string, user_id bigint"
    t0 = time.time()
    ev.filter(F.col("user_id") % 2 == 0).repartition(4) \
        .write.mode("append").parquet(src)
    q = incremental_kmv_ingest(spark, src, schema, sp, ck, ["event_type"],
                               "user_id", k=suite._KMV_K,
                               max_files_per_trigger=1)
    suite._await_stream(q, seconds=3600)
    replayed = _crash_after_state_write(ck)
    ev.filter(F.col("user_id") % 2 == 1).repartition(4) \
        .write.mode("append").parquet(src)
    q = incremental_kmv_ingest(spark, src, schema, sp, ck, ["event_type"],
                               "user_id", k=suite._KMV_K,
                               max_files_per_trigger=1)
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = served_kmv_estimates(
        spark, sp, ["event_type"], k=suite._KMV_K
    ).withColumnRenamed("est_distinct", "est_users")
    ok, n = _oracle_ok(con, "stream_kmv_state", served)
    report("stream_kmv", wall, replayed, ok, n, "DuckDB oracle")


def run_semdedup(spark, con, sf_dir, report):
    from vector_db_api_spark.streaming.dedup import incremental_semdedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_restart_semdedup_")
    a, b, sp = f"{tmp}/a", f"{tmp}/b", f"{tmp}/state"
    emb = suite._emb(spark, sf_dir).select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 2 == 0).write.mode("overwrite").parquet(a)
    emb.filter(F.col("vec_id") % 2 == 1).write.mode("overwrite").parquet(b)
    cent = suite._semdedup_fixed_centroids()
    t0 = time.time()
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>").parquet(a)
    q = incremental_semdedup_ingest(
        stream, sp, f"{tmp}/ck0", cent, suite.NEARDUP_THRESHOLD,
        id_col="vec_id", epoch_offset=0)
    suite._await_stream(q, seconds=3600)
    # crash after epoch 0's admission partition landed but before its commit
    replayed = _crash_after_state_write(f"{tmp}/ck0")
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>").parquet(a)
    q = incremental_semdedup_ingest(
        stream, sp, f"{tmp}/ck0", cent, suite.NEARDUP_THRESHOLD,
        id_col="vec_id", epoch_offset=0)
    suite._await_stream(q, seconds=3600)  # replays epoch 0 idempotently
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>").parquet(b)
    q = incremental_semdedup_ingest(
        stream, sp, f"{tmp}/ck1", cent, suite.NEARDUP_THRESHOLD,
        id_col="vec_id", epoch_offset=1_000_000)
    suite._await_stream(q, seconds=3600)
    wall = time.time() - t0
    served = spark.read.parquet(sp).select("vec_id")
    ok, n = _oracle_ok(con, "stream_semdedup_state", served)
    report("stream_semdedup", wall, replayed, ok, n, "DuckDB oracle")


def run_span_dedup(spark, con, sf_dir, report):
    """r12: continuous span dedup under the same crash. Batches must be
    id-ordered for batch-oracle equivalence, so the split is by median id
    (the suite entry's recipe), not parity."""
    from vector_db_api_spark.streaming.dedup import incremental_span_dedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_restart_span_")
    a, b, sp, out = f"{tmp}/a", f"{tmp}/b", f"{tmp}/state", f"{tmp}/out"
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    mid = (lo + hi) // 2
    docs.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(a)
    docs.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(b)

    def drain(src, ck, off):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        q = incremental_span_dedup_ingest(
            stream, sp, out, ck, n=suite.SPAN_N, epoch_offset=off)
        suite._await_stream(q, seconds=3600)

    t0 = time.time()
    drain(a, f"{tmp}/ck0", 0)
    # crash after epoch 0's state+output partitions landed, before commit
    replayed = _crash_after_state_write(f"{tmp}/ck0")
    drain(a, f"{tmp}/ck0", 0)  # restart replays epoch 0 idempotently
    drain(b, f"{tmp}/ck1", 1_000_000)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_removed", "n_spans", "clean_text")
    ok, n = _oracle_ok(con, "stream_span_dedup_state", served)
    report("stream_span_dedup", wall, replayed, ok, n, "DuckDB oracle")


def run_curate(spark, con, sf_dir, report):
    """r13 (VERDICT r12 #8): the COMPOSED curation stream (Gopher gate →
    span dedup → near-dup admission) under the same crash — all THREE
    sinks (gram state, bucket state, admitted output) must replay
    idempotently for the composed drain to stay oracle-exact."""
    from vector_db_api_spark.streaming.curate import incremental_curate_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_restart_curate_")
    a, b, sp, out = f"{tmp}/a", f"{tmp}/b", f"{tmp}/state", f"{tmp}/out"
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    mid = (lo + hi) // 2
    docs.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(a)
    docs.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(b)

    def drain(src, ck, off):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        q = incremental_curate_ingest(
            stream, sp, out, ck, n=suite.SPAN_N, num_hashes=suite.MINHASH_P,
            bands=suite.MINHASH_BANDS, k=suite.JACCARD_K,
            gopher_thresholds={
                "min_words": suite.CURATE_MIN_WORDS,
                "min_stopwords": suite.CURATE_MIN_STOPWORDS,
            },
            epoch_offset=off)
        suite._await_stream(q, seconds=3600)

    t0 = time.time()
    drain(a, f"{tmp}/ck0", 0)
    replayed = _crash_after_state_write(f"{tmp}/ck0")
    drain(a, f"{tmp}/ck0", 0)  # restart replays epoch 0 idempotently
    drain(b, f"{tmp}/ck1", 1_000_000)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_removed", "n_spans",
        F.col("text").alias("clean_text"))
    ok, n = _oracle_ok(con, "stream_curate_state", served)
    report("stream_curate composed", wall, replayed, ok, n, "DuckDB oracle")


def run_first_seen(spark, sf_dir, report):
    from vector_db_api_spark.streaming.dedup import (
        content_fingerprint,
        first_seen_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_restart_firstseen_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("event_type").alias("payload")
    ).withColumn("fp", content_fingerprint("payload"))
    schema = "event_id bigint, payload string, fp string"

    def run(src, out, ck):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = (
            first_seen_dedup(stream, "fp", "event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        suite._await_stream(q, seconds=3600)

    # sequential single-file writes: FileStreamSource orders files by
    # modification time, and first-seen WINNERS depend on arrival order —
    # multi-file same-mtime writes would make the reference and the
    # interrupted run disagree for reasons unrelated to the crash (the
    # gate-scale test's _three_files uses the same trick)
    quarters = [ev.filter(F.col("event_id") % 4 == i) for i in range(4)]
    t0 = time.time()
    rsrc, rout = f"{tmp}/rsrc", f"{tmp}/rout"
    for qd in quarters:
        qd.coalesce(1).write.mode("append").parquet(rsrc)
    run(rsrc, rout, f"{tmp}/rck")
    want = {(r["fp"], r["event_id"])
            for r in spark.read.parquet(rout).collect()}
    # interrupted drain: half the files, crash, rest arrives, restart
    src, out, ck = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ck"
    for qd in quarters[:2]:
        qd.coalesce(1).write.mode("append").parquet(src)
    run(src, out, ck)
    replayed = _crash_after_state_write(ck)
    for qd in quarters[2:]:
        qd.coalesce(1).write.mode("append").parquet(src)
    run(src, out, ck)
    wall = time.time() - t0
    got = {(r["fp"], r["event_id"])
           for r in spark.read.parquet(out).collect()}
    report("stream_first_seen", wall, replayed, got == want, len(got),
           "uninterrupted-reference equality (no arrival-order-free oracle)")


def run_line_dedup(spark, con, sf_dir, report):
    """r15 (VERDICT r14 #4): continuous keep-first line dedup under the
    same crash — id-ordered median split like span dedup (the batch-oracle
    equality needs non-decreasing ids)."""
    from vector_db_api_spark.streaming.dedup import incremental_line_dedup_ingest

    tmp = tempfile.mkdtemp(prefix="sf1_restart_line_")
    a, b, sp, out = f"{tmp}/a", f"{tmp}/b", f"{tmp}/state", f"{tmp}/out"
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    mid = (lo + hi) // 2
    docs.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(a)
    docs.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(b)

    def drain(src, ck, off):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        q = incremental_line_dedup_ingest(stream, sp, out, ck, epoch_offset=off)
        suite._await_stream(q, seconds=3600)

    t0 = time.time()
    drain(a, f"{tmp}/ck0", 0)
    replayed = _crash_after_state_write(f"{tmp}/ck0")
    drain(a, f"{tmp}/ck0", 0)  # restart replays epoch 0 idempotently
    drain(b, f"{tmp}/ck1", 1_000_000)
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_lines", "n_lines_removed", "clean_text")
    ok, n = _oracle_ok(con, "stream_line_dedup_state", served)
    report("stream_line_dedup", wall, replayed, ok, n, "DuckDB oracle")


def run_semantic_decon(spark, con, sf_dir, report):
    """r15 (VERDICT r14 #4): the continuous semantic-decontamination gate
    under the same crash. The gate is STATELESS (static broadcast bench),
    so the only idempotence mechanism under test is the epoch-stamped
    dynamic-overwrite flags sink — the replayed batch must overwrite
    exactly its own flag partition."""
    from vector_db_api_spark.streaming.dedup import (
        read_flags,
        streaming_semantic_decontaminate,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_restart_semdecon_")
    src, fp, ck = f"{tmp}/src", f"{tmp}/flags", f"{tmp}/ck"
    train, bench = suite._semdecon_split(spark, sf_dir)
    train = train.select("vec_id", "embedding")
    schema = "vec_id bigint, embedding array<float>"

    def drain():
        q = streaming_semantic_decontaminate(
            spark, src, schema, bench, suite.SEMDECON_THRESHOLD, fp, ck,
            id_col="vec_id", bench_id_col="bench_id",
            max_files_per_trigger=1,
        )
        suite._await_stream(q, seconds=3600)

    t0 = time.time()
    train.filter(F.col("vec_id") % 2 == 0).repartition(4) \
        .write.mode("append").parquet(src)
    drain()
    replayed = _crash_after_state_write(ck)
    train.filter(F.col("vec_id") % 2 == 1).repartition(4) \
        .write.mode("append").parquet(src)
    drain()
    wall = time.time() - t0
    served = read_flags(
        spark, fp, "vec_id bigint, bench_id bigint"
    ).select("vec_id", "bench_id")
    ok, n = _oracle_ok(con, "stream_semantic_decontaminate_state", served)
    report("stream_semantic_decon", wall, replayed, ok, n, "DuckDB oracle")


def run_span_compact_crash(spark, con, sf_dir, report):
    """r15 (VERDICT r14 #4, the compact-then-crash leg): the drain dies
    mid-batch, a maintenance compaction runs DURING recovery (engine
    down), then the restarted drain replays the uncommitted epoch and
    ingests the rest. The compaction must preserve the replay epoch
    (uncommitted_epoch -> preserve_epochs) — folding it would make the
    replay read its own gram admissions as prior state and over-remove
    (the hazard tests/test_compaction.py pins at gate scale). Oracle:
    the same batch span_dedup DuckDB replay as the uncrashed drill."""
    from vector_db_api_spark.streaming.dedup import incremental_span_dedup_ingest
    from vector_db_api_spark.streaming.ingest import (
        compact_set_state,
        uncommitted_epoch,
    )

    tmp = tempfile.mkdtemp(prefix="sf1_compact_crash_span_")
    src, sp, out, ck = (f"{tmp}/{d}" for d in ("src", "state", "out", "ck"))
    docs = suite._docs(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    step = (hi - lo + 8) // 8

    def write_batches(idx):
        import os as _os
        base = time.time()
        stamped = set()
        for i in idx:
            docs.filter(
                (F.col("doc_id") >= lo + i * step)
                & (F.col("doc_id") < lo + (i + 1) * step)
            ).coalesce(1).write.mode("append").parquet(src)
            for name in _os.listdir(src):
                p = _os.path.join(src, name)
                if p not in stamped and not name.startswith(("_", ".")):
                    _os.utime(p, (base + i, base + i))
                    stamped.add(p)

    def drain():
        stream = spark.readStream.schema("doc_id bigint, text string").option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = incremental_span_dedup_ingest(stream, sp, out, ck, n=suite.SPAN_N)
        suite._await_stream(q, seconds=3600)

    t0 = time.time()
    write_batches(range(4))     # first half: epochs 0-3
    drain()
    replayed = _crash_after_state_write(ck)
    mb_before = _du_mb(sp)
    # maintenance compaction DURING recovery: epochs 0-2 fold, 3 preserved
    compact_set_state(spark, sp, preserve_epochs=[uncommitted_epoch(ck)])
    mb_after = _du_mb(sp)
    write_batches(range(4, 8))  # rest arrives while we were down
    drain()                     # replays epoch 3, ingests epochs 4-7
    wall = time.time() - t0
    served = spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_removed", "n_spans", "clean_text")
    ok, n = _oracle_ok(con, "stream_span_dedup_state", served)
    report(
        f"stream_span_dedup COMPACT-then-crash (state {mb_before}->"
        f"{mb_after} MB mid-recovery)", wall, replayed, ok, n,
        "DuckDB oracle")


def _du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return round(total / 1e6, 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark("stream-restart-sf1")
    con = duck_con(sf_dir)
    lines = [f"\n### Restart-under-fire at {sf_dir} "
             f"(tools/stream_restart_sf1.py)\n"]

    def report(name, wall, replayed, ok, n, bar):
        lines.append(
            f"- **{name}**: mid-drain crash after epoch {replayed}'s state "
            f"write (commit deleted), restarted drain replayed it + "
            f"ingested the rest in {wall:.1f}s total; served {n} rows, "
            f"{bar} " + ("**MATCH**" if ok else "**MISMATCH**")
        )
        print(lines[-1], flush=True)

    run_kmv(spark, con, sf_dir, report)
    run_bm25(spark, con, sf_dir, report)
    run_semdedup(spark, con, sf_dir, report)
    run_span_dedup(spark, con, sf_dir, report)
    run_curate(spark, con, sf_dir, report)
    run_first_seen(spark, sf_dir, report)
    run_line_dedup(spark, con, sf_dir, report)
    run_semantic_decon(spark, con, sf_dir, report)
    run_span_compact_crash(spark, con, sf_dir, report)
    print("\n".join(lines))
    with open("/tmp/stream_restart_sf1_section.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\nwritten: /tmp/stream_restart_sf1_section.md")
    spark.stop()


if __name__ == "__main__":
    main()
