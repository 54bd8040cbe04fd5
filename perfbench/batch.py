"""batch_curation: the suite's curation operators over a generated corpus.

Each operator is built through ``suite.queries()`` and forced through the
``noop`` sink. One untimed cold pass, then timed warm passes. The corpus is
``tools/gen_sf.py`` at scale factor 0.03; there every operator launches as
many Spark jobs as on sf0.1 except ``doc_leakage_split``, whose component
labelling converges in fewer rounds (README.md lists the counts). It and
the operator order are fixed, so the committed output fingerprints stay
checkable and the job counts repeat; this workload does not read ``--seed``
(a seeded order spread the per-operator times by 15–30% between runs).

Every execution of every pass, the cold one included, is fingerprinted
through a Spark ``Observation`` on the executed plan itself, so the check
needs no second execution, and compared with ``fingerprints.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import numpy as np

from common import Run, dir_bytes

OPS = (
    "doc_leakage_split", "doc_dsir_select", "doc_bm25", "doc_hybrid_rrf",
    "doc_temperature_sample", "knn_self_join_ivf_sym", "doc_winnowing",
    "simhash", "ngram_jaccard_pairs", "crud_upsert",
)
SEARCH_OPS = ("doc_bm25", "doc_hybrid_rrf", "knn_self_join_ivf_sym")
WRITE_OP = "crud_upsert"
WRITE_RUNS = 5       # back-to-back executions of WRITE_OP after each warm pass
ANN_OP, ANN_K = "knn_self_join_ivf_sym", 3
PASS_SECONDS = 21    # about one warm pass on 4 cores, at the full scale
SCALES = {"full": 0.03, "small": 0.001}   # tools/gen_sf.py scale factor
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FINGERPRINTS = os.path.join(os.path.dirname(__file__), "fingerprints.json")


def write_corpus(out: str, sf: float) -> np.ndarray:
    """The repo's sf generator at scale ``sf`` (seed fixed inside it).
    Returns the embedding matrix in ``vec_id`` order."""
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_sf

    with contextlib.redirect_stdout(sys.stderr):  # it prints row counts
        gen_sf.main(sf, out)
    t = pq.read_table(os.path.join(out, "embeddings.parquet")).sort_by("vec_id")
    return np.array(t.column("embedding").to_pylist(), dtype=np.float64)


def fingerprint_exprs(df) -> list:
    """Row count and an order-independent content hash: the sum of a
    per-row xxhash64, with floating values rounded to 9 places first so a
    last-bit difference in a float sum cannot flip it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 9)
        elif isinstance(f.dataType, ArrayType) and isinstance(
                f.dataType.elementType, (DoubleType, FloatType)):
            c = F.transform(c, lambda x: F.round(x.cast("double"), 9))
        cols.append(c)
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")]


def ann_recall(rows, mat: np.ndarray) -> float:
    """Tie-robust recall@ANN_K of the IVF self-join against exact cosine."""
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = m @ m.T
    kth = -np.sort(-sims, axis=1)[:, ANN_K - 1]
    got: dict[int, list[int]] = {}
    for row in rows:
        got.setdefault(int(row["query_id"]), []).append(int(row["vec_id"]))
    good = sum(
        int(sims[q, v] >= kth[q] - 1e-6)
        for q in range(len(m)) for v in got.get(q, [])[:ANN_K]
    )
    return good / (ANN_K * len(m))


def run(r: Run) -> dict:
    from pyspark.sql import Observation

    from vector_db_api_spark import suite

    data = os.path.join(r.work, "data")
    shutil.rmtree(data, ignore_errors=True)
    queries = suite.queries()
    warm_passes = max(1, r.seconds // PASS_SECONDS)
    with open(FINGERPRINTS) as f:
        committed = json.load(f)[r.scale]
    seen: dict[str, list] = {}
    lat: dict[str, list[float]] = {op: [] for op in OPS}
    writes: list[float] = []
    jobs: dict[str, list[int]] = {op: [] for op in OPS}
    recall = 0.0
    check_s = 0.0   # time of the output checks, kept out of the timings
    tr = r.tracer

    def span(name):
        return tr.span(name) if tr else nullcontext()

    def one(op: str, rid: str, kind: str = "batch") -> float:
        """Build and execute ``op`` once; returns its wall time. The ANN
        operator's rows are collected on the cold pass for the recall
        check; every other execution goes to the noop sink."""
        nonlocal check_s, recall
        obs = Observation()
        job0 = r.counter.mark()[0]
        t = time.perf_counter()
        with r.request(rid, kind):
            with span(f"suite.{op}.construct"):
                df = queries[op](r.spark, data)
            with span(f"suite.{op}.execute"):
                watched = df.observe(obs, *fingerprint_exprs(df))
                if rid.startswith("p0.") and op == ANN_OP:
                    rows = watched.collect()
                else:
                    watched.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        if kind == "batch":
            jobs[op].append(r.counter.mark()[0] - job0)
        t = time.perf_counter()
        got = obs.get
        fp = seen[op] = [int(got["n"]), str(got["h"])]
        if rid.startswith("p0.") and op == ANN_OP:
            recall = ann_recall(rows, mat)
        check_s += time.perf_counter() - t
        if fp != committed.get(op):
            raise AssertionError(
                f"{rid}: fingerprint {fp} != committed {committed.get(op)}")
        return dt

    mat = write_corpus(data, SCALES[r.scale])
    input_bytes = dir_bytes(data)
    t0 = time.perf_counter()
    for op in OPS:
        r.attempt(one, op, f"p0.{op}")
    setup_s = time.perf_counter() - t0 - check_s
    for op in OPS:   # the cold pass is set-up, not a timed sample
        jobs[op].clear()
    r.spark.sparkContext._jvm.System.gc()

    passes, searches = [], []
    for p in range(1, warm_passes + 1):
        check_s = 0.0
        t = time.perf_counter()
        for op in OPS:
            lat[op].append(r.attempt(one, op, f"p{p}.{op}"))
        passes.append(time.perf_counter() - t - check_s)
        searches.append(sum(lat[op][-1] or 0.0 for op in SEARCH_OPS))
        # the write samples: repeated runs of the write operator after the
        # pass, all under the same conditions (the one inside the pass
        # follows a different operator and runs slower)
        for i in range(WRITE_RUNS):
            writes.append(r.attempt(one, WRITE_OP, f"p{p}w{i}.{WRITE_OP}", "batch_write"))
    r.notes["fingerprints"] = seen
    r.notes["latencies"] = {op: [round(x or 0.0, 3) for x in lat[op]] for op in OPS}
    r.notes["write_latencies"] = [round(x or 0.0, 3) for x in writes]
    writes = [x for x in writes if x is not None] or [0.0]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "ops_per_s": len(OPS) * len(passes) / sum(passes),
        "search_p50_ms": 1e3 * statistics.median(searches),
        "write_p50_ms": 1e3 * statistics.median(writes),
        "jobs_per_op": sum(sum(jobs[op]) for op in OPS) / (len(OPS) * len(passes)),
        "recall_at_k": recall,
        "space_amp": dir_bytes(data) / input_bytes,
    }
