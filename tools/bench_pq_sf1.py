"""Targeted sf1 re-bench of the PQ family: re-times the pq_build /
pq_search / pq_search_batch32 / ivfpq_search / knn_quantized_top10 thunks
exactly as bench.py sets them up (same models, seeds, query draw,
noop-sink forcing, cold + median-of-3 warm) at an sf1 dir, and prints the
record plus bench.py's raw scaling table against the committed
BENCH_DETAIL.md, so those rows can be re-measured without the whole suite.

Usage: python tools/bench_pq_sf1.py [sf1_dir]   (default /tmp/sf1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # the canonical helpers: scaling table, _force
from vector_db_api_spark import suite
from vector_db_api_spark.session import get_spark

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["pq_build", "pq_search", "pq_search_batch32", "ivfpq_search",
           "knn_quantized_top10"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark("bench-pq-sf1")
    spark.range(1000).selectExpr("sum(id)").collect()

    from vector_db_api_spark.operators.ivf import IVFIndex
    from vector_db_api_spark.operators.pq import PQIndex
    from vector_db_api_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    qrows = emb.limit(32).collect()
    qv = [float(x) for x in qrows[0]["embedding"]]
    qdf = spark.createDataFrame(
        [(f"q{r['vec_id']}", [float(x) for x in r["embedding"]])
         for r in qrows],
        "query_id string, query_vec array<double>",
    ).cache()
    qdf.count()

    timings: dict[str, float] = {}
    t0 = time.time()
    pqm = PQIndex.train(emb, m=8, k=64, seed=42)
    codes = pqm.encode(emb, id_col="vec_id").cache()
    codes.count()
    timings["pq_build"] = round(time.time() - t0, 3)

    ivf = IVFIndex.auto_train(emb, n_rows=n, seed=42)
    assignments = ivf.assign(emb, id_col="vec_id").cache()
    assignments.count()
    cell_codes = codes.join(
        assignments.select("vec_id", "centroid_id"), "vec_id").cache()
    cell_codes.count()

    qs = suite.queries()
    thunks = {
        "pq_search": lambda: bench._force(
            pqm.search(emb, codes, qv, 10, id_col="vec_id")),
        "pq_search_batch32": lambda: bench._force(
            pqm.search_batch(emb, codes, qdf, 10, id_col="vec_id")),
        "ivfpq_search": lambda: bench._force(
            pqm.search_cells(emb, cell_codes, ivf, qv, 10, id_col="vec_id")),
        "knn_quantized_top10": lambda: bench._force(
            qs["knn_quantized_top10"](spark, sf_dir)),
    }
    for name, thunk in thunks.items():  # cold pass
        thunk()
    runs: dict[str, list[float]] = {name: [] for name in thunks}
    for _ in range(3):
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.5)
        for name, thunk in thunks.items():
            t0 = time.time()
            thunk()
            runs[name].append(time.time() - t0)
    for name, samples in runs.items():
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    scaling = bench._scaling_section(bench._head_detail(HERE), timings,
                                     float(sf))
    record = {"queries": timings, "sf": float(sf), "n_corpus": int(n)}
    print(json.dumps(record))
    print(scaling)
    spark.stop()


if __name__ == "__main__":
    main()
