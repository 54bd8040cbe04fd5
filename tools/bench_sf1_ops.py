"""Warm-wall scaling measurement for registry entries across two sf dirs.

Generalizes the bench_pq_sf1 pattern: time the SUITE thunks (one
cold pass, then median of 3 warm, noop-sink forced, JVM GC between
passes) at a small and a large sf dir in ONE session, and print a
markdown scaling table ready for a BENCH_SF1.md addendum. Registry
thunks only — an entry name must exist in suite.queries().

Usage:
  python tools/bench_sf1_ops.py <small_dir> <large_dir> <entry> [...]
e.g.
  python tools/bench_sf1_ops.py /root/testdata/sf0.1 /tmp/sf1 \\
      doc_line_dedup doc_semantic_decontaminate
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # canonical helpers: _force
from vector_db_api_spark import suite
from vector_db_api_spark.session import get_spark


def _timed(spark, fn, sf_dir: str) -> float:
    bench._force(fn(spark, sf_dir))  # cold
    samples = []
    for _ in range(3):
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.5)
        t0 = time.time()
        bench._force(fn(spark, sf_dir))
        samples.append(time.time() - t0)
    return round(sorted(samples)[len(samples) // 2], 3)


def main() -> None:
    small, large, *names = sys.argv[1:]
    assert names, __doc__
    spark = get_spark("bench-sf1-ops")
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = suite.queries()
    rows = []
    for name in names:
        t_small = _timed(spark, qs[name], small)
        t_large = _timed(spark, qs[name], large)
        rows.append((name, t_small, t_large))
        print(f"timed {name}: {t_small}s -> {t_large}s", flush=True)
    print(f"\n| query | {os.path.basename(small.rstrip('/'))} (s) | "
          f"{os.path.basename(large.rstrip('/'))} (s) | raw ratio | |")
    print("|---|---|---|---|---|")
    for name, a, b in rows:
        print(f"| {name} | {a} | {b} | {b / a:.1f}x | |")
    spark.stop()


if __name__ == "__main__":
    main()
