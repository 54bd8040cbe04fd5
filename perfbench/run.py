"""Benchmark of the engine, driven in-process from one client.

    python3 perfbench/run.py --workload crud_mixed --seed 1 --seconds 24 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the public calls of each layer and prints the
per-layer metrics instead. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The exit code is
0 only when every operation succeeded and every output check passed.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E = (
    ("setup_s", "s"), ("pass_s", "s"), ("ops_per_s", "1/s"),
    ("search_p50_ms", "ms"), ("write_p50_ms", "ms"), ("jobs_per_op", "count"),
    ("recall_at_k", "ratio"), ("space_amp", "ratio"),
)
WORKLOADS = ("crud_mixed", "batch_curation")


def _spark(work: str, cpus: int):
    """A local session whose scratch files all land under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: a JVM keeps its counters file under /tmp whatever
        # java.io.tmpdir says (the launcher JVM of spark-submit too)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory 2g --driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"),
    })
    from vector_db_api_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _steal() -> float:
    """CPU seconds a hypervisor has stolen since boot (``steal`` in
    /proc/stat); recorded so a run slowed by its neighbours shows."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full",
                    help="'small' is the smoke-test size")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vector_db_api_spark")):
        print(f"no vector_db_api_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    steal0 = _steal()

    import batch
    import serving
    from common import Run
    from tracing import Tracer

    t_start = time.perf_counter()
    spark = _spark(work, cpus)
    spark_start_s = time.perf_counter() - t_start
    tracer = Tracer().install() if a.trace else None
    r = Run(spark, work, a.seed, a.seconds, a.scale, tracer)
    e2e = None
    try:
        e2e = (serving if a.workload == "crud_mixed" else batch).run(r)
    except Exception as e:  # noqa: BLE001 — reported, then the run fails
        traceback.print_exc(file=sys.stderr)
        r.attempted += 1
        r.fail(f"workload aborted: {type(e).__name__}: {e}")
    finally:
        if tracer:
            tracer.uninstall()
        _stop(spark)

    if e2e is None:
        metrics = {}
    elif tracer:
        import layers

        values = layers.compute(tracer, e2e, r.notes)
        metrics = {n: {"value": values[n], "unit": u} for n, u in layers.METRICS}
        tracer.dump(os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    correct = e2e is not None and r.failed == 0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale, "cpus": cpus,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "spark_start_s": spark_start_s, "wall_s": time.perf_counter() - t_start,
        "steal": _steal() - steal0,
        "errors": r.errors[:20], **r.notes,
    }
    with open(os.path.join(base, "runs.jsonl"), "a") as f:
        f.write(json.dumps({**record, "metrics": metrics}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print("run: " + json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
