"""State shared by the workloads: one run's context and a few helpers."""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Run:
    """One benchmark run: the session, its seeded generator, the operation
    tally, the Spark counter, and — in a traced run — the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: int, scale: str,
                 tracer=None) -> None:
        from sparkcount import SparkCounter

        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.counter = SparkCounter(spark)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: dict = {}

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"FAILED: {msg}", file=sys.stderr, flush=True)

    def attempt(self, fn, *args):
        """Run one operation and return what it returns; any exception
        counts it as failed and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — the tally is the point
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{args}: {type(e).__name__}: {e}")
            return None

    @contextmanager
    def request(self, rid: str, kind: str, bytes_of: str | None = None):
        """A top-level span for one operation. Traced runs also record the
        Spark work (by job/stage-id range), the driver CPU time and, when
        ``bytes_of`` is given, the bytes the operation added under it."""
        tr = self.tracer
        if tr is None:
            yield None
            return
        t_in = time.perf_counter()
        tr.request = rid
        before = dir_bytes(bytes_of) if bytes_of else 0
        mark = self.counter.mark()
        tr.overhead_s += time.perf_counter() - t_in
        cpu0 = time.process_time()
        with tr.span("request", kind=kind) as rec:
            yield rec
        cpu = time.process_time() - cpu0
        t_out = time.perf_counter()
        rec["driver_cpu_s"] = cpu
        rec["spark"] = self.counter.since(mark)
        if bytes_of:
            rec["bytes_written"] = dir_bytes(bytes_of) - before
        tr.request = None
        tr.overhead_s += time.perf_counter() - t_out
