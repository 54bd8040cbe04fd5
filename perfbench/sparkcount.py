"""Spark work of one call, counted by job-id and stage-id range.

Job groups under-count: operators that submit actions from plain pool
threads (the DSIR featurizer, the IVF self-join router) launch jobs that
never carry the caller's group. The DAG scheduler hands out job and stage
ids from two process-wide counters, so every job and stage a call launched
lies in ``[id before, id after)`` of those counters, whatever thread
submitted it. The per-stage task metrics then come from the application
status store, which is kept even with the UI off.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    # (status-store accessor, result key, scale to the reported unit)
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("executorRunTime", "task_run_s", 1e-3),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
)
ZERO = {"jobs": 0, "stages": 0, **{key: 0 for _, key, _ in STAGE_FIELDS}}


class SparkCounter:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._dag = self._ssc.dagScheduler()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def mark(self) -> tuple[int, int]:
        """The next job id and the next stage id the scheduler will use."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def since(self, mark: tuple[int, int]) -> dict:
        """Jobs, stages and summed stage metrics launched after ``mark``.

        Waits for the listener bus first: the status store is fed
        asynchronously, so a stage that just ended may not be in it yet.
        Skipped stages (their shuffle output was reused) are not counted."""
        job0, stage0 = mark
        job1, stage1 = self.mark()
        out = dict(ZERO, jobs=job1 - job0)
        if stage1 == stage0:
            return out
        self._ssc.listenerBus().waitUntilEmpty()
        store = self._ssc.statusStore()
        no_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        for sid in range(stage0, stage1):
            try:
                attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            counted = False
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                counted = True
                for attr, key, scale in STAGE_FIELDS:
                    out[key] += getattr(st, attr)() * scale
            out["stages"] += counted
        return out
