"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported on every workload; a layer the workload bypasses
reads 0 there, which is the prediction that workload makes for a change to
that layer. Times are medians over the timed operations, counts are means
(they repeat exactly, so the mean is the count).
"""

from __future__ import annotations

import statistics

from batch import OPS
from serving import WRITES

SERVING = (
    # name, unit
    ("service.search_build_ms", "ms"), ("facade.search_exec_ms", "ms"),
    ("lifecycle.search_build_ms", "ms"), ("lifecycle.apply_delta_ms", "ms"),
    ("lifecycle.remove_ms", "ms"), ("lifecycle.rebuild_s", "s"),
    ("ivf.from_frame_ms", "ms"), ("ivf.train_s", "s"), ("ivf.assign_s", "s"),
    ("store.read_calls", "count"), ("store.read_ms", "ms"),
    ("store.write_partitions_ms", "ms"), ("store.partition_blooms_ms", "ms"),
    ("store.bytes_written_per_write", "bytes"), ("store.generations", "count"),
    ("spark.jobs_per_search", "count"), ("spark.stages_per_search", "count"),
    ("spark.task_cpu_ms_per_search", "ms"), ("spark.jobs_per_write", "count"),
    ("spark.task_cpu_ms_per_write", "ms"), ("spark.shuffle_bytes_per_write", "bytes"),
    ("driver.cpu_ms_per_search", "ms"), ("driver.cpu_ms_per_write", "ms"),
)
# self time of each traced layer per request: where a search's or a write's
# time goes, summing (with the benchmark's own share) to the request
SELF = {"api.facade": "facade", "api.service": "service", "lifecycle": "lifecycle",
        "operators.ivf": "ivf", "sources.store": "store"}
SERVING += tuple((f"{p}.self_ms_per_{kind}", "ms")
                 for kind in ("search", "write") for p in SELF.values())
BATCH = tuple(
    (f"{op}.{m}", u) for op in OPS
    for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"),
                 ("task_cpu_s", "s"))
) + (
    ("batch.construct_s", "s"), ("batch.execute_s", "s"), ("batch.jobs", "count"),
    ("batch.stages", "count"), ("batch.task_cpu_s", "s"),
    ("batch.shuffle_bytes", "bytes"), ("batch.spill_bytes", "bytes"),
    ("batch.gc_s", "s"),
)
TRACE = (("trace.overhead_ms_per_op", "ms"), ("trace.pass_s", "s"))
METRICS = SERVING + BATCH + TRACE


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the time its child spans cover.
    Children run on the parent's thread, one at a time, so they never
    overlap."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def compute(tracer, e2e: dict, notes: dict) -> dict:
    spans = tracer.spans
    own = self_times(spans)
    by_req: dict[str, list[dict]] = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)
    requests = [s for s in spans if s["name"] == "request"]
    out = {name: 0.0 for name, _ in METRICS}

    def dur(s):
        return s["end"] - s["start"]

    def inner(rid, name):
        return [dur(s) for s in by_req.get(rid, ()) if s["name"] == name]

    # -- serving: timed operations are the requests named op<i> ------------
    timed = [q for q in requests if q["request"].startswith("op")]
    searches = [q for q in timed if q["kind"] == "search"]
    writes = [q for q in timed if q["kind"] in WRITES]
    if searches:
        fac = [sum(inner(q["request"], "api.facade.search")) for q in searches]
        svc = [sum(inner(q["request"], "api.service.search")) for q in searches]
        out["service.search_build_ms"] = 1e3 * _med(svc)
        out["facade.search_exec_ms"] = 1e3 * _med([a - b for a, b in zip(fac, svc)])
        out["lifecycle.search_build_ms"] = 1e3 * _med(
            [sum(inner(q["request"], "lifecycle.search")) for q in searches])
        out["store.read_calls"] = _mean(
            [len(inner(q["request"], "sources.store.read")) for q in searches])
        out["store.read_ms"] = 1e3 * _med(
            [sum(inner(q["request"], "sources.store.read")) for q in searches])
        for name, key, scale in (
                ("spark.jobs_per_search", "jobs", 1),
                ("spark.stages_per_search", "stages", 1),
                ("spark.task_cpu_ms_per_search", "task_cpu_s", 1e3)):
            out[name] = scale * _mean([q["spark"][key] for q in searches])
        out["driver.cpu_ms_per_search"] = 1e3 * _mean(
            [q["driver_cpu_s"] for q in searches])
    if writes:
        for name, key, scale in (
                ("spark.jobs_per_write", "jobs", 1),
                ("spark.task_cpu_ms_per_write", "task_cpu_s", 1e3),
                ("spark.shuffle_bytes_per_write", "shuffle_write_bytes", 1)):
            out[name] = scale * _mean([q["spark"][key] for q in writes])
        out["driver.cpu_ms_per_write"] = 1e3 * _mean(
            [q["driver_cpu_s"] for q in writes])
        out["store.bytes_written_per_write"] = _mean(
            [q.get("bytes_written", 0) for q in writes])
    for kind, group in (("search", searches), ("write", writes)):
        per_request = []
        for q in group:
            acc = dict.fromkeys(SELF.values(), 0.0)
            for s in by_req[q["request"]]:
                layer = SELF.get(s["name"].rsplit(".", 1)[0])
                if layer:
                    acc[layer] += own[s["id"]]
            per_request.append(acc)
        for layer in SELF.values():
            out[f"{layer}.self_ms_per_{kind}"] = 1e3 * _med(
                [acc[layer] for acc in per_request])
    timed_ids = {q["request"] for q in timed}
    for name, span_name in (
            ("lifecycle.apply_delta_ms", "lifecycle.apply_delta"),
            ("lifecycle.remove_ms", "lifecycle.remove"),
            ("ivf.from_frame_ms", "operators.ivf.from_frame"),
            ("store.write_partitions_ms", "sources.store.write_partitions"),
            ("store.partition_blooms_ms", "sources.store.partition_blooms")):
        out[name] = 1e3 * _med([dur(s) for s in spans if s["name"] == span_name
                                and s["request"] in timed_ids])
    for name, span_name in (
            ("lifecycle.rebuild_s", "lifecycle.rebuild"),
            ("ivf.train_s", "operators.ivf.train"),
            ("ivf.assign_s", "operators.ivf.assign")):
        out[name] = sum(inner("setup", span_name))
    out["store.generations"] = notes.get("generations", 0)

    # -- batch: warm passes are the requests p1.*, p2.*, ... ---------------
    warm = [q for q in requests if q["kind"] == "batch" and not q["request"].startswith("p0.")]
    passes = sorted({q["request"].split(".")[0] for q in warm})
    if warm:
        for op in OPS:
            mine = [q for q in warm if q["request"].split(".", 1)[1] == op]
            out[f"{op}.construct_s"] = _med(
                [sum(inner(q["request"], f"suite.{op}.construct")) for q in mine])
            out[f"{op}.execute_s"] = _med(
                [sum(inner(q["request"], f"suite.{op}.execute")) for q in mine])
            out[f"{op}.jobs"] = _mean([q["spark"]["jobs"] for q in mine])
            out[f"{op}.task_cpu_s"] = _med([q["spark"]["task_cpu_s"] for q in mine])
        out["batch.construct_s"] = sum(out[f"{op}.construct_s"] for op in OPS)
        out["batch.execute_s"] = sum(out[f"{op}.execute_s"] for op in OPS)
        for name, key in (("batch.jobs", "jobs"), ("batch.stages", "stages"),
                          ("batch.task_cpu_s", "task_cpu_s"),
                          ("batch.shuffle_bytes", "shuffle_write_bytes"),
                          ("batch.spill_bytes", "spill_bytes"),
                          ("batch.gc_s", "gc_s")):
            out[name] = _med([
                sum(q["spark"][key] for q in warm if q["request"].startswith(p + "."))
                for p in passes])

    out["trace.overhead_ms_per_op"] = 1e3 * tracer.overhead_s / max(1, len(requests))
    out["trace.pass_s"] = e2e["pass_s"]
    return out
