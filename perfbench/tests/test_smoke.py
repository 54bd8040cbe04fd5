"""Smoke-size run of the benchmark: a tiny library, a handful of operations.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and twice traced, through the same command
line as a full run (``--scale small``), so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
from batch import OPS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=[w["name"] for w in _spec()["workloads"]])
def runs(request):
    w = request.param
    return w, _run(w, 1, 0), _run(w, 1, 1), _run(w, 2, 1)


def _check_result(res: dict, metrics: list[dict]) -> None:
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in metrics} == {
        k: v["unit"] for k, v in res["metrics"].items()}


def test_every_metric_is_emitted_with_its_unit(runs):
    _, plain, traced, _ = runs
    spec = _spec()
    _check_result(plain, spec["end_to_end"])
    _check_result(traced, spec["per_layer"])
    assert all(v["value"] > 0 for v in plain["metrics"].values())


def test_span_self_times_fit_in_their_parents(runs):
    w = runs[0]
    with open(os.path.join(ROOT, ".perfbench_work", f"spans-{w}-1.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    own = layers.self_times(spans)
    for s in spans:
        assert own[s["id"]] >= -1e-6, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
            assert own[s["id"]] <= dur[p["id"]] + 1e-9
            assert s["request"] == p["request"]


def test_job_counts_repeat_across_runs(runs):
    w, _, a, b = runs
    names = ["spark.jobs_per_search", "spark.jobs_per_write"] if w == "crud_mixed" \
        else [f"{op}.jobs" for op in OPS] + ["batch.jobs"]
    for n in names:
        assert a["metrics"][n]["value"] > 0, n
        assert a["metrics"][n]["value"] == b["metrics"][n]["value"], n


def test_layer_table_matches_the_spec():
    assert [m["name"] for m in _spec()["per_layer"]] == [n for n, _ in layers.METRICS]
