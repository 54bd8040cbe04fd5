"""bench.py's two artifact tables: the job/stage counter diff against HEAD's
committed BENCH_DETAIL.md, and the raw scaling table of a non-canonical sf
run. Pure functions of their inputs: no Spark session needed.
"""

from __future__ import annotations

import importlib.util
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(HERE, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _detail(jobs, stages, secs):
    return {"queries": secs, "jobs": jobs, "stages": stages}


def test_counter_diff_lists_only_changed_rows():
    bench = _bench()
    prior = _detail({"a": 3, "b": 5, "c": 1}, {"a": 4, "b": 9, "c": 1},
                    {"a": 9.0, "b": 9.0, "c": 9.0})
    now = _detail({"a": 3, "b": 5, "c": 2, "new": 1},
                  {"a": 4, "b": 8, "c": 1, "new": 2},
                  {"a": 1.0, "b": 2.5, "c": 0.25, "new": 0.5})
    out = bench._counter_diff_section(prior, now)
    assert "3 of 4 rows differ from HEAD." in out
    assert "| b | 5 | 5 | 9 | 8 | 2.500 |" in out  # stages moved
    assert "| c | 1 | 2 | 1 | 1 | 0.250 |" in out  # jobs moved
    assert "| new | — | 1 | — | 2 | 0.500 |" in out  # not in HEAD
    assert "| a |" not in out  # unchanged counts are not listed
    # wall time alone never lists a row
    same = bench._counter_diff_section(prior, _detail(
        prior["jobs"], prior["stages"], {"a": 99.0, "b": 99.0, "c": 99.0}))
    assert "All 3 rows match HEAD's counts." in same and "|" not in same


def test_counter_diff_when_head_has_no_counters():
    bench = _bench()
    now = _detail({"a": 1}, {"a": 2}, {"a": 1.0})
    for prior in (None, {"queries": {"a": 1.0}}):
        out = bench._counter_diff_section(prior, now)
        body = out.strip().splitlines()
        assert body[-1] == ("HEAD has no BENCH_DETAIL.md with job/stage "
                            "counts; nothing to compare.")
        assert "|" not in out


def test_scaling_section_is_raw_ratios():
    bench = _bench()
    base = {"queries": {"q_lin": 1.0, "q_sub": 2.0, "q_zero": 0.0},
            "sf": 0.1}
    out = bench._scaling_section(
        base, {"q_lin": 9.0, "q_sub": 4.0, "q_zero": 1.0, "unknown": 5.0},
        1.0)
    assert "data growth 10.00x" in out
    lines = [ln for ln in out.splitlines() if ln.startswith("| q_")]
    # largest ratio first
    assert lines == ["| q_lin | 1.00 | 9.00 | 9.00x |",
                     "| q_sub | 2.00 | 4.00 | 2.00x |"]
    assert "unknown" not in out and "q_zero" not in out
    assert "Median time ratio: **2.00x** over 2 shared queries" in out
    assert "no canonical" in bench._scaling_section(None, {"q": 1.0}, 1.0)
    assert "non-numeric" in bench._scaling_section(base, {"q_lin": 1.0}, "x")


def test_committed_detail_counts_every_row():
    """The committed BENCH_DETAIL.md is the counter baseline the next run
    diffs against: every timed row carries a job and a stage count."""
    bench = _bench()
    with open(os.path.join(HERE, "BENCH_DETAIL.md")) as f:
        det = bench._detail_json(f.read())
    assert det is not None
    rows = set(det["queries"])
    assert set(det["jobs"]) == rows and set(det["stages"]) == rows
    assert all(isinstance(v, int) and v >= 0
               for v in [*det["jobs"].values(), *det["stages"].values()])
