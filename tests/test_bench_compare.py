"""bench.py's measure-and-compare plumbing (no Spark): the --compare
gate against one explicit full bench record, and the busy-CPU helper
that records cpu next to each entry's wall."""

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _baseline(tmp_path, obj):
    path = str(tmp_path / "BENCH_baseline.json")
    with open(path, "w") as fh:
        json.dump(obj, fh)
    return path


def test_slow_entry_flags_and_fails_the_run(tmp_path, capsys):
    """The gate is the raw wall ratio: > 1.5x AND >= 0.25 s slower
    flags (and bench.py exits 1 on any flag); a 1.4x entry and a
    +0.1 s entry do not flag. The cpu ratio is printed, never gated."""
    base = bench.load_baseline(_baseline(tmp_path, {
        "sf": 0.1,
        "queries": {"q_slow": 1.0, "q_mild": 1.0, "q_tiny": 0.1},
        "cpu": {"q_slow": 4.0, "q_mild": 4.0, "q_tiny": 0.3},
    }), 0.1)
    out = bench.compare(
        {"q_slow": 2.0, "q_mild": 1.4, "q_tiny": 0.2, "q_new": 9.0},
        {"q_slow": 4.0, "q_mild": 40.0, "q_tiny": 0.3, "q_new": 9.0},
        base, "BENCH_baseline.json",
    )
    assert out == {"baseline": "BENCH_baseline.json", "n_compared": 3,
                   "regressions": ["q_slow"]}
    lines = {ln.split()[0]: ln for ln in capsys.readouterr().out.splitlines()}
    assert lines["q_slow"].endswith("FLAG")
    assert "10.00x" in lines["q_mild"] and "FLAG" not in lines["q_mild"]
    assert "q_new" not in lines


def test_cross_sf_compare_refused(tmp_path):
    """A cross-sf ratio reads as a huge speedup or regression on every
    entry, so a baseline at another sf exits 1 before the suite runs."""
    path = _baseline(tmp_path, {"sf": 0.001, "queries": {"q_topk": 0.1}})
    with pytest.raises(SystemExit) as exc:
        bench.load_baseline(path, 0.1)
    assert exc.value.code == 1


def test_uncomparable_baseline_exits_rather_than_comparing_nothing(tmp_path):
    """A baseline without a top-level queries map (a driver-wrapped or
    compact stdout line), or one that shares no entry with the run,
    exits 1: an empty compare must never read as a clean one."""
    no_map = _baseline(tmp_path, {"parsed": {"sf": 0.1, "value": 50.0}})
    with pytest.raises(SystemExit) as exc:
        bench.load_baseline(no_map, 0.1)
    assert exc.value.code == 1
    base = bench.load_baseline(
        _baseline(tmp_path, {"sf": 0.1, "queries": {"q_gone": 1.0}}), 0.1
    )
    with pytest.raises(SystemExit) as exc:
        bench.compare({"q_topk": 0.2}, {"q_topk": 1.0}, base, "b.json")
    assert exc.value.code == 1


def test_busy_cpu_grows_across_a_busy_loop():
    """busy_cpu_s is non-negative machine-wide busy seconds, and a
    CPU-bound loop in this process moves it forward."""
    before = bench.busy_cpu_s()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    after = bench.busy_cpu_s()
    assert before >= 0.0
    assert after - before > 0.1
