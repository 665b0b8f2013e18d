"""Tests of the benchmark itself (not of the engine):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import tagmodel  # noqa: E402
from stats import percentile, quartile_spread, ratio  # noqa: E402


def _tree_bytes(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    fixtures.write_tables(str(a), 0.001)
    fixtures.write_tables(str(b), 0.001)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert len(_tree_bytes(a)) == len(fixtures.TABLE_NAMES)

    r1 = fixtures.stream_records(300, 100, seed=7)
    r2 = fixtures.stream_records(300, 100, seed=7)
    assert r1 == r2
    assert fixtures.stream_records(300, 100, seed=8) != r1
    assert fixtures.store_table(100, 7).equals(fixtures.store_table(100, 7))


def test_stream_mix_has_every_record_class():
    recs = fixtures.stream_records(2000, 200, seed=3)
    kinds = {r.kind for r in recs}
    assert kinds == {"story", "other", "pointer", "garbage"}
    store = set(fixtures.doc_ids(200)[:200])
    story_ids = {r.doc_id for r in recs if r.kind == "story"}
    assert story_ids - store, "some ids must miss the store"
    assert [r.shard for r in recs[:8]] == [0, 1, 2, 3, 0, 1, 2, 3]


def test_model_tags_once_and_dead_letters_per_batch():
    tag = dict(fixtures.AUTOTAG)
    other = {"slug": "x", "text": "X"}
    seed = {"a": (None, 0), "b": ([other, other], 0), "c": ([tag], 0)}
    rec = lambda k, i: fixtures.Record(b"", 0, "story", i)  # noqa: E731
    b1 = [(rec(0, "a"), 0), (rec(0, "ghost"), 1), (rec(0, "a"), 2)]
    b2 = [(rec(0, "b"), 3), (rec(0, "ghost"), 4), (fixtures.Record(b"", 0, "other", "c"), 5)]
    store, dead, tagged, n_dead = tagmodel.expected_outputs(seed, [b1, b2])
    assert store == {"a": ([tag], 3), "b": ([other, tag], 4), "c": ([tag], 0)}
    assert dead == {("ghost", 1): 1, ("ghost", 4): 1}
    assert (tagged, n_dead) == (2, 2)


def test_percentile_and_ratio_helpers():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([1, 2, 3, 4], 75) == 3.25
    assert percentile([1, 2, 3, 4], 0) == 1 and percentile([1, 2, 3, 4], 100) == 4
    assert percentile([5], 75) == 5
    with pytest.raises(ValueError):
        percentile([], 50)
    assert ratio(3, 4) == 0.75 and ratio(3, 0) == 0.0
    assert quartile_spread([10] * 10) == 0.0
    assert quartile_spread([8, 9, 10, 11, 12]) == pytest.approx(3.0 / 10.0)


def test_canonical_rows_ignore_order_but_not_values():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, None]})
    b = pd.DataFrame({"v": [None, 0.5], "k": [1, 2]})
    assert batch.canon_rows(a) == batch.canon_rows(b)
    assert batch.result_hash(a) == batch.result_hash(b)
    c = pd.DataFrame({"k": [2, 1], "v": [0.5000000001, None]})
    assert batch.result_hash(a) != batch.result_hash(c)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in run.per_layer().items()
    }
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tag_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from arc_kinesis_tagging_spark.session import get_session

    return get_session("perfbench-test")


def test_expected_store_matches_a_tiny_tag_stream_run(spark, tmp_path, monkeypatch):
    import tagstream

    monkeypatch.setattr(tagstream, "STORE_DOCS", 60)
    monkeypatch.setattr(tagstream, "CAP", 6)
    monkeypatch.setattr(tagstream, "MIN_TIMED_BATCHES", 2)
    monkeypatch.setattr(tagstream, "MAX_TIMED_BATCHES", 3)
    wl = tagstream.TagStream(str(tmp_path), seed=5, trace=False)
    wl.generate()
    wl.warm_up(spark)
    out = wl.measure(spark, seconds=0)
    failed, notes = wl.check(spark, out["attempted"])
    assert failed == 0, notes
    assert out["attempted"] >= 2
    assert wl.layer["sinks.tagged"] > 0 and wl.layer["sinks.dead_lettered"] > 0
    assert wl.layer["kinesis_source.read_amplification"] >= 1.0
