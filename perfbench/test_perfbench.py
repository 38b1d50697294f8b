"""Tests of the benchmark itself (not of the package).

    python -m pytest perfbench -q -p no:cacheprovider

The end-to-end tests start the benchmark as a user would and take
several minutes: ten runs of about a minute each.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, run, worker
from perfbench.trace import _union_ms, self_times

ROOT = Path(__file__).resolve().parents[1]


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generators_are_byte_identical_per_seed(tmp_path):
    a = gen.make_serve(7, tmp_path / "a", 300, 32, 50)
    b = gen.make_serve(7, tmp_path / "b", 300, 32, 50)
    c = gen.make_serve(8, tmp_path / "c", 300, 32, 50)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.requests == b.requests
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    ca = gen.make_curate(7, tmp_path / "ca", 200, (25, 60))
    cb = gen.make_curate(7, tmp_path / "cb", 200, (25, 60))
    assert _files(tmp_path / "ca") == _files(tmp_path / "cb")
    assert vars(ca) == vars(cb)


def test_serve_requests_are_distinct_and_mixed(tmp_path):
    inp = gen.make_serve(3, tmp_path, 100, 16, 400)
    assert len({r["q"] for r in inp.requests}) == 400
    filtered = [r for r in inp.requests if "source_type" in r or "lang" in r]
    assert len(filtered) == 100


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOAD_NAMES) == sorted(
        worker.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert run.OPS == worker.OP_TYPES


def test_tail_needs_ten_samples_beyond_it():
    assert worker.tail(list(range(100))) == (89, 90.0, 100)
    assert worker.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_topk_matches_tolerates_rounding_and_boundary_ties():
    ids = np.arange(5)
    scores = np.array([0.5, 0.1, 0.3, 0.3000005, 0.9])
    allowed = np.ones(5, dtype=bool)
    rows = [{"id": "1", "score": 0.1}, {"id": "3", "score": 0.300001}]
    assert worker.topk_matches(rows, ids, scores, allowed, 2) == (True, 1.0)
    wrong = [{"id": "1", "score": 0.1}, {"id": "0", "score": 0.5}]
    assert worker.topk_matches(wrong, ids, scores, allowed, 2) == (False, 0.5)


def test_self_time_subtracts_children():
    spans = [{"start": 0.0, "end": 10.0, "parent": None},
             {"start": 1.0, "end": 4.0, "parent": 0},
             {"start": 5.0, "end": 6.0, "parent": 0}]
    assert self_times(spans) == [6.0, 3.0, 1.0]
    assert _union_ms([(0, 2), (1, 3), (5, 6)]) == 4


def _bench(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


_REPEATABLE_E2E = ("recall", "store_bytes_per_input_byte")
# Spark's codegen cache holds 100 classes and a curate or clusters op
# compiles 30-80, so which compiles hit the cache depends on task timing:
# two runs of seed 11 read 36 and 32, and 81 and 65.
_TIMING_DEPENDENT = {"spark.codegen_compiles_per_op.curate",
                     "spark.codegen_compiles_per_op.clusters"}


@pytest.mark.parametrize("workload", ["serve", "curate"])
def test_counts_repeat_exactly_for_one_seed(workload):
    """Counts, file bytes, recall and store ratios are functions of the
    inputs; two runs of one seed must give them exactly."""
    traced = [_bench(workload, 11, 1) for _ in range(2)]
    counts = [name for name, unit in run.PER_LAYER
              if unit == "count" and name not in _TIMING_DEPENDENT]
    for res in traced:
        assert res["correct"] and res["failed"] == 0
    assert {n: traced[0]["metrics"][n]["value"] for n in counts} == {
        n: traced[1]["metrics"][n]["value"] for n in counts}
    plain = [_bench(workload, 11, 0) for _ in range(2)]
    assert {n: plain[0]["metrics"][n]["value"] for n in _REPEATABLE_E2E} == {
        n: plain[1]["metrics"][n]["value"] for n in _REPEATABLE_E2E}


@pytest.mark.parametrize("workload", ["serve", "curate"])
def test_a_second_seed_runs_clean(workload):
    res = _bench(workload, 12, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert all(m["value"] > 0 for m in res["metrics"].values())
