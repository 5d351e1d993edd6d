"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The seed and check tests are quick and need no Spark. The shape test runs
every workload end to end on the tiny scale (a few minutes): it pins the
end-to-end metric names and units, checks that every run prints the
metrics of ``BENCHMARK.json`` with their units, and shows each workload
reports its own layers (``layers.json``).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
# recorded in the side file, not gated
WALL = {"setup_wall_s", "pass_s", "rows_per_s", "op_p50_s"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


# ------------------------------------------------------------------- seeds


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    def backlog_digest(seed: int, tag: str) -> str:
        bl = inputs.backlog(seed, "tiny")
        inputs.write_backlog(bl, str(tmp_path / tag / "b"), str(tmp_path / tag / "d"))
        return _tree_digest(str(tmp_path / tag))

    assert backlog_digest(7, "a") == backlog_digest(7, "b")
    assert backlog_digest(7, "a") != backlog_digest(8, "c")
    assert inputs.requests(7, 4, 2) == inputs.requests(7, 4, 2)
    assert inputs.requests(7, 4, 2) != inputs.requests(8, 4, 2)
    names = ["q1", "q2", "q3", "q4"]
    assert inputs.query_order(7, names, 8) == inputs.query_order(7, names, 8)
    assert inputs.query_order(7, names, 8) != inputs.query_order(8, names, 8)


def test_backlog_ground_truth_counts():
    bl = inputs.backlog(3, "tiny")
    sz = inputs.SCALES["tiny"]
    lines = [x for f in bl["files"] for x in f]
    assert len(lines) == sz["backlog_valid"] + sz["backlog_malformed"] + sz["backlog_redelivered"]
    assert bl["n_valid_rows"] == sz["backlog_valid"] + sz["backlog_redelivered"]
    assert len(bl["latest"]) == sz["backlog_valid"]


# ------------------------------------------------------------------ checks


def test_vector_check_fails_on_shuffled_topk():
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((200, 8))
    probe = rng.standard_normal(8).tolist()
    expected = checks.cosine_topk(mat, probe, 8, -1.0)
    assert checks.check_vector(expected, expected) == []
    shuffled = [expected[i] for i in np.random.default_rng(1).permutation(len(expected))]
    assert shuffled != expected
    assert checks.check_vector(shuffled, expected)
    off = [(i, s + 1e-3) for i, s in expected]
    assert checks.check_vector(off, expected)


def test_keyword_check_fails_on_rising_scores_or_too_many_rows():
    assert checks.check_keyword([3.0, 2.0, 2.0, 1.0], 8) == []
    assert checks.check_keyword([2.0, 3.0], 8)
    assert checks.check_keyword([1.0] * 9, 8)


def test_ingest_check_fails_on_missing_quarantine_row():
    truth = {"n_valid_rows": 10, "n_malformed": 2}
    assert checks.check_ingest({"warehouse": 10, "vectors": 10, "quarantine": 2}, truth) == []
    assert checks.check_ingest({"warehouse": 10, "vectors": 10, "quarantine": 1}, truth)
    assert checks.check_ingest({"warehouse": 10, "vectors": 9, "quarantine": 2}, truth)


def test_upsert_check_fails_on_stale_or_duplicate_rows():
    latest = {"CVE-1": "2024-02-01T00:00:00.000Z", "CVE-2": "2024-03-01T00:00:00.000Z"}
    good = [("CVE-1", "2024-02-01T00:00:00"), ("CVE-2", "2024-03-01T00:00:00")]
    assert checks.check_upsert(good, latest) == []
    assert checks.check_upsert([good[0], ("CVE-2", "2024-01-01T00:00:00")], latest)
    assert checks.check_upsert(good + [good[0]], latest)


def test_digest_check_fails_on_changed_value():
    rows = [{"doc_id": 1, "rank": 0.5}, {"doc_id": 2, "rank": 0.25}]
    d = checks.result_digest(rows)
    assert checks.result_digest(rows[::-1]) == d
    assert checks.check_digest("q", d, d) == []
    assert checks.check_digest("q", checks.result_digest([{"doc_id": 1, "rank": 0.5}, {"doc_id": 2, "rank": 0.3}]), d)


# ------------------------------------------------------------------- shape


def test_benchmark_json_pins_metric_names_and_units():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    workloads = {w["name"] for w in spec["workloads"]}
    for rec in layers.values():
        assert rec["moves"] in set(END_TO_END) | WALL or rec["moves"].startswith("none")
        assert set(rec["on"]) <= workloads


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["ingest", "iterative"])
def test_workload_shape(workload):
    spec = _spec()
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec[key]}
        if trace == 0:
            assert all(v["value"] > 0 for v in res["metrics"].values())
        else:
            own = [k for k, rec in layers.items() if workload in rec["on"] and k != "trace.overhead_s"]
            assert all(res["metrics"][k]["value"] > 0 for k in own), {k: res["metrics"][k] for k in own}
