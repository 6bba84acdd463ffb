"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``run.py`` as the benchmark runner does, in a fresh
process with its own state directory, with the shortest settings.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import FIXTURE_DIR, WORKLOADS  # noqa: E402

SPAN_KEYS = {"span_id", "parent_id", "op_id", "name", "start_s", "end_s", "dur_s", "self_s", "attrs"}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run_bench(state_dir, workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--state-dir", str(state_dir)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, f"stdout holds more than the result line: {lines[:5]}"
    result = json.loads(lines[0])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 11
    return result


def assert_metrics(result: dict, spec: list[dict]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke(tmp_path, workload):
    plain = run_bench(tmp_path, workload, 0)
    assert plain["correct"] and plain["failed"] == 0
    assert_metrics(plain, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    traced = run_bench(tmp_path, workload, 1)
    assert traced["correct"]
    assert_metrics(traced, BENCH["per_layer"])
    assert traced["metrics"]["memo.builds"]["value"] == 0

    with open(tmp_path / "spans" / f"{workload}-seed0.json") as f:
        doc = json.load(f)
    assert doc["schema"] == 1 and doc["workload"] == workload
    spans = doc["spans"]
    by_id = {s["span_id"]: s for s in spans}
    ops = [s for s in spans if s["name"] == "op"]
    assert len(ops) == traced["attempted"]
    for s in spans:
        assert set(s) == SPAN_KEYS
        assert s["end_s"] >= s["start_s"]
        assert 0 <= s["self_s"] <= s["dur_s"] + 1e-9
        if s["name"] != "op":
            parent = by_id[s["parent_id"]]
            assert parent["op_id"] == s["op_id"]
    for op in ops:
        children = {s["name"] for s in spans if s["parent_id"] == op["span_id"]}
        assert {"registry.build", "collect.to_pandas"} <= children
        assert {"query", "module", "cycle"} <= set(op["attrs"])
    assert any(s["name"] == "spark.job" for s in spans)


def test_corrupted_reference_counts_as_failure(tmp_path):
    import oracle

    sys.path.insert(0, ROOT)
    import __spark_entry__

    workload = "cluster_ops"
    victim = WORKLOADS[workload]["queries"][0]
    path = oracle.cache_path(
        str(tmp_path / "oracle"), FIXTURE_DIR, __spark_entry__.oracle_sql()[victim]
    )
    os.makedirs(os.path.dirname(path))
    with open(path, "w") as f:
        json.dump({"query": victim, "fingerprint": "0" * 64}, f)

    result = run_bench(tmp_path, workload, 0)
    cycles = result["attempted"] // len(WORKLOADS[workload]["queries"])
    assert not result["correct"]
    assert result["failed"] == cycles  # every run of the victim, nothing else
    assert result["metrics"]["ops_per_s"]["value"] > 0


def test_latency_metrics_count_completed_ops_only():
    import run

    ops = [{"wall_s": 1.0, "ok": True}] * 11 + [{"wall_s": 0.01, "ok": False}] * 5
    m = run.latency_metrics(ops)
    assert m["op_p50_s"] == 1.0 and m["op_tail_s"] == 1.0
    assert m["ops_per_s"] == pytest.approx(11 / 11.05)
