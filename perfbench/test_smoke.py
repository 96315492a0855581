"""Smoke test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload briefly through the command line and checks that the
result line carries every metric ``BENCHMARK.json`` names, with its unit,
also on the human-readable lines; then checks in-process that a tampered
expected hash is counted as failed.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_cli(workload: str, trace: int) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1]), out[:-1]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    result, lines = run_cli(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
        assert any(ln.startswith(f"{m['name']} ") and f" {m['unit']}" in ln for ln in lines)
    assert any(ln.startswith("failed_ratio 0 ") for ln in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_layer_metric_printed_with_unit(workload):
    result, lines = run_cli(workload, 1)
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    assert metrics["exec.jobs"]["value"] > 0
    if workload == "stream-supplier-stats":
        # read from the query's progress, so zeros mean the stream
        # layers were never filled in
        assert metrics["streaming.input_rows"]["value"] > 0
        assert metrics["streaming.add_batch_ms"]["value"] > 0
        assert metrics["state.rows_total"]["value"] > 0
        assert metrics["sinks.rows_written"]["value"] > 0
    assert any(ln.startswith("spans ") for ln in lines)


def test_tampered_expected_hash_raises_failed_ratio():
    import env

    env.pin()
    import batch
    import datagen
    from oracle import Oracle
    from trace import NullTracer

    data_dir = os.path.join(env.WORK, "smoke", "data")
    datagen.write_tables(data_dir, 0.001, 42)
    spark, _ = env.start_spark("perfbench-smoke")
    try:
        keys = ["tpch_q11", "eval_auc"]

        class Tampered(Oracle):
            def expected(self, key):
                good = super().expected(key)
                return "0" * len(good) if key == keys[0] else good

        noise = env.Noise(spark, env.jvm_pid(spark))
        clean = batch.run(spark, keys, data_dir, 1, 1, NullTracer(), noise, Oracle(data_dir))
        bad = batch.run(spark, keys, data_dir, 1, 1, NullTracer(), noise, Tampered(data_dir))
    finally:
        spark.stop()
    assert clean["failed"] == 0
    assert bad["mismatched"] == [keys[0]]
    assert bad["failed"] / bad["attempted"] > 0
