"""Toy-size self-test of the benchmark: every workload, the oracle gate and the
traced run, asserting that each named metric is emitted.

    python3 -m pytest perfbench/tests -q

All runs share one JVM (each run starts and stops its own Spark session), so
only the first pays the JVM start and JIT warm-up.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(capsys, workload: str, trace: int) -> dict:
    rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "4",
                   "--trace", str(trace), "--scale", "toy"])
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert rc == 0, lines[-2]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    return result


@pytest.mark.parametrize("workload", sorted(run.SPECS))
def test_end_to_end_metrics(capsys, workload):
    metrics = _run(capsys, workload, 0)["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", sorted(run.SPECS))
def test_per_layer_metrics(capsys, workload):
    metrics = _run(capsys, workload, 1)["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert metrics["cdc.apply.batch_ms"]["value"] > 0
    assert metrics["spark.jobs_per_batch"]["value"] > 0
    if workload == "bulk_replay":
        assert metrics["bulk.parallel_efficiency"]["value"] > 0


def test_gate_fails_on_a_wrong_lookup(capsys, monkeypatch):
    """A lookup that loses a row must fail the run: correct false, exit 1."""
    lookup = run.lookup

    def lossy(spark, pipe, keys):
        rows = lookup(spark, pipe, keys)
        return rows.slice(1)

    monkeypatch.setattr(run, "lookup", lossy)
    rc = run.main(["--workload", "incremental_mor", "--seed", "3", "--seconds", "4",
                   "--trace", "0", "--scale", "toy"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert result["correct"] is False and result["failed"] >= 1


def test_generator_is_pinned():
    """The run checks its landed files against the generated tables; these
    pinned digests check the generator itself, so a change to it (or to
    numpy's streams) shows here instead of silently changing the inputs."""
    assert gen.digest(gen.generate(3, 0, 6_000, 1_200, 4)) == {
        "rows": 6284, "lsn_sum": 56499578, "n_tok_sum": 182627,
        "token_sum": 4559707211, "deletes": 668, "doc_id_bytes": 50272,
        "distinct_keys": 1155}
    assert gen.digest(gen.generate(3, 1, 1_000, 1_000, 5, lsn_base=9_003)) == {
        "rows": 1046, "lsn_sum": 10985961, "n_tok_sum": 30517,
        "token_sum": 762985651, "deletes": 102, "doc_id_bytes": 8368,
        "distinct_keys": 563}


def test_workloads_in_benchmark_json_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.SPECS)
