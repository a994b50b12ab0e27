"""Self-tests of the benchmark on a tiny corpus and on sf0.001.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test runs ``perfbench/run.py`` as a subprocess from the repository
root, exactly as the benchmark is invoked, with the hidden size knobs
(``--turns``, ``--sf``) turned down. Takes several minutes: every run
starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

TINY = {"kg_triples": ["--turns", "800"], "kg_submit": ["--turns", "800"],
        f"contract_{bench.CONTRACT_SF}": ["--sf", "sf0.001"]}


def invoke(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         *TINY.get(workload, []), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def parse(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_tables_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)


@pytest.mark.parametrize("workload", bench.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_workload_prints_every_metric(workload, trace):
    record, result = parse(invoke(workload, trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, record["errors"]
    assert result["attempted"] >= 2 + trace
    want = bench.LAYER_METRICS if trace else bench.E2E_METRICS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(result["metrics"][k]["value"] > 0 for k in want)
    assert record["error_rate"] == 0.0
    for key in ("seed", "nproc", "SPARK_GRAFT_CPUS", "shuffle_partitions",
                "pyspark", "java", "commit", "source_digest"):
        assert key in record
    if trace and workload.startswith("kg_"):
        m = {k: v["value"] for k, v in result["metrics"].items()}
        # the traced counters equal direct counts: mentions from the
        # status store vs the per-rung group counts, triples rows written
        # from the status store vs the parquet footers
        direct = record["direct_counts"]
        assert m["linking.mentions"] == direct["linking.mentions"] > 0
        assert m["pipeline.triples_rows"] == direct["pipeline.triples_rows"] > 0
        assert m["linking.mentions"] == sum(
            m[f"linking.hits_p{p}"] for p in (1, 2, 3)) + m["linking.misses"]
        assert m["extract.derived_rows"] > 0 and m["extract.derive_s"] > 0
        if workload == "kg_submit":
            assert m["checkpoint.buckets"] == bench.NUM_BUCKETS
            assert m["enrich.rows"] > 0 and m["nodes.s"] > 0


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_dropping_one_row_fails_every_iteration(workload):
    record, result = parse(invoke(workload, 0, "--selftest-drop-row"))
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 2
    assert record["error_rate"] == 1.0
    if workload.startswith("kg_"):
        assert "P=1.000000" in record["errors"][0] and "R=" in record["errors"][0]
    else:
        assert "!= oracle" in record["errors"][0]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = invoke("kg_triples", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
