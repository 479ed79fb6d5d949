"""Smoke test of the benchmark at its smallest size (0.001 scale, two weeks).

    python3 -m pytest perfbench/test_smoke.py -q

Takes about five minutes: it runs every workload untraced and traced on
one seed and untraced on a second seed.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import SMOKE_INPUTS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def run_bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
        env={**os.environ, "PERFBENCH_SMOKE": "1"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted(workload: str, trace: int) -> None:
    result = run_bench(workload, seed=1, trace=trace)
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.parametrize("kind", sorted(SMOKE_INPUTS))
def test_same_seed_regenerates_identical_inputs(kind: str) -> None:
    base = os.path.join(ROOT, ".perfbench", "smoke-gen")
    shutil.rmtree(base, ignore_errors=True)
    try:
        a = gen.ensure(kind, 1, os.path.join(base, "a"), **SMOKE_INPUTS[kind])
        b = gen.ensure(kind, 1, os.path.join(base, "b"), **SMOKE_INPUTS[kind])
        files = sorted(os.listdir(a))
        assert files == sorted(os.listdir(b)) and files
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert not mismatch and not errors
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_second_seed_changes_rows_not_results(workload: str) -> None:
    kind = WORKLOADS[workload]["inputs"][0]
    base = os.path.join(ROOT, ".perfbench", "inputs")
    table, column = ("lineitem", "l_orderkey") if kind == "tables" else ("loan_terms", "member_id")
    orders = [
        pq.read_table(os.path.join(gen.ensure(kind, seed, base, **SMOKE_INPUTS[kind]), f"{table}.parquet"),
                      columns=[column]).column(0).to_pylist()
        for seed in (1, 2)
    ]
    assert orders[0] != orders[1]
    result = run_bench(workload, seed=2, trace=0)
    assert result["failed"] == 0 and result["correct"]
