"""Smoke test of the benchmark at tiny size (a few ingest batches, the
query mix at sf0.001): every declared metric is emitted with its unit,
and the output checks fail when an expected value is perturbed.

    python3 -m pytest perfbench/test_smoke.py -q

It starts Spark several times and takes a few minutes.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run as bench  # noqa: E402
import trades  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)
WORKLOADS = [w["name"] for w in DECLARED["workloads"]]


def smoke(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", "--keep"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    run_dir = re.search(r"kept run directory (\S+)", proc.stderr).group(1)
    return json.loads(proc.stdout.strip().splitlines()[-1]), run_dir


@pytest.fixture(scope="module")
def runs():
    out = {(w, t): smoke(w, t) for w in WORKLOADS for t in (0, 1)}
    yield out
    for _, run_dir in out.values():
        shutil.rmtree(run_dir, ignore_errors=True)


def test_trade_encoder_matches_the_program_encoder():
    from bristle_spark.ingest import wire

    for t in trades.make_batches(3, 2, 50)[1]:
        symbol, price, t_ms, volume, conds = t
        assert trades.encode(*t) == wire.encode_message([
            (1, "string", symbol, False), (2, "double", price, False),
            (3, "uint64", t_ms, False), (4, "double", volume, False),
            (5, "string", conds, True),
        ])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_emits_every_declared_metric_with_its_unit(runs, workload, trace):
    final, _ = runs[(workload, trace)]
    assert final["correct"] is True and final["failed"] == 0 and final["attempted"] >= 1
    declared = DECLARED["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in final["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], float) for v in final["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in final["metrics"].values())


# per-layer metrics that must read above zero in a traced run of each
# workload: a zero means a wrapper, listener or status-store read
# stopped taking effect (metrics.batches_not_ok and spark.spill_bytes
# are rightly zero)
MEASURED = {
    "ingest_large_batches": (
        "service.", "wire.", "h2.", "hpack.", "grpc_transport.", "server.pump.",
        "ingest_stream.", "pipeline.", "spark.jobs", "spark.tasks", "spark.executor_run_s",
        "spark.output_", "cpu.",
    ),
    "query_mix": (
        "queries.", "spark.planning_s", "spark.driver_idle_s", "spark.jobs", "spark.tasks",
        "spark.stages", "spark.executor_run_s", "spark.shuffle_", "spark.scan_bytes",
        "cpu.driver_python_s", "cpu.jvm_s", "cpu.python_workers_s",
    ),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_measures_every_layer_it_runs(runs, workload):
    final, _ = runs[(workload, 1)]
    measured = [k for k in final["metrics"] if k.startswith(MEASURED[workload])]
    assert len(measured) >= 10
    assert [k for k in measured if final["metrics"][k]["value"] <= 0] == []


def _load(run_dir: str) -> dict:
    with open(os.path.join(run_dir, "run.json")) as fh:
        return json.load(fh)


def _perturbations(expected: dict):
    symbol = next(iter(expected["per_symbol"]))
    for field, delta in ((0, 1), (1, 1 / 64), (2, 1.0)):
        e = copy.deepcopy(expected)
        e["per_symbol"][symbol][field] += delta
        yield e
    e = copy.deepcopy(expected)
    e["rows"] += 1
    yield e
    e = copy.deepcopy(expected)
    e["conditions"] -= 1
    yield e
    e = copy.deepcopy(expected)
    e["days"].append("2024-03-09")
    yield e


def test_ingest_check_fails_on_a_perturbed_expectation(runs):
    _, run_dir = runs[("ingest_large_batches", 0)]
    run = _load(run_dir)
    assert bench.ingest_metrics(run)[3] == 0
    for expected in _perturbations(run["gen"]["expected"]):
        bad = copy.deepcopy(run)
        bad["gen"]["expected"] = expected
        _, _, attempted, failed, failures = bench.ingest_metrics(bad)
        assert failed == attempted and failures, expected


def test_query_check_fails_on_a_perturbed_result(runs):
    _, run_dir = runs[("query_mix", 0)]
    run = _load(run_dir)
    assert bench.query_metrics(run)[3] == 0
    name = sorted(run["result"]["key_s"])[0]
    path = os.path.join(run["result"]["results_dir"], f"{name}.json")
    with open(path) as fh:
        dumped = json.load(fh)
    row = dumped["rows"][0]
    row[0] = row[0] + "0" if row[0].startswith("s:") else "s:perturbed"
    with open(path, "w") as fh:
        json.dump(dumped, fh)
    _, _, _, failed, failures = bench.query_metrics(run)
    assert failed == 1 and failures[0].startswith(name)
