"""Fast self-test of the benchmark harness on generated sf0.001 data.

    python3 -m pytest perfbench/test_selftest.py -q

For every workload it runs the harness once untraced and once traced and
checks that each metric ``BENCHMARK.json`` names is emitted with its unit,
that every traced execution carries every per-layer field, that build plus
execution time never exceeds a query's wall, and that tracing does not
change any result digest. A unit check pins that top-up passes stay out of
every end-to-end metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _run(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    record = tmp_path / f"trace{trace}.json"
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
        "--record", str(record),
    ]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1]), json.loads(record.read_text())


def _units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_harness(workload, tmp_path):
    plain, plain_record = _run(workload, 0, tmp_path)
    traced, traced_record = _run(workload, 1, tmp_path)

    for result in (plain, traced):
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= len(WORKLOADS[workload].queries)
    assert _units(plain["metrics"]) == {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert _units(traced["metrics"]) == {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}

    for e in plain_record["executions"] + traced_record["executions"]:
        assert e["build_s"] + e["exec_s"] <= e["wall_s"]
    for e in traced_record["executions"]:
        assert set(e["layers"]) == set(layers.LAYER_METRICS)
        assert e["layers"]["plans.build_s"] + e["layers"]["exec.s"] <= e["wall_s"]

    digests = {name: c["digest"] for name, c in plain_record["checks"].items()}
    assert digests == {name: c["digest"] for name, c in traced_record["checks"].items()}
    assert set(digests) == set(WORKLOADS[workload].queries)


def test_topup_passes_are_not_measured():
    import run

    def execution(cold: bool, wall_s: float, topup: bool) -> dict:
        return {"query": "q", "cold": cold, "wall_s": wall_s, "ok": True, "topup": topup,
                "storage_mb": 9.0 if topup else 1.0}

    record = {"import_s": 0.5, "setup_s": 10.0, "executions": [
        execution(True, 3.0, False), execution(False, 1.0, False), execution(False, 2.0, False),
        execution(False, 7.0, True),
    ]}
    metrics = {name: m["value"] for name, m in run.end_to_end(record).items()}
    assert metrics == {"setup_s": 10.5, "cold_s": 3.0, "warm_s": 3.0,
                       "query_p50_s": 2.0, "cache_peak_mb": 1.0}
