"""The benchmark's own test: small traced runs repeat their counts exactly,
and every run prints exactly the metrics BENCHMARK.json declares.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts real Spark sessions (about six minutes in all on a
4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = {
    "pipeline_daily": ["--history-days", "2", "--rows-per-day", "200"],
    "read_mix": ["--scale", "0.002"],
}
# Counts that must not change between two traced runs of the same seed.
EXACT = {
    "pipeline_daily": ["spark.jobs", "incremental.rows_appended"]
    + [f"zone.{z}.files_written" for z in ("bronze", "silver", "gold", "audit")],
    "read_mix": ["spark.jobs", "op.dedup_minhash_lsh_pairs.jobs", "op.sim_topk_ivf.jobs"],
}


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), *SMALL[workload]]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def _pinned(metrics: dict, kind: str) -> None:
    units = declared(kind)
    assert set(metrics) == set(units)
    for name, m in metrics.items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_traced_counts_repeat(workload):
    a, b = run(workload, 1), run(workload, 1)
    _pinned(a, "per_layer")
    _pinned(b, "per_layer")
    for name in EXACT[workload]:
        assert a[name]["value"] == b[name]["value"], name
    assert a["spark.jobs"]["value"] > 0


def test_untraced_metrics():
    m = run("read_mix", 0)
    _pinned(m, "end_to_end")
    assert m["ok_ratio"]["value"] == 1.0
    assert m["pass_s"]["value"] > 0 and m["setup_s"]["value"] > m["pass_s"]["value"]


def test_refuses_without_package(tmp_path):
    """A directory with only the benchmark files must fail fast."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "read_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
