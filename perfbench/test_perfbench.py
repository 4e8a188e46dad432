"""The benchmark's own tests: every workload end to end at the tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs the benchmark command from the repository root with a
fixed seed and a one-second loop.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# the workloads BENCHMARK.json gates on, and corpus_curation, which runs by hand
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["corpus_curation"]


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, list[str]]:
    """The result line and the ``#`` note lines of one run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), [x for x in lines if x.startswith("#")]


def check_result(out: dict, wanted: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    for w in wanted:
        m = out["metrics"][w["name"]]
        assert m["unit"] == w["unit"]
        assert isinstance(m["value"], float | int)
    assert set(out["metrics"]) == {w["name"] for w in wanted}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_emits_every_end_to_end_metric_with_no_failures(workload):
    out, _ = bench(workload, 0)
    check_result(out, SPEC["end_to_end"])
    assert out["failed"] == 0 and out["correct"]
    assert out["metrics"]["success_rate"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_emits_every_per_layer_metric_and_layers_add_up(workload):
    out, notes = bench(workload, 1)
    check_result(out, SPEC["per_layer"])
    assert out["failed"] == 0 and out["correct"]
    run_dir = next(x for x in notes if x.startswith("# spans and per-layer table:")).split(": ")[1]
    with open(os.path.join(ROOT, run_dir, "layers.json")) as f:
        table = json.load(f)
    assert table["requests"] and all(r["ok"] for r in table["requests"])
    assert table["self_time_check"]["failed"] == []


def test_corrupted_expected_checksum_counts_as_failure(tmp_path):
    with open(os.path.join(BENCH, "expected.json")) as f:
        expected = json.load(f)
    for rid in expected["corpus_curation"]["tiny"]:
        expected["corpus_curation"]["tiny"][rid] = "0:0:0"
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    out, notes = bench("corpus_curation", 0, "--expected", str(path))
    assert out["failed"] == out["attempted"] >= 1
    assert not out["correct"]
    assert out["metrics"]["success_rate"]["value"] == 0.0
    assert sum(x.startswith("# FAILED") for x in notes) == out["failed"]


def test_exits_nonzero_without_the_library(tmp_path):
    """A directory with only BENCHMARK.json and the benchmark fails fast."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
