"""Self-test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/tests -q

Each case starts the benchmark as it is meant to be run (a subprocess
from the repository root) and checks its output contract: every named
metric with its unit, no spans in an untraced run, a perturbed oracle
counted as a failure, a clean working tree afterwards, and a non-zero
exit without a result when the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import ingest_maintain, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
GATED = [w["name"] for w in SPEC["workloads"]]


def _git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def _bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


_cache: dict[tuple, tuple[dict, dict]] = {}


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(report, result) of one tiny run, cached per argument set."""
    key = (workload, trace, *extra)
    if key not in _cache:
        before = _git_status()
        proc = _bench(workload, trace, *extra)
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert _git_status() == before, "the run left files in the working tree"
        lines = proc.stdout.strip().splitlines()
        _cache[key] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    return _cache[key]


def test_contract_names_match_benchmark_json():
    assert list(run.END_TO_END) == [m["name"] for m in SPEC["end_to_end"]]
    assert list(run.PER_LAYER) == [m["name"] for m in SPEC["per_layer"]]
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    assert {**run.END_TO_END, **run.PER_LAYER} == units
    assert set(GATED) <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_emits_end_to_end_metrics(workload):
    report, result = bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, report["failures"]
    assert result["metrics"].keys() == run.END_TO_END.keys()
    for name, unit in run.END_TO_END.items():
        m = result["metrics"][name]
        assert m["unit"] == unit and isinstance(m["value"], float) and m["value"] > 0, (name, m)
    assert report["spans_recorded"] == 0
    # the workload's own end-to-end metrics, in the report line
    e2e = report["end_to_end"]
    for name in run.REPORTED[workload]:
        assert name in e2e and "unit" in e2e[name], name
    assert report["tables"]["gate_side"] == "driver"


@pytest.mark.parametrize("workload", GATED)
def test_traced_run_emits_per_layer_metrics(workload):
    report, result = bench(workload, 1)
    assert result["correct"], report["failures"]
    assert result["metrics"].keys() == run.PER_LAYER.keys()
    for name, unit in run.PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit, name
    assert report["spans_recorded"] > 0
    layer = report["per_layer"]
    assert layer["metadata.manifests_read"]["value"] > 0
    assert layer["spark.action_ms"]["value"] > 0
    if workload == "ingest_maintain":
        for name in run.REPORTED_LAYER:
            assert name in layer, name
        fired = report["tables"]["maintain_steps_fired"]
        assert all(fired.values()), fired
        trend = report["tables"]["stored_bytes_per_live_row_by_maintain"]
        assert len(trend) == report["tables"]["maintain_runs"] >= ingest_maintain.MIN_CYCLES


def test_delete_residues_recycle(tmp_path):
    """Past DELETE_MODULUS deletes the residues are drawn again rather
    than running out (op construction only; nothing runs)."""
    wl = ingest_maintain.Workload(run.Ctx(None, str(tmp_path), 7, "tiny", None, False))
    wl._add(wl._batch(400, wl.day))
    deletes = 0
    while deletes <= ingest_maintain.DELETE_MODULUS:
        kind, _fn, _check, _detail = wl.next_op()
        deletes += kind == "delete"
    assert len(wl.used_residues) == 1


def test_perturbed_expected_value_counts_as_failure():
    report, result = bench("many_small_files", 0, "--perturb")
    assert result["failed"] == 1 and not result["correct"]
    assert report["failures"][0]["kind"] == "read"
    assert report["end_to_end"]["error_rate"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".run", "__pycache__"),
    )
    proc = _bench(GATED[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
