"""The benchmark end to end at tiny scale, and its contract with
BENCHMARK.json. The smoke runs start Spark, so they take a minute each."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_spec_matches_the_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in SPEC["per_layer"])
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_work_rate_uses_median_walls():
    from perfbench.tracing import Span

    spans = [Span(0, "a", "timed", wall_s=1.0, rows=16),
             Span(1, "a", "timed", wall_s=1.2, rows=16),
             Span(2, "a", "timed", wall_s=9.0, rows=16),  # slowed from outside
             Span(3, "b", "timed", wall_s=2.0, rows=10)]
    assert run.work_rate(spans) == pytest.approx(58 / (3 * 1.2 + 2.0))
    assert run.work_rate([]) == 0.0


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "point", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, trace):
    p = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
              "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["end_to_end"] if trace == "0" else SPEC["per_layer"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if trace == "0":
        assert all(v > 0 for v in metrics.values())
    else:
        assert metrics["trace.untagged_jobs"] == 0
        assert metrics["trace.op_cover_frac"] >= 0.9
    assert not list((ROOT / ".perfbench_run").glob(f"{workload}-*"))
