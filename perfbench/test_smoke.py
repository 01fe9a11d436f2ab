"""Smoke test of the benchmark at toy size (a few minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload, untraced and traced, in this process with small
inputs (many_partials keeps its 264 slices, so the sketches still take
the tree merge; traced runs also run the contract queries). Checks that
every metric BENCHMARK.json names is printed with its unit, that all
outputs are correct, and that no process the run started survives it.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_spec_matches_printed_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_toy_size(workload, trace, monkeypatch, capsys):
    monkeypatch.setattr(workloads, "MEMBERSHIP_KEYS", 20_000)
    monkeypatch.setattr(workloads, "MANY_ROWS_PER_SLICE", 20)
    # run.main points these at its scratch directory; restore them after
    for var in ("TMPDIR", "SPARK_GRAFT_TMP", "PYTHONPATH", "JAVA_TOOL_OPTIONS"):
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    code = run.main(["--workload", workload, "--seed", "3",
                     "--seconds", "0", "--trace", str(trace)])
    captured = capsys.readouterr()
    assert code == 0, captured.err[-4000:]
    out = json.loads(captured.out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    expected = run.LAYER if trace else run.E2E
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["sketches.tree_merge"]["value"] == float(
            workload == "many_partials")
        assert out["metrics"]["spark.python_tasks"]["value"] > 0
        assert all(out["metrics"][f"q.{q}_s"]["value"] > 0
                   for q in run.QUERIES)
    assert not run.descendants(os.getpid()), "a started process survived"
    assert not [d for d in os.listdir(run.OUT) if d.startswith("tmp-")]


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "membership",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "cuckoo_filter_spark" in p.stderr
