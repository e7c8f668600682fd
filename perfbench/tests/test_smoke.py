"""A tiny run of each workload through the benchmark's entry point."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

import run
import workloads

ROOT = run.ROOT


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads.HistScan, "N_ROWS", 100_000)
    monkeypatch.setattr(workloads.RegistryRows, "SIZES",
                        dict(docs=500, embeddings=200, events=5_000))
    # at this size every row's DuckDB oracle is cheap, minhash_lsh_stats'
    # too, so a wrong answer from any row fails the run
    monkeypatch.setattr(workloads.RegistryRows, "ORACLE_ROWS",
                        workloads.RegistryRows.ROWS)
    monkeypatch.setattr(workloads.CorpusChain, "N_DOCS", 5_000)
    # a run points TMPDIR into its own work directory, which it deletes
    saved = {v: os.environ.get(v) for v in ("TMPDIR", "PYTHONPATH")}
    yield
    for var, val in saved.items():
        if val is None:
            os.environ.pop(var, None)
        else:
            os.environ[var] = val
    tempfile.tempdir = None


@pytest.mark.parametrize("workload,trace", [
    ("hist_scan", 1), ("corpus_chain", 0), ("corpus_chain", 1)])
def test_workload_smoke(tiny, capsys, workload, trace):
    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _benchmark()["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["unattributed.jobs"]["value"] == 0


def test_fails_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hist_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
