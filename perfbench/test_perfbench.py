"""Checks of the benchmark itself, at minimum run length.

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs once untraced and once traced on another seed; every
metric BENCHMARK.json names must appear with its unit, and every op must
verify. Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("seed,trace", [(1, 0), (2, 1)])
def test_run_reports_every_metric_and_verifies(workload, seed, trace):
    res = _run(workload, seed, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)


def test_seeds_give_different_inputs(tmp_path):
    a = corpus.make_etl_corpus(str(tmp_path / "a"), 200, 1)
    b = corpus.make_etl_corpus(str(tmp_path / "b"), 200, 2)
    assert a.hashes() != b.hashes()
    assert corpus.make_documents(100, 1) != corpus.make_documents(100, 2)
    assert corpus.make_event_drop(0, 50, 10, 1) != corpus.make_event_drop(0, 50, 10, 2)
    # and the same seed gives the same bytes
    c = corpus.make_etl_corpus(str(tmp_path / "c"), 200, 1)
    assert a.hashes() == c.hashes() and a.corrupt == c.corrupt


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
