"""The benchmark's own tests.

- a tiny-scale smoke of every workload, untraced and traced, checks that
  the last output line is the result object and that it names every
  metric of ``BENCHMARK.json`` with its unit;
- a planted fault (the reference misses one row) must trip the
  correctness gate and be counted as a failed operation;
- the benchmark must fail, printing no result, without the engine;
- the input generators are deterministic per seed.

Run from the repository root (takes a few minutes; each case starts Spark):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

sys.path.insert(0, BENCH)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == RESULT_KEYS
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def _tiny(workload: str, trace: int, *extra: str) -> dict:
    return _result(_run("--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny", *extra))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS + ["cow_backfill"])
def test_smoke_prints_every_metric_with_unit(workload, trace):
    out = _tiny(workload, trace)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert out["correct"] and out["failed"] == 0, out
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in spec)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_fault_trips_the_gate(workload):
    out = _tiny(workload, 0, "--plant-fault")
    assert not out["correct"]
    assert out["failed"] >= 1


def test_fails_without_the_engine():
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    scratch = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
        shutil.copytree(BENCH, os.path.join(scratch, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("--workload", WORKLOADS[0], "--seed", "1",
                    "--seconds", "1", "--trace", "0", cwd=scratch)
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_inputs_are_deterministic_per_seed():
    import gen

    ks = gen.Keyspace(n_convs=30, turns=20, text_bytes=16)
    assert gen.changelog_batch(ks, 3, 1, 500).equals(
        gen.changelog_batch(ks, 3, 1, 500))
    assert not gen.changelog_batch(ks, 3, 1, 500).equals(
        gen.changelog_batch(ks, 4, 1, 500))
    a, b = gen.Generations(ks, 3), gen.Generations(ks, 3)
    a.advance()
    b.advance()
    assert a.advance().equals(b.advance())


def test_tail_needs_ten_samples_beyond():
    from harness import tail

    assert tail(list(range(100)))[1] == 90
    assert tail(list(range(40)))[1] == 75
    assert tail(list(range(20)))[1] == 50
    assert tail(list(range(19)))[1] is None  # too few samples: no tail
