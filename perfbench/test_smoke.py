"""Smoke test for the benchmark itself, at tiny input sizes.

Runs every workload once through the command line, as the benchmark
command is run, and checks the contract of the printed result: every
metric named in BENCHMARK.json is present with its unit, all operations
succeeded and the outputs were checked correct.  Takes a few minutes
(one Spark session per workload)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("stream_files", 1), ("stream_replay", 0), ("suite_heavy", 1)],
)
def test_workload_prints_every_metric(workload, trace):
    spec = _spec()
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0  # error rate 0
    named = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_bare_checkout_fails_without_result(tmp_path):
    """Without the engine package the command must fail and print no
    result line."""
    bare = tmp_path / "perfbench"
    bare.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bare / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(bare / "run.py"), "--workload", "suite_heavy",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
