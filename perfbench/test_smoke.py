"""Smoke check of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced (a few minutes: each workload
starts its own Spark driver) and checks that the result lines carry every
metric BENCHMARK.json names, with its unit, and that every oracle passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["pages_pip", "raster"]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def lines(out: subprocess.CompletedProcess) -> list[dict]:
    assert out.returncode == 0, out.stderr[-3000:]
    return [json.loads(x) for x in out.stdout.splitlines() if x.startswith("{")]


def check_records(records: list[dict]) -> None:
    assert [r["workload"] for r in records] == WORKLOADS
    for r in records:
        assert r["failed"] == 0 and r["failed_ratio"] == 0.0, r["failures"]
        assert r["warm_reps"] >= 2


def test_end_to_end_metrics_for_every_workload():
    out = lines(run("--workload", "all", "--seed", "3", "--seconds", "1", "--size", "tiny"))
    records, final = out[:-1], out[-1]
    check_records(records)
    for r in records:
        for m in spec()["end_to_end"]:
            got = r["metrics"][m["name"]]
            assert got["unit"] == m["unit"] and got["value"] > 0, (r["workload"], m["name"])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] and final["failed"] == 0


def test_per_layer_metrics_for_every_workload():
    # a second seed: every oracle must pass on it too
    out = lines(run("--workload", "all", "--seed", "4", "--seconds", "1", "--size", "tiny", "--trace", "1"))
    check_records(out[:-1])
    for r in out[:-1]:
        for m in spec()["per_layer"]:
            assert r["metrics"][m["name"]]["unit"] == m["unit"], (r["workload"], m["name"])
        assert r["metrics"]["trace.overhead"]["value"] > 0
    assert out[-1]["correct"]
    # the pip counts come from the verify UDF node alone, not the text one
    pip = {k: v["value"] for k, v in out[0]["metrics"].items()}
    assert 0 < pip["operators.pip.matches"] <= pip["operators.pip.candidates"]
    assert pip["operators.pip.candidates"] < out[0]["rows"] + pip["operators.pip.matches"]


def test_fails_without_the_engine():
    # a checkout that holds only BENCHMARK.json and the benchmark's files
    bare = os.path.join(HERE, "data", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("data", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = run("--workload", "pages_pip", "--seed", "1", "--seconds", "1", cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert out.returncode != 0
    assert not [x for x in out.stdout.splitlines() if x.startswith("{")]
