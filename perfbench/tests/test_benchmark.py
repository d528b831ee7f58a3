"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The tiny runs start Spark (about a minute per workload); the rest are
pure Python.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS, _merged_away, jaccard  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_spec_names_known_workloads_and_units():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert run.UNITS[m["name"]] == m["unit"], m["name"]
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in SPEC["end_to_end"])


def test_jaccard_reference():
    assert jaccard("a b c d", "a b c d") == 1.0
    # shingles {abc, bcd} vs {abc, bcx}: 1 shared of 3
    assert jaccard("a b c d", "a b c x") == pytest.approx(1 / 3)
    assert jaccard("a b", "a b") == 0.0     # fewer than 3 words


def test_merged_away_counts_component_sizes():
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")]
    assert _merged_away(pairs) == 3         # {a,b,c} drops 2, {x,y} 1


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_traced_run_emits_every_metric(name):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name,
         "--seed", "3", "--seconds", "0", "--trace", "1",
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, last_line = proc.stdout.strip().splitlines()[-2:]
    last, report = json.loads(last_line), json.loads(report_line)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0, report["failed_checks"]
    assert report["error_rate"] == 0
    assert last["metrics"] == {m["name"]: report["per_layer"][m["name"]]
                               for m in SPEC["per_layer"]}
    for m in SPEC["end_to_end"]:
        got = report["end_to_end"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    assert set(report["end_to_end"]) | set(report["per_layer"]) == set(
        run.UNITS)
    assert report["per_layer"]["trace.span_coverage"]["value"] >= 0.9
    assert "iteration" in report["span_self_s"]
    assert min(report["span_self_s"].values()) >= -1e-6


def test_fails_without_the_package():
    """Given only BENCHMARK.json and the benchmark's files, the run exits
    non-zero and prints no result."""
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "pit_features", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout == ""
