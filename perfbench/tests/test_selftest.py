"""Self-test of the benchmark: the smoke run prints every metric with its
unit and sample count and its output checks pass, and the benchmark
refuses to report anything when the program under test is missing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

sys.path.insert(0, BENCH)

from run import UNITS, WORKLOADS, unit_of  # noqa: E402


def test_smoke_prints_every_metric_and_checks_pass():
    proc = subprocess.run(
        [sys.executable, RUN, "--smoke", "--trace", "1"], cwd=ROOT, capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0 and final["attempted"] >= 1
    text = "\n".join(lines[:-1])
    for w in WORKLOADS:
        block = text.split(f"== {w}\n", 1)[1].split("\n== ", 1)[0]
        for name, unit in UNITS.items():
            assert re.search(rf"^\s+{name}\s+[-0-9.]+ {re.escape(unit)}\s+n=[1-9]", block, re.M), (w, name)
        assert re.search(r"^\s+error_ratio\s+0\.0000 1\s+n=[1-9]", block, re.M), w
        traced = {k.split(".", 1)[1] for k in final["metrics"] if k.startswith(w + ".")}
        assert "jvm.gc_s" in traced, w
    for key, m in final["metrics"].items():
        assert isinstance(m["value"], (int, float)), key
        assert m["unit"] == unit_of(key.split(".", 1)[1]), key


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
