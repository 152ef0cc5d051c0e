"""The one command: it prints every metric by name with its unit, and
refuses to run without the program."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_one_command_prints_every_end_to_end_metric_with_unit():
    p = _run(ROOT, "--workload", "analytics_interactive", "--seed", "0",
             "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in run.SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for name, unit in want.items():  # the readable copy on stderr
        assert any(line.startswith(name) and line.endswith(unit)
                   for line in p.stderr.splitlines()), name


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(tmp_path, "--workload", "gha_hourly_ingest", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
