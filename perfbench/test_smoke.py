"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` in a subprocess, as the benchmark's users
do, and checks the printed contract: every metric named in BENCHMARK.json
with its unit (and, on the report lines, its sample count), every
correctness check passing, a deliberately corrupted output tripping a check,
and a refusal to report anything when the library is absent.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _tiny(workload: str, trace: int = 0, *extra: str) -> tuple[int, list[str], dict]:
    rc, lines = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace), "--scale", "tiny", *extra)
    return rc, lines, json.loads(lines[-1])


def test_benchmark_json_matches_the_program():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.NAMED)


@pytest.mark.parametrize("workload", ["ingest", "serve", "churn"])
def test_timed_run_reports_every_metric_and_passes_checks(workload):
    rc, lines, res = _tiny(workload)
    assert rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    report = "\n".join(lines[:-1])
    for name, unit in run.END_TO_END.items():
        assert re.search(rf"^metric {re.escape(name)} = \S+ {re.escape(unit)} \(n=\d+\)$", report, re.M)
    for name, unit in {**run.COMMON_NAMED, **run.NAMED[workload]}.items():
        assert re.search(rf"^named {re.escape(name)} = \S+ {re.escape(unit)} \(n=\d+\)$", report, re.M)
    checks = [l for l in lines if l.startswith("# check ")]
    assert checks and all(": ok" in l for l in checks)


def test_traced_run_reports_every_layer_metric():
    rc, lines, res = _tiny("serve", trace=1)
    assert rc == 0 and res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    assert res["metrics"]["search.prefix_s"]["value"] > 0
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert any(l.startswith("#   sum") for l in lines)


def test_corrupted_output_trips_a_check():
    rc, lines, res = _tiny("ingest", 0, "--corrupt")
    assert rc != 0 and not res["correct"] and res["failed"] >= 1
    assert any("ingest.validate_cells: FAILED" in l for l in lines)


def test_refuses_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("--workload", "ingest", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(l.startswith("{") for l in lines)
