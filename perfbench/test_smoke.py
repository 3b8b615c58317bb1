"""Smoke test of the benchmark at its smallest scale (a 1k-contract
listing universe, the 570-row curation corpus): each workload once
untraced and once traced, in its own process, as the benchmark is run.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Asserts that every metric BENCHMARK.json names is printed with its unit,
that no operation failed, and that the traced run charged every task to
a layer.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

#: The workload-specific names the human-readable lines use.
NAMED = {
    "weekly_warehouse": ("setup_s", "first_week_s", "week_s", "stored_ratio", "peak_rss_mb", "fail_ratio"),
    "curation": ("setup_s", "first_curate_s", "curate_s", "peak_rss_mb", "fail_ratio"),
}


def run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload(workload: str, trace: int) -> None:
    summary, stdout = run(workload, trace)
    assert summary["correct"], stdout
    assert summary["failed"] == 0 and summary["attempted"] >= 2
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(summary["metrics"]) == {m["name"] for m in declared}
    for metric in declared:
        assert summary["metrics"][metric["name"]]["unit"] == metric["unit"], metric["name"]
    for name in NAMED[workload]:
        assert re.search(rf"^metric {workload} {name} \S+ \S+$", stdout, re.M), name
    assert re.search(rf"^metric {workload} fail_ratio 0 ratio$", stdout, re.M)
    if trace:
        assert summary["metrics"]["trace.attributed_task_share"]["value"] == 1.0
        charged = sum(
            v["value"] for k, v in summary["metrics"].items()
            if k.endswith(".task_run_s") and not k.startswith("spark.")
        )
        assert charged == pytest.approx(summary["metrics"]["spark.task_run_s"]["value"], rel=1e-9, abs=1e-9)
