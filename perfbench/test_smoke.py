"""Smoke tests of the benchmark itself: every workload end to end at smoke
size, and one injected wrong answer that must count as a failure.

    python3 -m pytest perfbench/test_smoke.py -q   (from the checkout root)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["lake_and_corpus", "live_ingest"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_smoke(workload: str, trace: str) -> None:
    code, out = _run("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", trace, "--smoke")
    assert code == 0, out
    res = _result(out)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, out
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end" if trace == "0" else "per_layer"]]
    assert sorted(res["metrics"]) == sorted(names)


@pytest.mark.parametrize("workload", ["lake_and_corpus", "live_ingest"])
def test_injected_wrong_answer_counts_as_failure(workload: str) -> None:
    code, out = _run(
        "--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "0", "--smoke", "--inject-wrong"
    )
    assert code == 0, out
    res = _result(out)
    assert not res["correct"] and res["failed"] >= 1, out
    assert "failed_ops_ratio = 0 " not in out


def test_refuses_a_directory_without_the_program() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    code, out = _run("--workload", "live_ingest", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    assert code != 0 and not out.strip()
