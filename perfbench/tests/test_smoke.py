"""Smoke test of the benchmark itself: every workload, at a tiny size, passes
its output check and emits every metric ``BENCHMARK.json`` names, with its
unit. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, cwd: Path = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace), "--scale", "0.02",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, report, last = proc.stdout.strip().splitlines()
    return json.loads(report)["report"], json.loads(last)


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }


@pytest.mark.parametrize("workload", ["kg_build", "curate", "kg_stream"])
def test_untraced_run_is_correct_and_complete(workload):
    report, res = result(run(workload, 0))
    assert_metrics(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert report["fail_frac"] == {"value": 0.0, "unit": "ratio"}
    assert report["peak_rss_mb"]["value"] > 0
    if workload == "kg_stream":
        assert report["batch_p50_s"]["value"] > 0


def test_traced_run_emits_every_layer_metric():
    report, res = result(run("kg_build", 1))
    assert_metrics(res, SPEC["per_layer"])
    # one scan to plan the chunks, then one per chunk (kg_build runs 2)
    assert res["metrics"]["sinks.run_resumable.input_scans"]["value"] == pytest.approx(3.0)
    spans = {s["id"]: s for s in report["spans"]}
    for s in spans.values():
        assert s["parent"] is None or s["parent"] in spans
        assert s["self_s"] <= s["wall_s"] + 1e-9


def test_fails_without_the_program(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    shutil.copytree(
        REPO / "perfbench", tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run("kg_build", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
