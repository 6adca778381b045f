"""Smoke test of the benchmark at tiny size (a few minutes on 4 cores).

Run from the repository root::

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

It checks that every end-to-end and per-layer metric of ``BENCHMARK.json`` is
emitted with its unit, that the correctness gate trips on a planted wrong
answer, and that the command refuses to run outside a checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from run import END_TO_END, ENTRY_QUERIES, per_layer_units  # noqa: E402

QUERIES = ["dedup_clusters", "text_quality", "ann_ivf"]
TINY = [
    "--seed", "3", "--seconds", "1", "--pages", "300", "--stream-batches", "2",
    "--docs", "300", "--queries", ",".join(QUERIES),
]


def _bench(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return proc.returncode, last, proc.stderr


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(metrics: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in metrics.items()}


def test_benchmark_json_matches_the_emitted_names():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    full = per_layer_units(ENTRY_QUERIES)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == full
    assert len(full) == 105


@pytest.mark.parametrize(
    "workload,plant,trace",
    [
        ("batch_mixed", "unique_merge", "0"),
        ("entry_queries", "query_result", "0"),
        ("batch_mixed", "lost_edge", "1"),
    ],
)
def test_gate_trips_on_a_planted_wrong_answer(workload, plant, trace):
    rc, out, err = _bench(ROOT, "--workload", workload, "--trace", trace, "--plant", plant, *TINY)
    assert rc == 1, err[-3000:]
    assert out["correct"] is False and out["failed"] >= 1
    if trace == "1":
        assert _units(out["metrics"]) == per_layer_units(QUERIES)
        return
    assert _units(out["metrics"]) == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["batch_mixed", "entry_queries"])
def test_traced_run_emits_every_per_layer_metric(workload):
    rc, out, err = _bench(ROOT, "--workload", workload, "--trace", "1", *TINY)
    assert rc == 0, err[-3000:]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert _units(out["metrics"]) == per_layer_units(QUERIES)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("results", "__pycache__"),
    )
    rc, out, _err = _bench(str(tmp_path), "--workload", "batch_mixed", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert rc != 0 and out is None
