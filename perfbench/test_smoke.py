"""Smoke runs of every workload through the benchmark's command line.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
Each test starts its own JVM on small inputs (``--smoke``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402
from run import END_TO_END, FIGURES, WARMUP_OPS  # noqa: E402


def _bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_names_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(tracing.PER_LAYER)
    assert all(m["unit"] == tracing.unit(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_smoke_run(workload):
    res = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert list(res["metrics"]) == list(tracing.PER_LAYER)
    assert res["metrics"]["trace.self_cover_frac"]["value"] >= 0.9


def test_untraced_smoke_run_reports_every_end_to_end_metric():
    proc = _bench("--workload", "reconcile_snapshots", "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke")
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    report = json.loads(proc.stdout.strip().splitlines()[-2][len("perfbench: "):])
    figures = report["figures"]
    assert set(figures) == {
        "setup_s", "op_s_p50", "op_cpu_s_p50", "cells_compared_per_s", "failed_op_frac", "peak_rss_mb"
    }
    assert all(f["unit"] == FIGURES[k] for k, f in figures.items())
    assert len(report["warmup_s"]) == WARMUP_OPS and min(report["warmup_s"]) > 0
    assert len(report["op_cpu_s"]) == len(report["op_s"]) and min(report["op_cpu_s"]) > 0


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench("--workload", "er_dense", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_same_seed_same_snapshots():
    a = workloads.orders_snapshots(5, 500)
    b = workloads.orders_snapshots(5, 500)
    c = workloads.orders_snapshots(6, 500)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[1].equals(c[1])


def test_indel_ratio_oracle():
    assert workloads._indel_ratio("Clerk#000000042", "Clerk#000000042-x") == 93.75
    assert workloads._indel_ratio("Clerk#000000042", "Clerk#aaaaaaaec") == 40.0
    assert workloads._indel_ratio("", "") == 100.0


def test_simhash_oracle_matches_the_package_reference():
    import re

    from data_reconciliation_spark.functions.similarity import simhash64_md5_py

    for text in ("the quick brown fox", "  a  b\tc ", "x", "Clerk#000000042 jumps"):
        norm = re.sub(r"\s+", " ", text.strip(" "))
        assert workloads.simhash64(text) == simhash64_md5_py(norm) % (1 << 64)


def test_dedup_oracle_rejects_a_wrong_distance():
    import pandas as pd

    docs = pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "a  b c d"]})
    oracle = workloads.DedupOracle(docs)
    none = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
    assert oracle.check(none, pd.DataFrame({"id_a": [1], "id_b": [2], "hamming": [0]})) is None
    assert "distance" in oracle.check(none, pd.DataFrame({"id_a": [1], "id_b": [2], "hamming": [1]}))
