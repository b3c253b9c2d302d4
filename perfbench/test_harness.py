"""Harness tests for the benchmark.  Run from the repository root:

    python -m pytest perfbench -q

The last three tests start real benchmark runs (one JVM each, about
three minutes in all).
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    MIN_SAMPLES, TAIL_BEYOND, WORKLOADS, hd_quantile, latency_stats, pass_orders,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("n", range(MIN_SAMPLES, 130, 7))
def test_tail_above_p50_with_ten_beyond(n):
    rng = random.Random(n)
    walls = [rng.lognormvariate(0, 1) for _ in range(n)]
    lat = latency_stats(walls)
    assert lat["tail"] > lat["p50"]
    assert lat["tail_pct"] > 50
    assert n * (1 - lat["tail_pct"] / 100) >= TAIL_BEYOND - 1e-9


def test_hd_quantile():
    rng = random.Random(3)
    xs = [rng.random() for _ in range(400)]
    qs = [i / 20 for i in range(1, 20)]
    est = [hd_quantile(xs, q) for q in qs]
    assert all(abs(e - q) < 0.05 for e, q in zip(est, qs))
    assert est == sorted(est)
    assert hd_quantile([2.5] * 30, 0.7) == pytest.approx(2.5)


def test_short_sample_is_refused():
    with pytest.raises(ValueError):
        latency_stats([1.0] * (MIN_SAMPLES - 1))


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_seed_changes_order_not_key_set(workload):
    keys = WORKLOADS[workload]
    a, b = pass_orders(keys, 1), pass_orders(keys, 2)
    first_a, first_b = next(a), next(b)
    assert first_a != first_b
    for order in (first_a, first_b, next(a), next(b)):
        assert sorted(order) == sorted(keys)
    assert next(pass_orders(keys, 1)) == first_a


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "olap_interactive", "--seed", "1",
                "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail)["detail"], json.loads(result)


def test_untraced_run_prints_every_end_to_end_metric():
    detail, res = _result(_run("--workload", "olap_interactive", "--seed", "7",
                               "--seconds", "1", "--trace", "0"))
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["latency_tail_s"] > m["latency_p50_s"] > 0
    n = detail["latency_n"]
    assert n >= MIN_SAMPLES
    assert n * (1 - detail["latency_tail_pct"] / 100) >= TAIL_BEYOND - 1e-9
    assert all(v > 0 and math.isfinite(v) for v in m.values())


def test_traced_run_emits_every_layer_metric_and_spans():
    detail, res = _result(_run("--workload", "fs_roundtrip", "--seed", "7",
                               "--seconds", "1", "--trace", "1"))
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert all(math.isfinite(v) for v in m.values())
    assert m["catalog.load_table.calls"] > 0 and m["fs.calls"] > 0
    assert m["exec.jobs"] > 0 and m["fs.bytes_written"] > 0
    with open(os.path.join(ROOT, detail["span_file"])) as fh:
        spans = [json.loads(line) for line in fh]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert roots and all(s["name"] == "query" for s in roots)
    for s in spans:
        if s["parent"] is not None:
            assert by_id[s["parent"]]["qid"] == s["qid"]
