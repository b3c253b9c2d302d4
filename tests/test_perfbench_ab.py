"""The paired-comparison summary of ``scripts/perfbench_ab.py``: pure
Python, no Spark."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_path = Path(__file__).resolve().parent.parent / "scripts" / "perfbench_ab.py"
_spec = importlib.util.spec_from_file_location("perfbench_ab", _path)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

QPM = {"name": "throughput_qpm", "better": "higher", "bound": 0.24}
P50 = {"name": "latency_p50_s", "better": "lower", "bound": 0.24}


def _runs(parent: list[float], change: list[float], metric: str = "throughput_qpm"):
    out = []
    for i, (p, c) in enumerate(zip(parent, change)):
        for side, v in (("parent", p), ("change", c)):
            out.append({
                "workload": "w",
                "pair": i,
                "side": side,
                "metrics": None if v is None else {metric: v},
            })
    return out


def _row(parent, change, spec=QPM) -> dict:
    (row,) = ab.summarize(_runs(parent, change, spec["name"]), [spec])
    return row


def test_schedule_alternates_first_side_and_steps_seed():
    sched = ab.schedule(4, 301)
    assert [s[1] for s in sched] == [301, 302, 303, 304]
    assert [s[2][0] for s in sched] == ["parent", "change", "parent", "change"]
    assert all(sorted(s[2]) == ["change", "parent"] for s in sched)


def test_gain_needs_nine_tenths_of_pairs_and_median_beyond_parent_iqr():
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    row = _row(parent, [p + 20 for p in parent])
    assert row["wins"] == 10 and row["verdict"] == "gain"
    assert row["parent"]["median"] == 100 and row["change"]["median"] == 120
    # two lost pairs: 8/10 wins is below nine tenths
    change = [p + 20 for p in parent[:8]] + [parent[8] - 1, parent[9] - 1]
    assert _row(parent, change)["verdict"] != "gain"
    # every pair won, but by less than the parent's own IQR
    assert _row(parent, [p + 0.5 for p in parent])["verdict"] == "same"


def test_ties_and_failed_runs_count_for_neither_side():
    parent = [100.0] * 10
    change = [100.0] + [130.0] * 8 + [None]
    row = _row(parent, change)
    assert row["wins"] == 8 and row["pairs"] == 10
    assert row["change"]["n"] == 9
    assert row["verdict"] != "gain"


def test_lower_is_better_metrics_win_by_falling():
    parent = [0.30, 0.31, 0.29, 0.30, 0.32, 0.30, 0.31, 0.29, 0.30, 0.30]
    row = _row(parent, [p - 0.05 for p in parent], P50)
    assert row["wins"] == 10 and row["verdict"] == "gain"
    assert row["ratio"] < 1


def test_worse_beyond_bound_and_unresolved_spread():
    parent = [100, 101, 99, 100, 100, 101, 99, 100, 100, 100]
    assert _row(parent, [p * 0.7 for p in parent])["verdict"] == "worse"
    assert _row(parent, [p * 0.9 for p in parent])["verdict"] == "same"
    wide = [60, 140, 60, 140, 60, 140, 60, 140, 100, 100]
    assert _row(wide, [95] * 10)["verdict"] == "unresolved"


def test_metric_without_bound_reads_worse_by_the_mirrored_rule():
    spec = {"name": "catalog.load_table.jobs", "better": "lower"}
    assert _row([15.0] * 10, [0.0] * 10, spec)["verdict"] == "gain"
    assert _row([15.0] * 10, [15.0] * 10, spec)["verdict"] == "same"
    assert _row([15.0] * 10, [30.0] * 10, spec)["verdict"] == "worse"


def test_side_with_no_successful_run_reads_failed():
    row = _row([100.0, 101.0], [None, None])
    assert row["verdict"] == "failed"
    assert "failed" in ab.format_rows([row])


def test_format_rows_prints_one_line_per_metric():
    runs = [
        {"workload": "w", "pair": i, "side": side,
         "metrics": {"throughput_qpm": q, "latency_p50_s": 30 / q}}
        for i in range(2)
        for side, q in (("parent", 100 + i), ("change", 120 + i))
    ]
    rows = ab.summarize(runs, [QPM, P50])
    text = ab.format_rows(rows).splitlines()
    assert len(text) == 1 + len(rows) == 3
    assert "throughput_qpm" in text[1] and "2/2" in text[1]
    assert "latency_p50_s" in text[2] and "2/2" in text[2]
