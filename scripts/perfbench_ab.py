"""Paired A/B runs of the repository benchmark over two checkouts.

    python scripts/perfbench_ab.py --parent ../parent --change . \\
        --pairs 10 --seed 301 [--workload olap_interactive ...] \\
        [--trace 1] [--json ab.json]

For each workload it runs ``--pairs`` interleaved pairs of the command
``BENCHMARK.json`` declares (``python3 perfbench/run.py``), one run in
each checkout, from that checkout's root, with the same seed and run
length on both sides.  Pair ``i`` uses seed ``--seed + i``; even pairs
run the parent first, odd pairs the change first, so host drift over a
session does not favour one side.

For each workload and metric it prints each side's median and
quartiles, the change/parent ratio of the medians, the wins per pair,
and a verdict by the paired rule:

- ``gain``: the change wins at least nine tenths of all pairs run
  (ties and failed runs count for neither) and the medians differ, in
  the better direction, by more than the parent's interquartile range;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's ``BENCHMARK.json`` bound.  Per-layer metrics
  (``--trace 1``) carry no bound; they read ``worse`` by the mirror of
  the ``gain`` rule;
- ``unresolved``: neither, and the parent's own spread is wider than
  the bound, unless every change run beats every parent run;
- ``same``: otherwise.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def schedule(pairs: int, seed: int) -> list[tuple[int, int, tuple[str, str]]]:
    """``(pair, seed, run order)`` for each pair, alternating which
    side runs first."""
    order = (("parent", "change"), ("change", "parent"))
    return [(i, seed + i, order[i % 2]) for i in range(pairs)]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """First quartile, median and third quartile (inclusive method)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], specs: list[dict]) -> list[dict]:
    """One row per (workload, metric) from the runs of one comparison.

    ``runs`` holds ``{"workload", "pair", "side", "metrics"}`` records;
    ``metrics`` maps metric name to value and is None for a failed run.
    ``specs`` holds ``{"name", "better", "bound"?}`` as in
    ``BENCHMARK.json``."""
    rows = []
    for workload in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == workload]
        pairs = sorted({r["pair"] for r in mine})
        by = {(r["pair"], r["side"]): r["metrics"] for r in mine}
        for spec in specs:
            name, sign = spec["name"], 1 if spec["better"] == "higher" else -1

            def values(side: str) -> list[float]:
                return [
                    by[p, side][name]
                    for p in pairs
                    if by.get((p, side)) is not None
                ]

            parent, change = values("parent"), values("change")
            if not parent or not change:
                rows.append({"workload": workload, "metric": name,
                             "pairs": len(pairs), "verdict": "failed"})
                continue
            diffs = [
                sign * (by[p, "change"][name] - by[p, "parent"][name])
                for p in pairs
                if by.get((p, "parent")) is not None
                and by.get((p, "change")) is not None
            ]
            wins = sum(d > 0 for d in diffs)
            losses = sum(d < 0 for d in diffs)
            needed = math.ceil(0.9 * len(pairs))
            pq1, pmed, pq3 = quartiles(parent)
            cq1, cmed, cq3 = quartiles(change)
            gain = sign * (cmed - pmed)
            bound = spec.get("bound")
            if wins >= needed and gain > pq3 - pq1:
                verdict = "gain"
            elif (losses >= needed and -gain > pq3 - pq1) if bound is None \
                    else -gain > bound * abs(pmed):
                verdict = "worse"
            elif bound is None:
                verdict = "same"
            elif pq3 - pq1 > bound * abs(pmed) and not (
                min(sign * c for c in change) > max(sign * p for p in parent)
            ):
                verdict = "unresolved"
            else:
                verdict = "same"
            rows.append({
                "workload": workload,
                "metric": name,
                "pairs": len(pairs),
                "parent": {"q1": pq1, "median": pmed, "q3": pq3, "n": len(parent)},
                "change": {"q1": cq1, "median": cmed, "q3": cq3, "n": len(change)},
                "ratio": cmed / pmed if pmed else None,
                "wins": wins,
                "verdict": verdict,
            })
    return rows


def format_rows(rows: list[dict]) -> str:
    out = [f"{'workload':<18} {'metric':<34} {'parent median [q1, q3]':>30} "
           f"{'change median [q1, q3]':>30} {'ratio':>6} {'wins':>6}  verdict"]
    for r in rows:
        if r["verdict"] == "failed":
            out.append(f"{r['workload']:<18} {r['metric']:<34} {'':>30} {'':>30} "
                       f"{'':>6} {'':>6}  failed")
            continue

        def side(s: dict) -> str:
            return f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}]"

        ratio = "" if r["ratio"] is None else f"{r['ratio']:.3f}"
        out.append(
            f"{r['workload']:<18} {r['metric']:<34} {side(r['parent']):>30} "
            f"{side(r['change']):>30} {ratio:>6} {r['wins']:>3}/{r['pairs']:<2}  "
            f"{r['verdict']}"
        )
    return "\n".join(out)


def run_once(checkout: str, command: list[str], workload: str, seed: int,
             seconds: float, trace: int) -> dict | None:
    """One benchmark run from ``checkout``'s root; its metric values,
    or None when the run failed."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    result = json.loads(lines[-1])
    return {name: m["value"] for name, m in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run and the summary here")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    specs = bench["per_layer" if args.trace else "end_to_end"]
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}

    runs, rows = [], []
    for workload in workloads:
        for pair, seed, order in schedule(args.pairs, args.seed):
            for side in order:
                metrics = run_once(checkouts[side], bench["command"], workload,
                                   seed, bench["run_seconds"], args.trace)
                runs.append({"workload": workload, "pair": pair, "seed": seed,
                             "side": side, "metrics": metrics})
                print(f"{workload} pair {pair} seed {seed} {side}: "
                      f"{'ok' if metrics else 'FAILED'}", file=sys.stderr, flush=True)
                rows = summarize(runs, specs)
                # rewritten after every run: an interrupted comparison keeps its runs
                if args.json:
                    with open(args.json, "w") as fh:
                        json.dump({"runs": runs, "summary": rows}, fh, indent=1)

    print(format_rows(rows))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
