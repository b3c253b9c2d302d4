"""One benchmark run in one fresh process: one JVM, one workload.

Started by ``run.py``; writes its raw results as JSON to ``--out``.

1. set-up: ``get_spark``, a catalog warm (``load_table`` on every
   table), and a check pass that collects every key once and compares
   it with its pinned digest.  The check pass is also the warm-up: it
   pays the cold start (class loading, JIT, codegen), about two thirds
   of first-pass time, which later passes do not repeat;
2. timed passes, closed loop, until ``--seconds`` have passed and at
   least ``harness.MIN_SAMPLES`` per-query walls are in the sample;
3. with ``--trace 1``, one more untimed pass, then timed passes that
   alternate untraced and traced; the per-layer figures come from the
   traced ones, the overhead from comparing the two.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback

#: timed passes stop here even if failures keep the sample short
MAX_TIMED_PASSES = 40


def _noop(df) -> None:
    """Materialise every output column; ``count()`` would let Catalyst
    prune the computed columns."""
    df.write.format("noop").mode("overwrite").save()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of peak RSS (VmHWM) over ``root`` and all its descendants:
    the Python driver, its JVM and any Python workers the JVM forked."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(children.get(pid, []))
    return total / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--digests", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--event-log", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from harness import MIN_SAMPLES, WORKLOADS, digest, pass_orders

    from duckdb_hdfs_spark.queries import load_all
    from duckdb_hdfs_spark.session import get_spark
    from duckdb_hdfs_spark.sources.catalog import TABLES, load_table

    res: dict = {"failures": []}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    res["session_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    keys = WORKLOADS[args.workload]
    orders = pass_orders(keys, args.seed)
    data = args.data
    for table in TABLES:
        load_table(spark, data, table)

    with open(args.digests) as fh:
        pins = json.load(fh)
    attempted = 0
    wrong: set[str] = set()

    def fail(key: str, phase: str, why: str) -> None:
        res["failures"].append({"key": key, "phase": phase, "error": why[-2000:]})

    # check pass: one execution of every key against its pinned digest
    t = time.perf_counter()
    for key in next(orders):
        attempted += 1
        try:
            got = digest(registry[key].spark(spark, data).toPandas())
        except Exception:  # noqa: BLE001 - a failed query is a result, not a crash
            wrong.add(key)
            fail(key, "check", traceback.format_exc())
            continue
        if got != pins.get(key):
            wrong.add(key)
            fail(key, "check", f"digest {got} != pinned {pins.get(key)}")
    res["check_pass_s"] = time.perf_counter() - t

    def run_pass(key_walls: dict | None, phase: str, tracer=None) -> int:
        """One pass over the workload; returns the number of correct
        completions and appends each one's wall to ``key_walls[key]``."""
        nonlocal attempted
        ok = 0
        for key in next(orders):
            attempted += 1
            qd = registry[key]
            t = time.perf_counter()
            try:
                if tracer is None:
                    _noop(qd.spark(spark, data))
                else:
                    tracer.query(key, lambda qd=qd: qd.spark(spark, data), _noop)
            except Exception:  # noqa: BLE001 - counted in error_rate
                fail(key, phase, traceback.format_exc())
                continue
            if key_walls is not None:
                key_walls.setdefault(key, []).append(time.perf_counter() - t)
            ok += key not in wrong
        return ok

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        # the first pass after the check pass is still slower than the
        # rest; keep it out of both arms of the overhead comparison
        run_pass(None, "warmup")

    res["t_first_timed"] = time.time()
    key_walls: dict[str, list[float]] = {}
    timed = {"ok": 0, "s": 0.0, "passes": 0}
    traced = {"ok": 0, "s": 0.0}
    while timed["passes"] < MAX_TIMED_PASSES:
        t = time.perf_counter()
        timed["ok"] += run_pass(key_walls, "timed")
        timed["s"] += time.perf_counter() - t
        timed["passes"] += 1
        if tracer is not None:
            ok, wall = tracer.traced_pass(lambda: run_pass(None, "traced", tracer))
            traced["ok"] += ok
            traced["s"] += wall
        n = sum(len(w) for w in key_walls.values())
        if timed["s"] >= args.seconds and n >= MIN_SAMPLES:
            break
    res.update(
        walls=[w for ws in key_walls.values() for w in ws],
        key_walls=key_walls,
        timed_s=timed["s"], ok=timed["ok"], timed_passes=timed["passes"],
        peak_rss_mb=tree_peak_rss_mb(os.getpid()),
    )
    spark.stop()

    if tracer is not None:
        from tracing import EventLog, event_log_files

        events = EventLog(event_log_files(args.event_log))
        layers = tracer.report(events)
        untraced_qpm = 60.0 * timed["ok"] / timed["s"]
        traced_qpm = 60.0 * traced["ok"] / traced["s"]
        layers["session.start_s"] = res["session_s"]
        layers["trace.throughput_qpm"] = traced_qpm
        layers["trace.overhead"] = untraced_qpm / traced_qpm - 1.0
        res["layers"] = layers
        tracer.write_spans(args.spans, events)
    res["attempted"] = attempted
    res["checked"] = sorted(set(keys) - wrong)
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
