"""Benchmark entry point: one workload run, printed as one JSON line.

    python3 perfbench/run.py --workload olap_interactive --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout.  The first run builds the input
tables under ``.bench_build/perfbench/`` (see ``gendata.py``).  Each
run then starts a fresh worker process (one JVM, see ``worker.py``),
so no JIT state, codegen cache, heap or scratch directory leaks from
one run into the next.  Everything the run writes stays inside the
checkout.

Before the result, one ``{"detail": ...}`` line carries the host
context (nproc, SPARK_GRAFT_CPUS, load average and CPU steal before
and after), the latency sample size and tail percentile, and any
failures.  The host context is for diagnosis only; no run is dropped
or re-weighted by it.  The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or every
per-layer metric (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: a run (worker set-up + timed passes + teardown) is killed after this
WORKER_TIMEOUT_S = 170
#: driver heap unless SPARK_GRAFT_DRIVER_MEM is set.  The package
#: default (8g) lets G1 grow the heap by GC timing alone: peak RSS of
#: identical olap_interactive runs spread 3.0-4.5 GB.  A 2g cap holds
#: the sf0.1 working set, keeps the footprint small on a shared host,
#: and narrows that spread to 1.7-2.2 GB.
DRIVER_MEM = "2g"


def _host() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": load, "cpu_jiffies": sum(cpu), "steal_jiffies": cpu[7]}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (the worker, its JVM and
    the JVM's Python workers) and wait until every member has ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            return
        os.killpg(proc.pid, sig)
    while _group_alive(proc.pid):
        time.sleep(0.1)


def _metric_specs(root: str, trace: int) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(res: dict, t_spawn: float) -> tuple[dict, dict]:
    """End-to-end metrics and sample details from a worker result."""
    from harness import latency_stats

    lat = latency_stats(res["walls"])
    attempted, failed = res["attempted"], len(res["failures"])
    metrics = {
        "throughput_qpm": 60.0 * res["ok"] / res["timed_s"],
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "setup_s": res["t_first_timed"] - t_spawn,
        "peak_rss_mb": res["peak_rss_mb"],
        "success_rate": 1.0 - failed / attempted,
    }
    return metrics, {"latency_n": lat["n"], "latency_tail_pct": lat["tail_pct"]}


def main() -> int:
    from harness import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "duckdb_hdfs_spark", "__init__.py")):
        print("run.py: no duckdb_hdfs_spark package here; run from a checkout root",
              file=sys.stderr)
        return 2
    specs = _metric_specs(root, args.trace)

    import gendata

    build = os.path.join(root, ".bench_build", "perfbench")
    data = os.path.join(build, "data", "sf0.1")
    if not gendata.ready(data):
        shutil.rmtree(data, ignore_errors=True)
        gendata.generate(data)

    run_dir = os.path.join(build, f"run-{os.getpid()}")
    tmp, event_log = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "eventlog")
    for d in (tmp, event_log):
        os.makedirs(d, exist_ok=True)
    nproc = _nproc()
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    submit = "pyspark-shell"
    if args.trace:
        submit = ("--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
                  f" --conf spark.eventLog.dir=file://{event_log} {submit}")
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_SUBMIT_ARGS=submit,
        # every JVM, the spark-submit launcher too: temp files inside
        # the checkout and no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(build, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--digests", os.path.join(HERE, "digests.json"),
        "--spans", spans, "--event-log", event_log, "--out", out,
    ]

    # a TERM (e.g. from a caller's timeout) unwinds through the
    # finally below, which stops the worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    host_before = _host()
    t_spawn = time.time()
    # the worker's cwd is its run dir: Spark's default warehouse dir
    # and any relative scratch land there, inside the checkout
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    host_after = _host()

    if code != 0 or not os.path.exists(out):
        print(f"run.py: worker failed (exit {code})", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "host_before": host_before,
        "host_after": host_after,
        "check_pass_s": res["check_pass_s"],
        "timed_passes": res["timed_passes"],
        "timed_s": res["timed_s"],
        "key_walls_s": res["key_walls"],
        "checked_keys": res["checked"],
        "failures": res["failures"],
    }
    if args.trace:
        metrics = res["layers"]
        detail["span_file"] = os.path.relpath(spans, root)
    else:
        metrics, sample = end_to_end(res, t_spawn)
        detail.update(sample)
    if set(metrics) != set(specs):
        print(f"run.py: metrics {sorted(metrics)} do not match BENCHMARK.json "
              f"{sorted(specs)}", file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}))
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0 and len(res["checked"]) == len(WORKLOADS[args.workload]),
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in specs.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
