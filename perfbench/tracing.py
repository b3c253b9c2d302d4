"""Per-layer tracing, measured from outside the package.

The tracer times each query's builder call and action, and wraps each
layer's public entry points (``catalog.load_table`` wherever a module
bound it by name, ``operators.dedup.connected_clusters``, the
``HadoopFs`` methods and py4j's ``send_command``).  Every span that owns
a phase tags its Spark jobs with the job group ``{key}:{phase}#{span id}``,
whose jobs ``statusTracker()`` then counts.  Spans stay in memory until
the run ends.  After the run the Spark event log supplies the per-stage
figures.  Nothing under
``duckdb_hdfs_spark/`` is modified; the wrappers are installed for the
traced passes only and removed after each.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import time
from collections import defaultdict

_GROUP_PROP = "spark.jobGroup.id"
SKEW_MIN_MS = 10
# py4j's garbage-collection "detach" messages: sent whenever Python
# drops a JVM reference, so their count depends on GC timing, not work
_DETACH_PREFIX = "m\nd\n"


class Tracer:
    """Spans, counters and wrappers for the traced passes of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._qids = itertools.count(1)
        self._stack: list[dict] = []  # open spans of the current query
        self._own = 0  # >0 while the tracer itself talks to the JVM
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self.phase_jobs: dict[str, list[int]] = {}  # job group -> job ids
        self.fs_bytes_written = 0
        self.passes = 0

    # ---- spans -------------------------------------------------------
    def _open(self, name: str, **attrs) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "qid": parent["qid"] if parent else attrs.pop("qid"),
            "name": name,
            "start": time.time(),
            "end": None,
            "py4j": self.py4j_calls,
            **attrs,
        }
        self._stack.append(span)
        self.spans.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        span["py4j"] = self.py4j_calls - span["py4j"]
        self._stack.pop()

    # ---- job groups --------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self._own += 1
        try:
            if group is None:
                self.sc.setLocalProperty(_GROUP_PROP, None)
            else:
                self.sc.setJobGroup(group, group)
        finally:
            self._own -= 1

    def phase(self, name: str, fn, *args):
        """Run ``fn(*args)`` as span ``name`` with its own job group."""
        span = self._open(name)
        span["group"] = f"{self._key}:{name}#{span['id']}"
        self._set_group(span["group"])
        try:
            return fn(*args)
        finally:
            self._close(span)
            outer = [s["group"] for s in self._stack if "group" in s]
            self._set_group(outer[-1] if outer else None)

    def query(self, key: str, build, action) -> None:
        """One traced query: ``action(build())`` with build and exec
        phases under a root span whose ``qid`` every span of the query
        shares."""
        self._key = key
        first = len(self.spans)
        root = self._open("query", qid=next(self._qids), key=key)
        try:
            df = self.phase("build", build)
            self.phase("exec", action, df)
        finally:
            self._close(root)
        self._collect_jobs(self.spans[first:])

    def _collect_jobs(self, spans: list[dict]) -> None:
        """Job ids per job group of one query, from statusTracker."""
        tracker = self.sc.statusTracker()
        self._own += 1
        try:
            for span in spans:
                if "group" in span:
                    self.phase_jobs[span["group"]] = sorted(
                        tracker.getJobIdsForGroup(span["group"])
                    )
        finally:
            self._own -= 1

    # ---- wrappers ----------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap_layer(self, fn, name: str, grouped: bool):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer._stack:  # outside a traced query
                return fn(*args, **kwargs)
            if grouped:
                return tracer.phase(name, lambda: fn(*args, **kwargs))
            span = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return wrapper

    def _rebind(self, fn, name: str, grouped: bool) -> None:
        """Replace ``fn`` in every loaded package module that bound it
        by name (``from ... import load_table`` copies the reference)."""
        wrapper = self._wrap_layer(fn, name, grouped)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("duckdb_hdfs_spark") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patch(mod, attr, wrapper)

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        from duckdb_hdfs_spark.operators import dedup
        from duckdb_hdfs_spark.sources import catalog
        from duckdb_hdfs_spark.sources.fs import HadoopFs

        self._rebind(catalog.load_table, "catalog.load_table", grouped=True)
        self._rebind(
            dedup.connected_clusters, "operators.connected_clusters", grouped=True
        )
        for attr, fn in list(vars(HadoopFs).items()):
            if callable(fn) and not attr.startswith("_"):
                self._patch(HadoopFs, attr, self._wrap_layer(fn, f"fs.{attr}", False))

        tracer = self
        send = GatewayClient.send_command

        def send_command(client, command, *args, **kwargs):
            if not tracer._own and not command.startswith(_DETACH_PREFIX):
                tracer.py4j_calls += 1
            return send(client, command, *args, **kwargs)

        self._patch(GatewayClient, "send_command", send_command)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def fs_bytes_written_total(self) -> int:
        """Bytes written through Hadoop ``FileSystem`` (all schemes)."""
        self._own += 1
        try:
            fs_cls = self.sc._jvm.org.apache.hadoop.fs.FileSystem
            return sum(s.getBytesWritten() for s in fs_cls.getAllStatistics())
        finally:
            self._own -= 1

    def traced_pass(self, run_pass):
        """Run one pass with every wrapper installed; return its result
        and its wall time."""
        before = self.fs_bytes_written_total()
        self.install()
        try:
            t0 = time.perf_counter()
            result = run_pass()
            wall = time.perf_counter() - t0
        finally:
            self.uninstall()
        self.fs_bytes_written += self.fs_bytes_written_total() - before
        self.passes += 1
        return result, wall

    # ---- report ------------------------------------------------------
    def report(self, events: "EventLog") -> dict[str, float]:
        """Per-layer metrics, each as a mean per traced pass."""
        n = max(self.passes, 1)
        by_name: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_name["fs" if s["name"].startswith("fs.") else s["name"]].append(s)

        def wall(name: str) -> float:
            # outermost spans only: a layer re-entered by itself counts once
            ids = {s["id"] for s in by_name[name]}
            return sum(s["end"] - s["start"] for s in by_name[name] if s["parent"] not in ids)

        def jobs(name: str) -> list[int]:
            return [j for s in by_name[name] for j in self.phase_jobs.get(s["group"], [])]

        exec_stages = events.stages_in({s["group"] for s in by_name["exec"]})

        catalog_jobs = jobs("catalog.load_table")
        cc_jobs = jobs("operators.connected_clusters")
        eager = jobs("build") + cc_jobs  # build-phase jobs outside load_table
        build_jobs = eager + catalog_jobs
        exec_jobs = jobs("exec")
        reads = len(by_name["catalog.load_table"])
        return {
            "catalog.load_table.calls": reads / n,
            "catalog.load_table.s": wall("catalog.load_table") / n,
            "catalog.load_table.jobs": len(catalog_jobs) / n,
            "catalog.jobs_per_read": len(catalog_jobs) / reads if reads else 0.0,
            "build.s": wall("build") / n,
            "build.jobs": len(build_jobs) / n,
            "build.py4j_calls": sum(s["py4j"] for s in by_name["build"]) / n,
            "operators.eager_actions": len(eager) / n,
            "operators.eager_s": events.job_seconds(eager) / n,
            "operators.connected_clusters.s": wall("operators.connected_clusters") / n,
            "operators.connected_clusters.jobs": len(cc_jobs) / n,
            "exec.s": wall("exec") / n,
            "exec.jobs": len(exec_jobs) / n,
            "exec.stages": len(exec_stages) / n,
            "exec.tasks": sum(st["tasks"] for st in exec_stages) / n,
            "exec.task_s": sum(st["task_ms"] for st in exec_stages) / 1000.0 / n,
            "exec.input_bytes": sum(st["input_bytes"] for st in exec_stages) / n,
            "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in exec_stages) / n,
            "exec.spill_bytes": sum(st["spill"] for st in exec_stages) / n,
            "exec.task_skew": max((st["skew"] for st in exec_stages), default=1.0),
            "fs.calls": len(by_name["fs"]) / n,
            "fs.s": wall("fs") / n,
            "fs.bytes_written": self.fs_bytes_written / n,
        }

    def write_spans(self, path: str, events: "EventLog") -> None:
        """One JSON line per span; Spark jobs become child spans of the
        phase whose job group they ran under."""
        by_group = {s["group"]: s for s in self.spans if "group" in s}
        ids = itertools.count(next(self._ids))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for group, job_ids in self.phase_jobs.items():
                parent = by_group[group]
                for j in job_ids:
                    start, end = events.job_times.get(j, (None, None))
                    fh.write(json.dumps({
                        "id": next(ids), "parent": parent["id"], "qid": parent["qid"],
                        "name": "spark.job", "start": start, "end": end, "job_id": j,
                    }) + "\n")


class EventLog:
    """Per-stage figures and job wall times parsed from a Spark event log."""

    def __init__(self, paths: list[str]):
        self.job_times: dict[int, tuple[float, float]] = {}
        self.stage_group: dict[int, str] = {}  # job group each stage ran under
        self.stages: dict[int, dict] = {}
        task_ms: dict[int, list[int]] = defaultdict(list)
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), task_ms)
        for sid, times in task_ms.items():
            med = statistics.median(times)
            # run times are whole milliseconds: below SKEW_MIN_MS a
            # max/median ratio measures rounding, not imbalance
            if len(times) > 1 and med >= SKEW_MIN_MS:
                self.stages[sid]["skew"] = max(times) / med

    def _event(self, ev: dict, task_ms: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.job_times[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, None)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            start = self.job_times.get(jid, (None, None))[0]
            self.job_times[jid] = (start, ev["Completion Time"] / 1000.0)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(_GROUP_PROP)
            if group:
                self.stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = self.stages.setdefault(sid, _stage())
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            st["tasks"] += 1
            st["task_ms"] += run_ms
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            task_ms[sid].append(run_ms)

    def stages_in(self, groups: set[str]) -> list[dict]:
        """Stages that ran under the given job groups.  A stage belongs
        to the job that ran it, not to later jobs that skip it."""
        return [st for sid, st in self.stages.items() if self.stage_group.get(sid) in groups]

    def job_seconds(self, job_ids: list[int]) -> float:
        total = 0.0
        for j in job_ids:
            start, end = self.job_times.get(j, (None, None))
            if start is not None and end is not None:
                total += end - start
        return total


def _stage() -> dict:
    return {"tasks": 0, "task_ms": 0, "input_bytes": 0, "shuffle_write": 0,
            "spill": 0, "skew": 1.0}


def event_log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` (plain or rolling layout)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out.extend(os.path.join(root, f) for f in sorted(files) if not f.startswith("."))
    return sorted(out)
