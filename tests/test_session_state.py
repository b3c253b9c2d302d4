"""Driver-side state across threads and sessions: checkpoint workers
carry the caller's job group, and no cached expression outlives the
session that parsed it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from duckdb_hdfs_spark.operators.genutil import parallel_checkpoints

REPO = Path(__file__).resolve().parent.parent
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def test_parallel_checkpoints_of_nothing():
    assert parallel_checkpoints() == []


def test_parallel_checkpoints_run_in_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("parallel-checkpoints", "two-frame checkpoint wave")
    try:
        a, b = parallel_checkpoints(spark.range(10), spark.range(20))
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup("parallel-checkpoints")) >= 2
    assert (a.count(), b.count()) == (10, 20)


def test_generated_expressions_survive_session_restart():
    """lsh_band_keys and bucketed_pairs build the same frame on a fresh
    session after ``stop_spark()``.  Runs in its own process so the
    suite's shared session stays up."""
    script = textwrap.dedent(
        """
        from pyspark.sql import functions as F
        from duckdb_hdfs_spark import get_spark, stop_spark
        from duckdb_hdfs_spark.operators.dedup import bucketed_pairs
        from duckdb_hdfs_spark.operators.similarity import lsh_band_keys

        def pairs():
            spark = get_spark("restart")
            vecs = spark.createDataFrame(
                [(i, [float((i % 3 + d) % 5 - 2) for d in range(64)]) for i in range(9)],
                "id bigint, e array<float>",
            )
            bands = vecs.select("id", F.explode(lsh_band_keys("e")).alias("band"))
            return sorted(tuple(r) for r in bucketed_pairs(bands, ["band"], "id").collect())

        want = pairs()
        stop_spark()
        assert pairs() == want and want
        stop_spark()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
