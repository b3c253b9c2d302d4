"""The catalog's schema cache: a warm ``load_table`` fires no Spark job,
a table rewritten at the same path is re-inferred, every call returns a
fresh DataFrame, and the cache survives a session restart."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from duckdb_hdfs_spark.queries._helpers import _t
from duckdb_hdfs_spark.sources import catalog
from duckdb_hdfs_spark.sources.catalog import load_table

REPO = Path(__file__).resolve().parent.parent
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return its result and
    the ids of the Spark jobs it fired."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_fires_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")

    def load():
        return load_table(spark, str(tmp_path), "nation")

    _, cold = _jobs(spark, "catalog-cold", load)
    df, warm = _jobs(spark, "catalog-warm", load)
    assert cold, "the first load of a path infers its schema with a Spark job"
    assert warm == []
    assert df.count() == 25


def _rewrite_keeps_dir_mtime(path: Path, table: pa.Table) -> None:
    """Overwrite ``path`` in place; its directory's mtime must not
    move, so only the per-entry listing can see the change."""
    before = os.stat(path.parent).st_mtime_ns
    pq.write_table(table, path)
    assert os.stat(path.parent).st_mtime_ns == before


def test_rewritten_single_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _rewrite_keeps_dir_mtime(path, pa.table({"a": [3], "b": ["x"]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_part_replaced_in_table_directory_is_reinferred(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _rewrite_keeps_dir_mtime(part, pa.table({"a": [3], "b": ["x"]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
    assert len([p for p in catalog._SCHEMAS if p.startswith(str(tmp_path))]) == 1


def test_two_reads_of_one_table_self_join(spark, sf_dir, oracle_con):
    """Each call builds a new DataFrame, so the two sides of a self-join
    carry distinct attribute ids: ``a.k == b.k + 1`` must not collapse
    to ``a.k == a.k + 1``."""
    a, b = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "nation")
    got = a.join(b, a["n_nationkey"] == b["n_nationkey"] + 1).count()
    want = oracle_con.execute(
        "SELECT count(*) FROM nation a JOIN nation b"
        " ON a.n_nationkey = b.n_nationkey + 1"
    ).fetchone()[0]
    assert got == want > 0


def test_load_table_after_session_restart(sf_dir):
    """The cache holds no JVM object: a schema cached by one session
    serves a fresh session after ``stop_spark()`` with no inference job.
    Runs in its own process so the suite's shared session stays up."""
    script = textwrap.dedent(
        f"""
        from duckdb_hdfs_spark import get_spark, stop_spark
        from duckdb_hdfs_spark.sources.catalog import load_table

        want = load_table(get_spark("restart"), {sf_dir!r}, "events").count()
        stop_spark()
        spark = get_spark("restart")
        sc = spark.sparkContext
        sc.setJobGroup("warm", "warm")
        df = load_table(spark, {sf_dir!r}, "events")
        assert list(sc.statusTracker().getJobIdsForGroup("warm")) == []
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() == want > 0
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


def _with_nanos(spark, value: str):
    """Set ``nanosAsLong`` to ``value``; return the restore callback."""
    prev = spark.conf.get(_NANOS_CONF)
    spark.conf.set(_NANOS_CONF, value)
    return lambda: spark.conf.set(_NANOS_CONF, prev)


def _write_nanos_table(d: Path) -> None:
    """``d/ns.parquet``: one TIMESTAMP(NANOS) column."""
    ts = pa.array([1_000_000_001], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), d / "ns.parquet", version="2.6")


def _assert_nanos_fails_uncached(spark, d: Path) -> None:
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, str(d), "ns")
    assert f"{d}/ns.parquet" not in catalog._SCHEMAS


def test_nanos_column_fails_loudly_in_every_load_order(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) column raises Spark's ``PARQUET_TYPE_ILLEGAL``
    and caches nothing, whether or not ``events`` was loaded first:
    loading a table changes no inference conf of the session."""
    _write_nanos_table(tmp_path)
    assert spark.conf.get(_NANOS_CONF) == "false"
    _assert_nanos_fails_uncached(spark, tmp_path)
    load_table(spark, sf_dir, "events")
    assert spark.conf.get(_NANOS_CONF) == "false"
    _assert_nanos_fails_uncached(spark, tmp_path)


def test_warm_table_stays_warm_after_events_load(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")

    def load():
        return load_table(spark, str(tmp_path), "nation")

    _, cold = _jobs(spark, "events-cold", load)
    assert cold
    load_table(spark, sf_dir, "events")
    df, warm = _jobs(spark, "events-warm", load)
    assert warm == []
    assert df.count() == 25


def test_entry_inferred_under_user_nanos_true_is_reinferred(spark, tmp_path):
    """``nanosAsLong`` stays an inference input: an entry inferred
    while the user has it at ``true`` (the column reads as ``bigint``)
    does not serve ``false``, where the same file must fail."""
    _write_nanos_table(tmp_path)
    restore = _with_nanos(spark, "true")
    try:
        assert dict(load_table(spark, str(tmp_path), "ns").dtypes)["ts"] == "bigint"
        spark.conf.set(_NANOS_CONF, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "ns")
    finally:
        restore()


def test_ntz_column_loads_as_wall_clock_timestamp(spark, tmp_path):
    """A Spark-written ``TIMESTAMP_NTZ`` column still infers as NTZ,
    so ``load_table`` casts it to ``timestamp`` under a UTC timezone:
    the wall-clock values written come back unchanged, and a session
    running in another timezone gets that timezone back."""
    import datetime

    from pyspark.sql import functions as F

    tz_conf = "spark.sql.session.timeZone"
    # 02:30 on 2024-03-10 does not exist in New York (DST gap), so a
    # cast under the session's timezone would shift it
    wall = [
        datetime.datetime(2024, 3, 10, 2, 30),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
    ]
    spark.createDataFrame([(w,) for w in wall], "ts timestamp_ntz").write.parquet(
        str(tmp_path / "ntz.parquet")
    )
    spark.conf.set(tz_conf, "America/New_York")
    try:
        df = load_table(spark, str(tmp_path), "ntz")
        assert spark.conf.get(tz_conf) == "America/New_York"
        assert dict(df.dtypes) == {"ts": "timestamp"}
        # epoch micros of the written wall clock read as UTC: no
        # timezone of the session can shift them
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        utc = datetime.timezone.utc
        want = sorted(
            int(w.replace(tzinfo=utc).timestamp()) * 1_000_000 for w in wall
        )
        assert got == want
    finally:
        spark.conf.set(tz_conf, "UTC")
