"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2
for the driver's DuckDB-oracle correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the session confs the oracle-parity contract depends on
    when the driver supplies its OWN session (round-7 review): the
    catalog's naive-timestamp handling is value-identical to DuckDB
    only under a UTC session timezone, and sessions built by
    duckdb_hdfs_spark.session.get_spark already run this way
    (``TIMESTAMP_PARITY_CONFS``).  Idempotent; runtime-settable confs
    only."""
    from duckdb_hdfs_spark.session import TIMESTAMP_PARITY_CONFS

    for k, v in TIMESTAMP_PARITY_CONFS.items():
        spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    from duckdb_hdfs_spark.queries import load_all

    _ensure_session_confs(spark)
    return load_all()["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.  Each
    callable pins the parity-critical session confs before running
    (UTC timezone + NTZ inference off), so results match the oracle
    regardless of the machine timezone the driver's session captured."""
    from duckdb_hdfs_spark.queries import load_all

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_session_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(qd.spark) for name, qd in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; keys
    with no oracle (rows-only ops) are omitted."""
    from duckdb_hdfs_spark.queries import load_all

    return {
        name: qd.oracle for name, qd in load_all().items() if qd.oracle is not None
    }
