"""Co-located (bucketed) join tests (SURVEY.md §4): writing both
fact tables bucketed on the join key must remove BOTH Exchange nodes
from the join plan — the scale property that turns every downstream
fact-fact join into local work."""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from duckdb_hdfs_spark.sources.bucketing import write_bucketed
from duckdb_hdfs_spark.sources.catalog import load_table
from duckdb_hdfs_spark.sources.fs import scratch


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        "li_bucketed",
        ["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        "ord_bucketed",
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    yield "li_bucketed", "ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_cobucketed_join_is_shuffle_free(spark, bucketed_tables):
    li, ords = bucketed_tables
    # disable broadcast so the join exercises the bucketed SMJ path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li).join(
            spark.table(ords), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        # unbucketed baseline DOES shuffle — proves the assertion bites
        raw_li = spark.table(li).repartition(4)
        baseline = raw_li.join(
            spark.table(ords), F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert "Exchange" in _plan(baseline)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cobucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    li, ords = bucketed_tables
    got = (
        spark.table(li)
        .join(spark.table(ords), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_join_key_writes_under_scratch(spark, sf_dir):
    """``fs_bucketed_join`` keeps its tables under the per-process
    scratch root: it runs twice in one process with the same rows, its
    tables live in the session's warehouse (``scratch("warehouse")``
    for sessions from ``get_spark``), and the second run adds nothing
    there."""
    from duckdb_hdfs_spark.queries import load_all

    warehouse = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    assert warehouse == Path(scratch("warehouse"))

    def tables() -> list[str]:
        return sorted(p.name for p in warehouse.iterdir())

    run = load_all()["fs_bucketed_join"].spark
    first = sorted(map(tuple, run(spark, sf_dir).collect()))
    after_first = tables()
    assert {"fsq_bucketed_lineitem", "fsq_bucketed_orders"} <= set(after_first)
    assert first and sorted(map(tuple, run(spark, sf_dir).collect())) == first
    assert tables() == after_first
    location = spark.sql("DESCRIBE TABLE EXTENDED fsq_bucketed_orders").filter(
        "col_name = 'Location'"
    ).first()["data_type"]
    assert urlparse(location).path == scratch("warehouse/fsq_bucketed_orders")
