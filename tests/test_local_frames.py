"""Driver-side rows become local relations: the frames built from
Python rows plan a ``LocalTableScan``, never a ``Scan ExistingRDD``
over a pickled Python RDD (which forks Python workers to run), and
``operators.genutil.local_frame`` is the only place the package calls
``createDataFrame``."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from duckdb_hdfs_spark.operators.genutil import local_frame
from duckdb_hdfs_spark.queries import load_all

PACKAGE = Path(__file__).resolve().parent.parent / "duckdb_hdfs_spark"
REGISTRY = load_all()


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["fs_glob", "fs_ls", "fs_describe_tables"])
def test_listing_keys_plan_local_table_scan(name, spark, sf_dir):
    df = REGISTRY[name].spark(spark, sf_dir)
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.count() > 0


def test_local_frame_keeps_schema_and_rows(spark):
    schema = "name string, ok boolean, pos bigint, x double"
    rows = [("a", True, 1, 0.5), (None, None, None, None), ("é", False, 2**40, -1.0)]
    df = local_frame(spark, rows, schema)
    assert df.schema == spark.createDataFrame([], schema).schema
    assert [tuple(r) for r in df.collect()] == rows
    assert "LocalTableScan" in _physical_plan(df)


def test_local_frame_zero_rows_keep_schema(spark):
    from pyspark.sql.types import StructField, StructType, TimestampType

    schema = StructType([StructField("ts", TimestampType(), False)])
    df = local_frame(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []


def _create_dataframe_calls(path: Path) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``*.createDataFrame(...)``."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((child.lineno, func))
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return out


def test_create_dataframe_only_inside_local_frame():
    helper = PACKAGE / "operators" / "genutil.py"
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for line, func in _create_dataframe_calls(p)
        if not (p == helper and func == "local_frame")
    ]
    assert offenders == [], "use operators.genutil.local_frame: " + ", ".join(offenders)
    assert _create_dataframe_calls(helper) != []
