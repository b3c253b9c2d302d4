"""DuckDB-oracle comparison harness — mirrors the driver's
correctness gate: row-count + schema-shape + column-name-sorted
value comparison between a Spark result and DuckDB running the
registered oracle SQL over the same parquet tables.

Used by ``tests/`` at sf0.001 so mismatches surface before the
driver's sf0.01 run.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from duckdb_hdfs_spark.sources.catalog import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the test tables as views, as the driver does."""
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        # DuckDB does not glob a bare directory path: view its part files
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sort then row-sort for order-insensitive compare.

    Array-typed result cells (Spark ArrayType / DuckDB LIST arrive as
    np.ndarray or list) are normalized to tuples FIRST — ndarray cells
    crash ``sort_values`` and elementwise-compare ambiguously
    (round-7 review finding)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def _tuplify(v):
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
            try:
                return tuple(_tuplify(x) for x in list(v))
            except TypeError:
                return v
        return v

    for col in df.columns:
        if df[col].dtype == object and df[col].map(
            lambda v: isinstance(v, (list, tuple))
            or type(v).__name__ == "ndarray"
        ).any():
            df[col] = df[col].map(_tuplify)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def _dtype_kind(s: pd.Series) -> str:
    """Coarse dtype class used for strict compare: the driver hashes raw
    values, so an int64 ``3`` vs float64 ``3.0`` column hash-mismatches
    even when numerically equal (this hid the ev_value_histogram FAIL for
    two rounds behind the lax ``3 == 3.0``).  Classes: int/float/bool/
    datetime/other."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "mM":
        return "datetime"
    return "other"


def _is_seq(v) -> bool:
    return isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if _is_seq(a) or _is_seq(b):
        # ndarray cells must recurse elementwise (a bare `a == b`
        # returns an ambiguous elementwise array), and a sequence on
        # ONE side only is a mismatch, not a TypeError (round-7 review)
        if not (_is_seq(a) and _is_seq(b)):
            return False
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_values_equal(x, y) for x, y in zip(la, lb))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return bool(a == b)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for m in self.mismatches[:5]:
            msg += f"\n    {m}"
        return msg


def compare(
    name: str, spark_df: DataFrame, con: duckdb.DuckDBPyConnection, oracle_sql: str
) -> CompareResult:
    return compare_frames(
        name, _canon(spark_df.toPandas()), _canon(con.execute(oracle_sql).fetchdf())
    )


def compare_frames(name: str, sp: pd.DataFrame, du: pd.DataFrame) -> CompareResult:
    """:func:`compare` on two frames already in :func:`_canon` form;
    ``du`` plays the oracle."""
    mism: list[str] = []
    if list(sp.columns) != list(du.columns):
        mism.append(f"columns: spark={list(sp.columns)} oracle={list(du.columns)}")
    if not mism:
        # dtype-strict gate: int-vs-float (etc.) mismatch fails even when
        # every value compares numerically equal, matching the driver's
        # value-hash semantics.
        for col in sp.columns:
            ka, kb = _dtype_kind(sp[col]), _dtype_kind(du[col])
            if ka != kb and "other" not in (ka, kb):
                mism.append(f"col {col} dtype class: spark={ka} oracle={kb}")
    if len(sp) == len(du) and not mism:
        for col in sp.columns:
            a, b = sp[col].tolist(), du[col].tolist()
            for i, (x, y) in enumerate(zip(a, b)):
                if not _values_equal(x, y):
                    mism.append(f"col {col} row {i}: spark={x!r} oracle={y!r}")
                    break
    elif len(sp) != len(du):
        mism.append("row count differs")
    return CompareResult(
        name=name,
        ok=not mism and len(sp) == len(du),
        spark_rows=len(sp),
        oracle_rows=len(du),
        mismatches=mism,
    )


def run_all(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[CompareResult]:
    from duckdb_hdfs_spark.queries import load_all

    registry = load_all()
    if names is not None:
        # an unknown name must be loud: silently skipping a typo lets
        # a filtered run return [] and read as all-green (round-7
        # review finding); an explicit empty list runs nothing.
        unknown = set(names) - set(registry)
        if unknown:
            raise KeyError(f"unknown query names: {sorted(unknown)}")
    con = duckdb_connection(sf_dir)
    results = []
    for name, qd in registry.items():
        if names is not None and name not in names:
            continue
        if qd.oracle is None:
            continue
        try:
            results.append(compare(name, qd.spark(spark, sf_dir), con, qd.oracle))
        except Exception as e:  # surface per-query failures without aborting the sweep
            results.append(
                CompareResult(name, False, -1, -1, [f"exception: {e!r:.500}"])
            )
    return results
