"""Bucketed tables for co-located joins (SURVEY.md §4).

At 100 TB the dominant cost of a fact-fact join (lineitem ⋈ orders)
is shuffling both sides on the join key.  Writing both tables
bucketed by that key with the same bucket count puts matching keys in
matching files, so the join plans as a zero-Exchange sort-merge join:
each task reads bucket i of both sides.  This is the batch analogue
of co-partitioned state — pay the shuffle once at write time, reuse
it across every downstream join.

Spark specifics: bucketing requires ``saveAsTable`` (metastore
bookkeeping of the hash function + count); both sides must bucket on
the join key with compatible bucket counts.  Each table's files live
at ``scratch("warehouse/<table>")``, under the per-process scratch
root, not in the working directory's ``spark-warehouse``: an
overwrite replaces them, and no earlier process's leftover location
can block the write.  A ``get_spark()`` session's warehouse is
``scratch("warehouse")`` itself; the explicit path keeps a session
built elsewhere, with the default warehouse, writing there too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from duckdb_hdfs_spark.sources.fs import scratch


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) parquet
    table.  Sorting within buckets additionally removes the join's
    per-task Sort."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
        .option("path", scratch(f"warehouse/{table}"))
    )
    if sort_cols:
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table)
