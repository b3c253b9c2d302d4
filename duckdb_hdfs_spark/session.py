"""SparkSession construction tuned for the OLAP + pipeline workload.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuned
  partition counts when data volume varies by 1000x.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces it down locally and a real cluster would raise it
  (rule of thumb: ~2-3x total cores, partitions sized 100-500 MB).
- Arrow enabled so any pandas-boundary work (multimodal decode,
  ``mapInPandas``) is columnar-batched, never row-at-a-time pickled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from duckdb_hdfs_spark.conf import HdfsParams, apply_hdfs_conf

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: The confs DuckDB timestamp parity depends on, read by
#: :func:`builder`, ``__spark_entry__`` (which pins them on a session
#: the caller built) and :func:`~duckdb_hdfs_spark.sources.catalog.load_table`.
#: Naive (isAdjustedToUTC=false) parquet timestamps then read as
#: session-local TIMESTAMP, as DuckDB reads them, not as TIMESTAMP_NTZ,
#: which ``unix_micros``, ``window`` … reject; under a UTC session
#: timezone that is a wall-clock identity.
TIMESTAMP_PARITY_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def builder(app_name: str = "duckdb-hdfs-spark", cpus: str | int | None = None):
    """Return a tuned ``SparkSession.Builder``.

    Local testing uses ``local[N]``; on a cluster the same configs
    apply (master is supplied externally) — nothing here assumes
    single-node execution.
    """
    # imported here: sources.fs's package imports the catalog, which
    # reads TIMESTAMP_PARITY_CONFS from this module
    from duckdb_hdfs_spark.sources.fs import scratch

    cpus = str(cpus or DEFAULT_CPUS)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is byte-based; the 1 MiB default lets
        # `parallelismFirst` collapse byte-light but CPU-dense shuffles
        # (value-range window frames, pair-grain scoring over compressed
        # columnar data) to 1-2 tasks regardless of core count — a
        # 2.8 MB exchange ran its 19.6 s window stage on 2 of 32 cores
        # (round-13 profile).  256 KiB keeps AQE fully in charge — small
        # shuffles still coalesce, and at cluster scale partitions are
        # orders of magnitude above either floor so this is a no-op —
        # while letting parallelismFirst reach useful parallelism here.
        # Floor sweep (interleaved medians, round 13):
        # win_value_range_frame 13.6s(1m) → 5.2s(256k) ≈ 5.8s(64k);
        # dedup_substring_spans 3.7(1m) / 3.5(256k) / 4.0(64k);
        # stats_spearman_corr 6.9(1m) / 5.8(256k) / 10.3(64k) —
        # 64 KiB over-fragments shuffle-heavy multi-stage keys, 256 KiB
        # dominates both alternatives on every probed key.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(map=TIMESTAMP_PARITY_CONFS)
        # progress records back the late-data accounting in
        # streaming/pipelines.dropped_by_watermark: the 100-entry
        # default silently evicts early micro-batches on long
        # availableNow drains (one batch per file), undercounting
        # numRowsDroppedByWatermark with no error
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the first catalog access (listTables as much as saveAsTable)
        # creates the default database's directory here; the default,
        # ./spark-warehouse, would land in the working directory
        .config("spark.sql.warehouse.dir", scratch("warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    # the reference's HDFS_* connection variables (conf.HdfsParams);
    # with none set this adds no key
    b = apply_hdfs_conf(b, HdfsParams.from_env())
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        b = b.master(f"local[{cpus}]")
    return b


def get_spark(app_name: str = "duckdb-hdfs-spark") -> SparkSession:
    """Get (or create) the tuned session."""
    return builder(app_name).getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
