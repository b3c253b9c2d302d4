"""Table catalog: register the test-data parquet files as temp views.

The reference's usage pattern is ``SELECT * FROM
'hdfs://nn/path/file'`` — a path *is* a table.  Spark equivalent:
``spark.read.parquet(path)`` + temp view, or direct-path SQL
(``SELECT … FROM parquet.`path```, the ``fs_sql_path`` query).

Schema cache.  A bare ``spark.read.parquet(path)`` infers the schema
from the parquet footers, which costs one Spark job (plus a listing
and footer reads against the NameNode) on every read.  The reference
keeps per-namenode state so short queries do not repeat metadata work;
here :func:`load_table` resolves each table's ``StructType`` once and
reads every call with ``spark.read.schema(s).parquet(path)``.

- Key: the table path.  The entry holds a signature and the
  ``StructType``; at most one entry per path.
- Signature: the path's Hadoop status (length, modification time,
  read through :class:`~duckdb_hdfs_spark.sources.fs.HadoopFs`) and,
  for a directory, the name, length and modification time
  of every entry below it (a part rewritten in place does not touch
  its directory's mtime), plus the values of the parquet confs that
  change what inference returns (:data:`_INFERENCE_CONFS`).  Every
  call recomputes it; a changed signature re-infers and replaces the
  entry.  The NTZ-inference conf is not part of it: :func:`load_table`
  sets that conf just before the lookup, so its value never varies
  there.  A path whose status cannot be read is never cached: its
  read infers, and fails, exactly as an uncached read does.
- Never cached: a ``DataFrame`` or any other JVM-backed object — a
  ``StructType`` is pure Python, so the cache outlives
  ``stop_spark()``, and every call builds a fresh ``DataFrame``
  (reading one table twice in a self-join needs distinct attribute
  ids).
- Still inferred on every read: readers whose contract *is*
  inference — direct-path SQL (``fs_sql_path``), the CSV/JSON
  readers, ``fs_read_schema_merge`` and the audit scripts' own reads.

Parquet ``TIMESTAMP(NANOS)`` columns are not supported: Spark has no
nanosecond timestamp type, so under the default
``spark.sql.legacy.parquet.nanosAsLong=false`` inference of such a
column fails with ``PARQUET_TYPE_ILLEGAL`` and nothing is cached (a
session the user sets to ``true`` reads it as ``bigint`` nanoseconds,
like any other inference conf).  Every table in the test data stores
``TIMESTAMP(MICROS)``.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from duckdb_hdfs_spark.session import TIMESTAMP_PARITY_CONFS
from duckdb_hdfs_spark.sources.fs import HadoopFs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_TZ_CONF = "spark.sql.session.timeZone"
_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"

#: session confs whose values change the schema footer inference
#: returns — part of every cached schema's signature
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: path -> (signature, inferred StructType); see the module docstring
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _signature(spark: SparkSession, path: str) -> tuple | None:
    """What the schema inferred for ``path`` depends on, or None when
    the path's status cannot be read (the caller then never caches)."""
    fs = HadoopFs(spark)
    try:
        root = fs.stat(path)
    except Py4JJavaError:
        return None
    entries = []
    todo = [("", root)]
    while todo:
        name, st = todo.pop()
        entries.append((name, st.size, st.mtime_ms))
        if st.is_dir:
            todo += [
                (f"{name}/{c.path.rsplit('/', 1)[-1]}", c) for c in fs.ls(st.path)
            ]
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return tuple(sorted(entries)), confs


def _schema(spark: SparkSession, path: str) -> StructType:
    """The table's inferred schema: from the cache while the path's
    signature is unchanged, else inferred (one Spark job) and cached."""
    sig = _signature(spark, path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if sig is not None:
        _SCHEMAS[path] = (sig, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with deterministic timestamp semantics.

    The schema comes from the module's schema cache: the first call
    for a path infers it (one Spark job), every later call reads with
    it and fires no job until the path's files or the inference confs
    change (see the module docstring for the key, the invalidation,
    and what is never cached).  Each call returns a new DataFrame.

    Session-conf contract: this PERMANENTLY sets
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` to its value in
    :data:`~duckdb_hdfs_spark.session.TIMESTAMP_PARITY_CONFS` (naive
    parquet timestamps read as session-local TIMESTAMP, as DuckDB
    reads them).  A scoped set-and-restore is NOT safe here: parquet
    scans consult the conf when an ACTION plans, not when
    ``spark.read`` builds the frame, so restoring after this call
    would race every downstream job of the returned (lazy) DataFrame.
    Sessions from :func:`duckdb_hdfs_spark.session.get_spark` already
    run with it; an externally built session that needs different
    parquet semantics for its own reads should use a separate session
    for those.  There is no per-read option for the conf (verified
    against Spark 4.1)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    spark.conf.set(_NTZ_CONF, TIMESTAMP_PARITY_CONFS[_NTZ_CONF])
    path = table_path(sf_dir, name)
    schema = _schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    # a timestamp_ntz column still infers as NTZ under the conf above
    # when the file says so (Spark-written timestamp_ntz parquet, seen
    # on Spark 4.1.2); cast it to a session-tz timestamp, a wall-clock
    # identity ONLY under a UTC session timezone.  The tz conf is set
    # just for the cast ANALYSIS (Spark resolves the cast's timeZoneId
    # eagerly, at withColumns time) and restored — an externally built
    # session deliberately running in another timezone keeps its
    # semantics for every other query.  Top-level fields only — the
    # test tables are flat; nested NTZ inside struct/array would need
    # a recursive rewrite.
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        prev_tz = spark.conf.get(_TZ_CONF)
        spark.conf.set(_TZ_CONF, TIMESTAMP_PARITY_CONFS[_TZ_CONF])
        try:
            df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
        finally:
            spark.conf.set(_TZ_CONF, prev_tz)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load + register temp views so both DataFrame code and
    ``spark.sql`` queries see the same tables."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

