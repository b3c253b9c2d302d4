"""Table catalog: register the test-data parquet files as temp views.

The reference's usage pattern is ``SELECT * FROM
'hdfs://nn/path/file'`` — a path *is* a table.  Spark equivalent:
``spark.read.parquet(path)`` + temp view, or direct-path SQL
(``SELECT … FROM parquet.`path```, see :func:`sql_path`).

Schema cache.  A bare ``spark.read.parquet(path)`` infers the schema
from the parquet footers, which costs one Spark job (plus a listing
and footer reads against the NameNode) on every read.  The reference
keeps per-namenode state so short queries do not repeat metadata work;
here :func:`load_table` resolves each table's ``StructType`` once and
reads every call with ``spark.read.schema(s).parquet(path)``.

- Key: the table path.  The entry holds a signature and the
  ``StructType``; at most one entry per path.
- Signature: the path's Hadoop ``FileStatus`` (length, modification
  time) and, for a directory, the name, length and modification time
  of every entry below it (a part rewritten in place does not touch
  its directory's mtime), plus the values of the parquet confs that
  change what inference returns (:data:`_INFERENCE_CONFS`).  Every
  call recomputes it; a changed signature re-infers and replaces the
  entry.  A path whose status cannot be read is never cached: its
  read infers, and fails, exactly as an uncached read does.
- Never cached: a ``DataFrame`` or any other JVM-backed object — a
  ``StructType`` is pure Python, so the cache outlives
  ``stop_spark()``, and every call builds a fresh ``DataFrame``
  (reading one table twice in a self-join needs distinct attribute
  ids).
- Still inferred on every read: readers whose contract *is*
  inference — :func:`sql_path` (direct-path SQL), the CSV/JSON
  readers, ``fs_read_schema_merge`` and the audit scripts' own reads.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

#: small dimension tables safe to broadcast at ANY scale factor —
#: their cardinality is fixed (region=5, nation=25) or grows far
#: slower than the fact tables.
BROADCAST_DIMS = ("region", "nation")


#: tables with parquet TIMESTAMP(NANOS) columns — Spark's reader has
#: no nanosecond timestamp type, so these are read as raw int64 ns
#: (``spark.sql.legacy.parquet.nanosAsLong``) and converted to
#: microsecond timestamps (matching DuckDB's ``epoch_us`` floor).
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

#: Naive (isAdjustedToUTC=false) parquet timestamps read as
#: TIMESTAMP_NTZ under Spark 4's default NTZ inference, which the
#: timestamp function surface (``unix_micros``, ``window`` …) rejects.
#: DuckDB reads the same columns as plain TIMESTAMP, so for oracle
#: parity we pin the pre-3.4 behavior: naive parquet micros ==
#: session-local TIMESTAMP (session tz is UTC — value-identity).
_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: session confs whose values change the schema footer inference
#: returns — part of every cached schema's signature
_INFERENCE_CONFS = (
    _NANOS_CONF,
    _NTZ_CONF,
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
    sc = spark.sparkContext
    # a fully-qualified JavaClass costs one py4j round trip, where
    # ``spark._jvm.org.apache.hadoop.fs.Path`` resolves each package
    # segment with a round trip of its own
    jpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    try:
        root = fs.getFileStatus(jpath)
    except Py4JJavaError:
        return None
    entries = []
    todo = [("", root)]
    while todo:
        name, st = todo.pop()
        entries.append((name, st.getLen(), st.getModificationTime()))
        if st.isDirectory():
            todo += [
                (f"{name}/{c.getPath().getName()}", c)
                for c in fs.listStatus(st.getPath())
            ]
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return tuple(sorted(entries)), confs


def _schema(spark: SparkSession, path: str) -> StructType:
    """The table's inferred schema: from the cache while the path's
    signature is unchanged, else inferred (one Spark job) and cached."""
    sig = _signature(spark, path)
    hit = _SCHEMAS.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
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

    Session-conf contract (round-7 review made this explicit): this
    PERMANENTLY sets ``spark.sql.parquet.inferTimestampNTZ.enabled=
    false`` and, for nano-timestamp tables, ``spark.sql.legacy.
    parquet.nanosAsLong=true`` on the session.  A scoped
    set-and-restore is NOT safe here: parquet scans consult these
    confs when an ACTION plans, not when ``spark.read`` builds the
    frame, so restoring after this call would race every downstream
    job of the returned (lazy) DataFrame.  Sessions from
    :func:`duckdb_hdfs_spark.session.get_spark` already run with the
    NTZ conf at this value; an externally built session that needs
    different parquet semantics for its own reads should use a
    separate session for those.  The NTZ-cast fallback below keeps
    THIS loader correct even when the session captured the default
    confs before the call (there is no per-read option for either
    knob — verified against Spark 4.1)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    nano_cols = _NANO_TS_COLUMNS.get(name, ())
    if nano_cols:
        spark.conf.set(_NANOS_CONF, "true")
    spark.conf.set(_NTZ_CONF, "false")
    path = table_path(sf_dir, name)
    schema = _schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for c in nano_cols:
        if isinstance(schema[c].dataType, LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    # belt-and-braces for externally built sessions where the conf
    # was captured before this call: NTZ → session-tz timestamp is a
    # wall-clock identity ONLY under a UTC session timezone.  The tz
    # conf is set just for the cast ANALYSIS (Spark resolves the
    # cast's timeZoneId eagerly, at withColumn time) and restored —
    # an externally built session deliberately running in another
    # timezone keeps its semantics for every other query.
    # Top-level fields only — the test tables are flat; nested NTZ
    # inside struct/array would need a recursive rewrite.
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            for c in ntz:
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
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


def sql_path(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Direct-path SQL — parity with DuckDB's ``FROM 'hdfs://…'``."""
    return spark.sql(f"SELECT * FROM {fmt}.`{path}`")
