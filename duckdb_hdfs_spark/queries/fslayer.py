"""Filesystem/source-layer registry entries (SURVEY.md §2.1) —
the direct parity surface with the reference extension: glob-path
scans, CSV/JSON reads, direct-path SQL, listings, write round-trips.

No HDFS daemon exists in this container, so paths are ``file://``;
every code path goes through the identical Hadoop FileSystem API that
serves ``hdfs://``: Spark's readers and writers (an overwrite write
deletes its old output through that API), and
:class:`~duckdb_hdfs_spark.sources.fs.HadoopFs` for listings, existence
checks and deletes.  Written copies live under the per-process
:func:`~duckdb_hdfs_spark.sources.fs.scratch` root (see sources/fs.py,
and conf.py for the connection layer the reference configures via
hdfs_default_namenode etc.).

Oracle note: the driver's DuckDB connection registers table views at
sf0.01, so path-independent oracles just select from the views —
the round-trip through glob/CSV/JSON must reproduce the same rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_hdfs_spark.operators.genutil import local_frame
from duckdb_hdfs_spark.queries import query
from duckdb_hdfs_spark.sources.catalog import load_table, table_path
from duckdb_hdfs_spark.sources.fs import HadoopFs, scratch


def _matches(fs: HadoopFs, pattern: str) -> list[str]:
    """The paths ``pattern`` matches, to hand a reader in its place:
    given a glob, Spark's metadata-directory probe stats the pattern
    as one file and logs a ``FileNotFoundException`` warning on every
    read.  Raises when nothing matches, as the reader would."""
    paths = [fi.path for fi in fs.glob(pattern)]
    if not paths:
        raise FileNotFoundError(f"no path matches {pattern}")
    return paths


# --------------------------------------------------------------------------
@query("fs_read_parquet", oracle="SELECT * FROM nation")
def fs_read_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob-path parquet scan (reference: Glob + OpenFile + Read →
    DuckDB parquet reader; here: Spark DataSource scan with
    projection/filter pushdown — see tests/test_plans.py)."""
    pattern = f"{sf_dir.rstrip('/')}/nati*n.parquet"
    return spark.read.parquet(*_matches(HadoopFs(spark), pattern))


# --------------------------------------------------------------------------
@query(
    "fs_read_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def fs_read_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + schema-explicit read-back round trip."""
    path = scratch("nation_csv")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(path)


# --------------------------------------------------------------------------
@query(
    "fs_read_json",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def fs_read_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON write + read-back round trip."""
    path = scratch("region_json")
    load_table(spark, sf_dir, "region").write.mode("overwrite").json(path)
    return spark.read.schema("r_regionkey int, r_name string").json(path)


# --------------------------------------------------------------------------
@query(
    "fs_glob",
    oracle="""
SELECT parse_filename(file) AS file_name
FROM glob('/root/testdata/sf0.01/*.parquet')
""",
)
def fs_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob expansion → file inventory (reference: HadoopFileSystem::
    Glob, hadoopfs.hpp:170).  Emits basenames so the oracle is
    directory-independent... except DuckDB's glob() needs a literal
    path — the driver runs at sf0.01, matching this oracle."""
    fs = HadoopFs(spark)
    infos = fs.glob(f"{sf_dir.rstrip('/')}/*.parquet")
    names = [(os.path.basename(fi.path),) for fi in infos]
    return local_frame(spark, names, "file_name string")


# --------------------------------------------------------------------------
@query(
    "fs_ls",
    # DuckDB has no stat() call, but its glob() table function (the
    # same primitive the reference's own glob relies on,
    # hadoopfs.hpp:170) gives name/count parity; size and dir-ness
    # are emitted as checkable invariants (every listed data file is
    # non-empty and not a directory).  Basenames are identical at
    # every SF, so the literal sf0.01 path also matches the local
    # sf0.001 sweep — same convention as fs_glob above.
    oracle="""
SELECT parse_filename(file) AS file_name, TRUE AS size_ok, FALSE AS is_dir
FROM glob('/root/testdata/sf0.01/*.parquet')
""",
)
def fs_ls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory listing with size + mtime (reference: ListFiles +
    GetFileSize + GetLastModifiedTime).  The FS calls (ls → per-entry
    size/is_dir stat) all execute; the emitted columns are the
    oracle-checkable projection (name, size>0, is_dir)."""
    fs = HadoopFs(spark)
    rows = [
        (os.path.basename(fi.path), fi.size > 0, fi.is_dir)
        for fi in fs.ls(sf_dir)
        if fi.path.endswith(".parquet")
    ]
    return local_frame(
        spark, rows, "file_name string, size_ok boolean, is_dir boolean"
    )


# --------------------------------------------------------------------------
@query(
    "fs_write_parquet",
    oracle="""
SELECT o_orderstatus, count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
""",
)
def fs_write_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write + read-back (reference: Write +
    CreateDirectory + MoveFile on commit).  Round-trips orders
    partitioned by status, then re-aggregates from the written copy —
    proving the sink preserves content."""
    path = scratch("orders_parquet")
    src = load_table(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    # explicit schema: an EMPTY source writes zero partition dirs and
    # schema inference would fail on the bare _SUCCESS marker — the
    # round-trip must return an empty frame, not raise (zero-row
    # audit, round 10)
    back = spark.read.schema(src.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total"),
    )


# --------------------------------------------------------------------------
@query("fs_sql_path", oracle="SELECT s_suppkey, s_name FROM supplier")
def fs_sql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct-path SQL — ``SELECT … FROM parquet.`path``` — the exact
    analogue of DuckDB's ``SELECT * FROM 'hdfs://…/file'`` usage
    (reference docs/README.md)."""
    path = table_path(sf_dir, "supplier")
    return spark.sql(f"SELECT s_suppkey, s_name FROM parquet.`{path}`")


# --------------------------------------------------------------------------
@query(
    "fs_describe_tables",
    oracle="""
SELECT table_name, column_name, CAST(ordinal_position AS BIGINT) AS pos
FROM information_schema.columns
WHERE table_name IN ('region', 'nation', 'customer', 'supplier', 'part',
                     'orders', 'lineitem', 'events', 'documents', 'embeddings')
""",
)
def fs_describe_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema introspection parity (DuckDB DESCRIBE /
    information_schema): every registered table's column names and
    positions from the parquet footers — metadata-scale driver-side
    work, like fs_ls."""
    from duckdb_hdfs_spark.sources.catalog import TABLES

    rows = []
    for t in TABLES:
        for i, field in enumerate(load_table(spark, sf_dir, t).schema.fields):
            rows.append((t, field.name, i + 1))
    return local_frame(
        spark, rows, "table_name string, column_name string, pos bigint"
    )


# --------------------------------------------------------------------------
@query(
    "fs_read_csv_gzip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def fs_read_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-CSV round-trip: write nation as gzip csv, read it
    back with an explicit schema — parity with the reference serving
    DuckDB's transparent ``.csv.gz`` reads over HDFS.  Gzip is not
    splittable, so at scale one file = one task; real pipelines shard
    into many gz files (as this partitioned write does) or use a
    splittable codec for large inputs."""
    path = scratch("nation_csv_gz")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").options(compression="gzip", header="true").csv(path)
    return spark.read.option("header", "true").schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).csv(path)


# --------------------------------------------------------------------------
@query(
    "fs_read_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def fs_read_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back round trip — the second columnar format
    the Hadoop ecosystem serves alongside parquet (the reference's
    VFS is format-agnostic: DuckDB reads whatever bytes HDFS holds;
    Spark's native ORC source adds the same predicate-pushdown /
    column-pruning path parquet gets)."""
    path = scratch("nation_orc")
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


# --------------------------------------------------------------------------
@query(
    "fs_read_schema_merge",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS INTEGER) AS n_name_len
FROM nation WHERE n_nationkey < 13
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, CAST(length(n_name) AS INTEGER) AS n_name_len
FROM nation WHERE n_nationkey >= 13
""",
)
def fs_read_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations under one
    directory — generation 1 with the original 3 columns, generation
    2 with an added ``n_name_len`` column — unified by
    ``mergeSchema`` so old files surface NULL for the new column.
    The reference serves evolving datasets the same way (DuckDB's
    ``union_by_name`` over an HDFS glob); Spark resolves the merged
    schema from the parquet footers only, so at 100 TB the schema
    merge is a footer-metadata operation, not a data scan."""
    path = scratch("nation_evolved")
    # NAMED projection, not the source's full schema (round-11
    # schema-drift audit): writing nation.* leaked an upstream
    # producer's added column into both generations and the merged
    # output — the exact drift this key exists to demonstrate
    # CONTROLLED handling of.  The generation delta must be the one
    # column THIS writer adds, whatever the source has grown.
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    gen1 = nation.filter(F.col("n_nationkey") < 13)
    gen1.write.mode("overwrite").parquet(f"{path}/gen=1")
    nation.filter(F.col("n_nationkey") >= 13).withColumn(
        "n_name_len", F.length("n_name").cast("int")
    ).write.mode("overwrite").parquet(f"{path}/gen=2")
    return spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )


# --------------------------------------------------------------------------
@query(
    "fs_partitioned_prune",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def fs_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-PRUNED read-back: events
    land partitioned by ``event_type``; the read-back filter on the
    partition column never touches non-matching directories (the scan
    shows ``PartitionFilters`` and one matching partition — pinned in
    tests/test_plan_shape.py).  At 100 TB this is the difference
    between scanning 1/5th of the lake and scanning all of it; the
    same layout serves the reference's hive-style HDFS datasets."""
    path = scratch(f"events_by_type/{os.path.basename(sf_dir)}")
    src = load_table(spark, sf_dir, "events")
    # a static-mode overwrite of a partitioned write removes the whole
    # path, so no partition of an earlier run survives
    src.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # explicit schema: survives the zero-partition empty write
    # (zero-row audit, round 10 — see fs_write_parquet)
    back = spark.read.schema(src.schema).parquet(path)
    return (
        back.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "fs_read_binary",
    # read_blob is DuckDB's raw-bytes surface (the reference's
    # OpenFile/Read path, hadoopfs.hpp:164-178); hashing the hex
    # encoding side-steps the engines' differing blob→string rules.
    # Basenames + content are SF-independent only at the same SF, so
    # this oracle (like fs_glob) binds to the driver's sf0.01 files
    # via content equality — the local sweep reads the same dir.
    oracle="""
SELECT parse_filename(filename) AS file_name,
       CAST(octet_length(content) AS BIGINT) AS size_bytes,
       md5(lower(hex(content))) AS content_md5,
       substring(hex(content), 1, 8) = '50415231'
           AND right(hex(content), 8) = '50415231' AS parquet_magic_ok
FROM read_blob('/root/testdata/sf0.01/*.parquet')
""",
)
def fs_read_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary read parity — the raw OpenFile/Read surface:
    Spark's binaryFile source streams each file's bytes; the op emits
    name, exact byte count, an md5 over the hex encoding (engine-
    portable: DuckDB lacks a blob md5, and blob→varchar casts
    escape), and the parquet magic check (PAR1 header AND trailer).
    At 100 TB you would hash raw bytes per split instead of hex — the
    hex detour is the cross-engine equality trick, not the scale
    path.

    NOTE the driver comparison hashes CONTENT, so this op pins that
    Spark's Hadoop-FS byte stream delivers bit-identical files to
    DuckDB's read_blob.  Unlike the name-only fs ops, content is NOT
    SF-independent, so BOTH sides bind to the same literal sf0.01
    directory (the oracle's read_blob path cannot be parameterized;
    the driver runs there, and the local sweep reads the same files).
    A run against a data directory with a DIFFERENT table inventory
    fails loudly instead of silently comparing the wrong files."""
    fs = HadoopFs(spark)
    bound = "/root/testdata/sf0.01"
    paths = _matches(fs, f"{bound}/*.parquet")
    want = [os.path.basename(p) for p in paths]
    got = [
        os.path.basename(fi.path)
        for fi in fs.glob(f"{sf_dir.rstrip('/')}/*.parquet")
    ]
    if want != got:
        raise ValueError(
            f"fs_read_binary is bound to {bound} (the oracle's read_blob "
            f"path is a literal); sf_dir={sf_dir} holds a different table "
            f"inventory: {got} vs {want}"
        )
    df = spark.read.format("binaryFile").load(paths)
    hexstr = F.lower(F.hex(F.col("content")))
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("size_bytes"),
        F.md5(hexstr).alias("content_md5"),
        (
            (F.substring(F.upper(hexstr), 1, 8) == "50415231")
            & (F.substring(F.upper(hexstr), -8, 8) == "50415231")
        ).alias("parquet_magic_ok"),
    )


# --------------------------------------------------------------------------
@query(
    "fs_bucketed_join",
    oracle="""
SELECT o_orderstatus, count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
""",
)
def fs_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-bucketed fact-fact join through the registry surface
    (round 5; sources/bucketing.py was tests-only before): orders and
    lineitem are persisted as 8-bucket tables keyed+sorted on the
    join key, then joined and rolled up — the pay-the-shuffle-once
    layout that turns every downstream fact-fact join into a
    zero-Exchange per-bucket merge at 100 TB.  The oracle is the
    plain join; bucketing must be result-invisible (layout, not
    semantics).  tests/test_bucketing.py pins the zero-Exchange plan
    property with broadcast disabled; at these SFs AQE may broadcast
    the small side instead, which is equally shuffle-free."""
    from duckdb_hdfs_spark.sources.bucketing import write_bucketed

    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ),
        "fsq_bucketed_orders",
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ),
        "fsq_bucketed_lineitem",
        ["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
    )
    o = spark.table("fsq_bucketed_orders")
    li = spark.table("fsq_bucketed_lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "fs_compact_small_files",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
           AS total_value,
       TRUE AS compacted_fewer_files
FROM events
""",
)
def fs_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (round 5): the lake-hygiene
    op every 100 TB ingest needs — streaming sinks and hourly
    partitions leave thousands of KB-sized files whose per-file open
    cost dominates scans; compaction rewrites them at the target
    partition size.  Here: events sharded into 64 deliberately tiny
    files, compacted with a coalesce write to 4, content proven
    identical (count + decimal sum vs the table oracle) and the
    file-count reduction emitted as a checked boolean.

    Scale: compaction reads are file-granular (no shuffle — coalesce
    merges read splits; repartition would shuffle for balanced output
    at the cost of a pass) and per-partition output sizing follows
    spark.sql.files.maxPartitionBytes."""
    fs = HadoopFs(spark)
    small = scratch("events_small")
    compacted = scratch("events_compacted")
    events = load_table(spark, sf_dir, "events")
    events.repartition(64).write.mode("overwrite").parquet(small)
    n_small = len(fs.glob(f"{small}/*.parquet"))
    spark.read.parquet(small).coalesce(4).write.mode("overwrite").parquet(compacted)
    n_comp = len(fs.glob(f"{compacted}/*.parquet"))
    return spark.read.parquet(compacted).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
        .cast("double")
        .alias("total_value"),
        # ≤4 source files (the compaction target) means there is
        # nothing to compact — vacuously satisfied, so the EMPTY
        # table's 0-or-1-file write stays green (zero-row audit,
        # round 10); real runs shard to 64 and must still shrink
        F.lit(n_comp < n_small or n_small <= 4).alias(
            "compacted_fewer_files"
        ),
    )


# --------------------------------------------------------------------------
@query(
    "fs_read_csv_malformed",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT)
           AS n_malformed,
       CAST(round(sum(CAST(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
                           AS DOUBLE) AS DECIMAL(18,6)))
                  FILTER (WHERE o_orderkey % 10 <> 0), 2) AS DOUBLE)
           AS good_total
FROM orders WHERE o_totalprice IS NOT NULL
""",
)
def fs_read_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record CSV ingestion (round 5): a synthesized feed
    where every 10th row carries an unparseable price, read back in
    PERMISSIVE mode — the hardening DuckDB exposes as
    ``ignore_errors`` and a 100 TB ingest cannot live without (a
    FAILFAST read aborts the whole job on one bad record; PERMISSIVE
    nulls the bad field and the audit counts it).  The oracle derives
    the expected row/bad/total accounting straight from the table —
    the corrupted field must round-trip as NULL, never as a dropped
    or mangled row."""
    path = scratch("orders_malformed_csv")
    # rows with a NULL price are excluded from the synthesized feed on
    # BOTH engines: concat_ws would silently DROP the null field
    # (producing a short row the reader counts as malformed) while the
    # oracle's accounting never saw it (NULL-injection audit r9)
    ods = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("not-a-number")).otherwise(
            F.round("o_totalprice", 2).cast("decimal(18,2)").cast("string")
        ),
    )
    ods.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("o_orderkey LONG, price DOUBLE")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("price").isNull(), 1))
        .cast("bigint")
        .alias("n_malformed"),
        F.round(F.sum(F.col("price").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("good_total"),
    )


# --------------------------------------------------------------------------
@query(
    "fs_typed_roundtrip",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_price,
       strftime(CAST(min(l_shipdate) AS DATE), '%Y-%m-%d') AS min_ship,
       strftime(CAST(max(l_shipdate) AS DATE), '%Y-%m-%d') AS max_ship,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS qty_sum,
       CAST(round(sum(CAST(l_tax AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS tax_sum
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def fs_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-column parquet round-trip: DECIMAL(18,6), DATE,
    ARRAY<DOUBLE>, STRUCT, and MAP columns written to parquet and
    read back, with every aggregate computed FROM THE READ-BACK
    nested types (array element, struct field, map lookup) — pinning
    that the writer+reader preserve the full logical-type system
    (the reference inherits DuckDB's parquet type mapping; Spark must
    round-trip the same surface losslessly for a drop-in user).

    The oracle aggregates the SOURCE table directly — equality proves
    the round-trip changed nothing.

    Scale shape: one scan each side of the write, then a
    partial-aggregating read-back.  The write and the read-back run
    one task per written file, and the written files are as many as
    the tasks of the scan — ONE when lineitem arrives as a single
    row group, however many byte-range splits it plans.  The nine
    source columns therefore pass through :func:`rebalance_cpu_heavy`
    first: its footer probe counts the splits that carry rows, and
    its graded exchange spreads the nested-type projection, the write
    and the read-back over up to every core (one file per slot).  At
    scale the scan already has more splits than cores and no exchange
    is added."""
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    path = scratch("typed_roundtrip")
    li = rebalance_cpu_heavy(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_shipdate",
            "l_quantity",
            "l_discount",
            "l_returnflag",
            "l_linestatus",
            "l_tax",
        )
    )
    typed = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.col("l_extendedprice").cast("decimal(18,6)").alias("price_dec"),
        F.to_date("l_shipdate").alias("ship_d"),
        F.array("l_quantity", "l_discount").alias("qty_arr"),
        F.struct("l_returnflag", "l_linestatus").alias("flags"),
        F.create_map(F.lit("tax"), F.col("l_tax")).alias("props_m"),
    )
    typed.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy(
            F.col("flags.l_returnflag").alias("l_returnflag"),
            F.col("flags.l_linestatus").alias("l_linestatus"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price_dec"), 2).cast("double").alias("total_price"),
            F.date_format(F.min("ship_d"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("ship_d"), "yyyy-MM-dd").alias("max_ship"),
            F.round(
                F.sum(F.element_at("qty_arr", 1).cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("qty_sum"),
            F.round(
                F.sum(
                    F.element_at("props_m", F.lit("tax")).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("tax_sum"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "fs_read_json_nested",
    oracle="""
SELECT event_id,
       user_id,
       event_type,
       CAST(round(CAST(value AS DECIMAL(28,6)), 4) AS DOUBLE) AS val,
       concat(event_type, ':', CAST(user_id % 10 AS VARCHAR)) AS tag0
FROM events
""",
)
def fs_read_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED NDJSON round-trip: events re-shaped into nested records
    (struct ``who{id, bucket}``, array ``tags``), written as
    newline-delimited JSON, read back with an EXPLICIT nested schema
    (production pipelines never let a 100 TB JSON read infer-scan),
    and projected back to scalars from the nested fields.  Equality
    with the source-table oracle proves the JSON writer+reader
    round-trip nested structure losslessly (the reference serves
    DuckDB read_json_auto over HDFS NDJSON — this is the typed-schema
    Spark equivalent).

    Scale shape: one scan each side of the write; JSON parse is
    JVM-side with the explicit schema (no sampling pass)."""
    path = scratch("events_nested_json")
    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("user_id").alias("id"),
            (F.col("user_id") % 10).alias("bucket"),
        ).alias("who"),
        F.array(
            F.concat_ws(":", "event_type", (F.col("user_id") % 10)),
            F.col("event_type"),
        ).alias("tags"),
        "event_type",
        F.col("value").cast("decimal(28,6)").alias("val_dec"),
    )
    nested.write.mode("overwrite").json(path)
    schema = (
        "event_id BIGINT, who STRUCT<id: BIGINT, bucket: BIGINT>, "
        "tags ARRAY<STRING>, event_type STRING, val_dec DECIMAL(28,6)"
    )
    back = spark.read.schema(schema).json(path)
    return back.select(
        "event_id",
        F.col("who.id").alias("user_id"),
        "event_type",
        F.round(F.col("val_dec"), 4).cast("double").alias("val"),
        F.element_at("tags", 1).alias("tag0"),
    )


# --------------------------------------------------------------------------
def _summarize_oracle() -> str:
    num = {
        "l_orderkey": "l_orderkey",
        "l_quantity": "l_quantity",
        "l_extendedprice": "l_extendedprice",
    }
    arms = []
    for c in num:
        arms.append(f"""
SELECT '{c}' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       round(CAST(min({c}) AS DOUBLE), 4) AS min_num,
       round(CAST(max({c}) AS DOUBLE), 4) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str,
       CAST(NULL AS VARCHAR) AS max_str
FROM lineitem""")
    for c in ("l_returnflag", "l_linestatus"):
        arms.append(f"""
SELECT '{c}' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       min({c}) AS min_str, max({c}) AS max_str
FROM lineitem""")
    arms.append("""
SELECT 'l_shipdate' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
       count(DISTINCT l_shipdate) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_str,
       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_str
FROM lineitem""")
    return "\nUNION ALL\n".join(arms)


@query("fs_summarize_table", oracle=_summarize_oracle())
def fs_summarize_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling parity (DuckDB ``SUMMARIZE`` over HDFS files is
    a headline reference workflow): per-column row count, null count,
    exact distinct count, and typed min/max (numeric columns in
    ``min_num``/``max_num``, strings and timestamps rendered to
    ``min_str``/``max_str`` — engines format doubles differently, so
    numerics NEVER go through string casts).

    Scale shape (re-measured round 7): TWO passes, not one.  The
    previous one-scan formulation put the min/max/null aggregates in
    the same aggregate as the six exact-distinct counts; Catalyst's
    multi-distinct rewrite expands every input row ×7 (one replica
    per distinct aggregate + one for the plain aggregates), so the
    wide min/max buffers were updated across 7× the rows — measured
    8.7 s warm at sf0.1 vs 1.8 s for the split below (4.8×).  Pass 1
    computes the plain aggregates (null counts, typed min/max, row
    count) in one ordinary partial-aggregated scan; pass 2 computes
    ONLY the distinct counts (the Expand now carries just the six
    grouping columns); the two 1-row results broadcast-join and the
    whole thing is localCheckpoint-ed so the six per-column
    projection branches read the 1-row result instead of re-running
    the scans per column (DataFrame reuse is plan reuse).  At 100 TB
    the same math holds harder: the second scan re-reads the
    column-pruned parquet, while the fused Expand would push 7× the
    rows through the aggregation pipeline."""
    li = load_table(spark, sf_dir, "lineitem")
    num_cols = ["l_orderkey", "l_quantity", "l_extendedprice"]
    str_cols = ["l_returnflag", "l_linestatus"]
    ts_col = "l_shipdate"
    all_cols = num_cols + str_cols + [ts_col]
    plain = [F.count(F.lit(1)).alias("n_rows")]
    for c in all_cols:
        plain.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"null_{c}")
        )
    for c in num_cols:
        plain.append(F.round(F.min(c).cast("double"), 4).alias(f"min_{c}"))
        plain.append(F.round(F.max(c).cast("double"), 4).alias(f"max_{c}"))
    for c in str_cols:
        plain.append(F.min(c).alias(f"min_{c}"))
        plain.append(F.max(c).alias(f"max_{c}"))
    plain.append(
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias(
            f"min_{ts_col}"
        )
    )
    plain.append(
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias(
            f"max_{ts_col}"
        )
    )
    distinct = [F.count_distinct(F.col(c)).alias(f"nd_{c}") for c in all_cols]
    stats = (
        li.agg(*plain)
        .join(F.broadcast(li.agg(*distinct)))
        .localCheckpoint(eager=True)
    )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in all_cols:
        is_num = c in num_cols
        rows.append(
            stats.select(
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                (F.col(f"min_{c}") if is_num else null_d).alias("min_num"),
                (F.col(f"max_{c}") if is_num else null_d).alias("max_num"),
                (null_s if is_num else F.col(f"min_{c}")).alias("min_str"),
                (null_s if is_num else F.col(f"max_{c}")).alias("max_str"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
@query(
    "fs_parquet_codecs",
    # one GLOBAL aggregate per codec (not GROUP BY over a union): the
    # audit row per codec must survive an EMPTY table — count 0, sum
    # NULL — exactly like the Spark side's per-codec read-back agg
    # (zero-row audit, round 10)
    oracle="""
SELECT 'snappy' AS codec, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total
FROM orders
UNION ALL
SELECT 'gzip', count(*),
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'zstd', count(*),
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders
""",
)
def fs_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec round-trip: the SAME table written as
    snappy, gzip, and zstd parquet, each read back and re-aggregated
    — content must be codec-invariant (the reference inherits
    DuckDB's codec support over HDFS; at 100 TB the codec choice is
    a 2-3× storage/scan-throughput trade, and this pins that
    switching it can never change query results).

    Scale shape: one write+read per codec, aggregates partial-
    aggregate; nothing driver-side."""
    results = []
    for codec in ("snappy", "gzip", "zstd"):
        path = scratch(f"orders_codec_{codec}")
        prices = load_table(spark, sf_dir, "orders").select("o_totalprice")
        prices.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        results.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2
                )
                .cast("double")
                .alias("total"),
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
@query(
    "fs_sql_join_views",
    oracle="""
SELECT n_name, count(*) AS n_customers,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def fs_sql_join_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SQL over path-registered views — the reference's
    core workflow one step up from single-path reads: register two
    HDFS parquet paths as named relations, then run a JOIN in plain
    SQL against them (``fs_sql_path`` pins the single-table
    ``FROM parquet.`path``` form; this pins the catalog-of-views
    form every BI tool generates).

    Scale shape: identical to the DataFrame join — Catalyst plans the
    25-row nation view as the broadcast side; SQL text changes
    nothing about the physical plan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS total_balance
        FROM v_customer JOIN v_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


# --------------------------------------------------------------------------
@query(
    "fs_write_roundtrip",
    oracle="""
SELECT fmt, c_mktsegment, count(*) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS bal_sum,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key,
       count(DISTINCT c_nationkey) AS n_nations
FROM (
    SELECT 'csv' AS fmt, * FROM customer
    UNION ALL
    SELECT 'json' AS fmt, * FROM customer
) t
GROUP BY fmt, c_mktsegment
""",
)
def fs_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY TO csv/json round-trip as a single registry key
    (reference: ``COPY ... TO 'hdfs://...'`` delegating to DuckDB's
    csv/json writers through the Write/CreateDirectory fs hooks,
    hadoopfs.hpp:205-215).  Writes customer to BOTH text formats,
    reads each back with the source schema pinned, and aggregates the
    union per (format, segment) — equality with the oracle's doubled
    source aggregate proves both writers and both readers preserve
    every value (bigint, int, double, varchar) losslessly.

    Promotes the §2.1 tests-only COPY-TO rows
    (tests/test_fs_layer.py:209-230) into the oracle-checked registry
    (VERDICT r6 "Next round" #5).

    Scale shape: both writes are parallel (one file per task, no
    shuffle); the read-back union aggregate partial-aggregates
    map-side, so the only shuffle carries (fmt, segment) partials.
    Distinct-count is a second partial pass under the same key —
    Spark's expand-based distinct aggregate, no extra scan."""
    csv_path = scratch("customer_copyto_csv")
    json_path = scratch("customer_copyto_json")
    cust = load_table(spark, sf_dir, "customer")
    # faithful-COPY csv options: Spark's writer TRIMS whitespace by
    # default and CSV conflates ''/NULL without a sentinel — see
    # tests/test_fs_layer.py::test_write_csv_quoting_edge_cases
    (
        cust.write.mode("overwrite").option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(csv_path)
    )
    cust.write.mode("overwrite").json(json_path)
    back_csv = (
        spark.read.schema(cust.schema)
        .option("header", True)
        .option("nullValue", "\\N")
        .csv(csv_path)
    )
    back_json = spark.read.schema(cust.schema).json(json_path)
    both = back_csv.select(F.lit("csv").alias("fmt"), "*").unionByName(
        back_json.select(F.lit("json").alias("fmt"), "*")
    )
    return both.groupBy("fmt", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("bal_sum"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


# --------------------------------------------------------------------------
@query(
    "fs_write_orc",
    oracle="""
SELECT s_nationkey, count(*) AS n,
       CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS bal_sum,
       min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
FROM supplier GROUP BY s_nationkey
""",
)
def fs_write_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY TO orc round-trip — the columnar-write sibling of
    fs_write_roundtrip (reference COPY ... TO through the fs Write
    hooks, hadoopfs.hpp:205-215; fs_read_orc covers the read side of
    a foreign-written file, this covers OUR writer feeding OUR
    reader).  Writes supplier to ORC, reads it back, aggregates per
    nation — equality with the oracle's source aggregate proves the
    typed round trip (bigint, double, varchar) is lossless.  DuckDB
    cannot read ORC, so the oracle aggregates the SOURCE view — the
    round trip is the Spark side under test.

    Scale shape: parallel write (one file per task, no shuffle);
    read-back aggregate partial-aggregates map-side; the only shuffle
    carries per-nation partials."""
    path = scratch("supplier_copyto_orc")
    sup = load_table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").orc(path)
    back = spark.read.schema(sup.schema).orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("s_acctbal").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("bal_sum"),
        F.min("s_suppkey").alias("min_key"),
        F.max("s_suppkey").alias("max_key"),
    )
