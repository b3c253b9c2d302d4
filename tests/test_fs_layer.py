"""Filesystem + connection-config layer tests (SURVEY.md §2.1).

No HDFS daemon exists in the container, so the JVM Hadoop FileSystem
ops run against ``file://`` — the identical API surface executors use
for ``hdfs://`` — and the config layer is verified by asserting the
exact ``spark.hadoop.*`` keys a real cluster consumes."""

from __future__ import annotations

import pytest

from duckdb_hdfs_spark.conf import (
    ENV_DEFAULT_NAMENODE,
    ENV_DOMAIN_SOCKET_PATH,
    ENV_HA_NAMENODES,
    ENV_KERBEROS_KEYTAB,
    ENV_KERBEROS_PRINCIPAL,
    ENV_KERBEROS_TICKET_CACHE,
    ENV_SHORTCIRCUIT,
    HdfsParams,
    can_handle_file,
    parse_url,
)
from duckdb_hdfs_spark.sources.fs import HadoopFs


# --------------------------------------------------------------------------
# config layer (reference: HDFSParams / env provider, hadoopfs.hpp:13-118)
# --------------------------------------------------------------------------
def test_params_from_env():
    p = HdfsParams.from_env(
        {
            ENV_DEFAULT_NAMENODE: "hdfs://NameNode-1:9000/some/path",
            ENV_SHORTCIRCUIT: "TRUE",
            ENV_DOMAIN_SOCKET_PATH: "/var/lib/hdfs/dn_socket",
        }
    )
    assert p.namenode == "namenode-1:9000"  # lowercased, scheme+path stripped
    assert p.shortcircuit is True
    assert p.domain_socket_path == "/var/lib/hdfs/dn_socket"


def test_single_namenode_conf():
    conf = HdfsParams(namenode="nn1:9000").to_spark_conf()
    assert conf == {"spark.hadoop.fs.defaultFS": "hdfs://nn1:9000"}


def test_ha_namenode_conf():
    p = HdfsParams.from_env({ENV_HA_NAMENODES: "nn1:8020, nn2:8020"})
    conf = p.to_hadoop_conf()
    assert conf["fs.defaultFS"] == "hdfs://ns1"
    assert conf["dfs.nameservices"] == "ns1"
    assert conf["dfs.ha.namenodes.ns1"] == "nn1,nn2"
    assert conf["dfs.namenode.rpc-address.ns1.nn1"] == "nn1:8020"
    assert conf["dfs.namenode.rpc-address.ns1.nn2"] == "nn2:8020"
    assert "ConfiguredFailoverProxyProvider" in conf["dfs.client.failover.proxy.provider.ns1"]


def test_shortcircuit_conf():
    p = HdfsParams(shortcircuit=True, domain_socket_path="/sock")
    conf = p.to_hadoop_conf()
    assert conf["dfs.client.read.shortcircuit"] == "true"
    assert conf["dfs.domain.socket.path"] == "/sock"


def test_kerberos_conf():
    """Kerberos envelope parity (reference links kerberos/gsasl:
    CMake/FindKERBEROS.cmake, CMake/FindGSasl.cmake)."""
    p = HdfsParams.from_env(
        {
            ENV_KERBEROS_PRINCIPAL: "svc/host@EXAMPLE.COM",
            ENV_KERBEROS_KEYTAB: "/etc/security/svc.keytab",
            ENV_KERBEROS_TICKET_CACHE: "/tmp/krb5cc_1000",
        }
    )
    hconf = p.to_hadoop_conf()
    assert hconf["hadoop.security.authentication"] == "kerberos"
    assert hconf["hadoop.rpc.protection"] == "authentication"
    assert hconf["hadoop.security.kerberos.ticket.cache.path"] == "/tmp/krb5cc_1000"
    sconf = p.to_spark_conf()
    assert sconf["spark.hadoop.hadoop.security.authentication"] == "kerberos"
    assert sconf["spark.kerberos.principal"] == "svc/host@EXAMPLE.COM"
    assert sconf["spark.kerberos.keytab"] == "/etc/security/svc.keytab"


def test_kerberos_secured_ha_cluster_exact_key_set():
    """The COMPLETE conf a kerberized HA cluster needs, pinned as
    exact dict equality — a dropped, renamed, or spuriously added key
    fails loudly, not silently (VERDICT r5 #6: the reference's
    krb5/gsasl link envelope, CMakeLists.txt, asserted rather than
    documented)."""
    p = HdfsParams(
        ha_namenodes=["nn1.prod:8020", "nn2.prod:8020"],
        nameservice="prod",
        kerberos_principal="svc/host@EXAMPLE.COM",
        kerberos_keytab="/etc/security/svc.keytab",
        kerberos_ticket_cache="/tmp/krb5cc_1000",
    )
    assert p.to_spark_conf() == {
        "spark.hadoop.fs.defaultFS": "hdfs://prod",
        "spark.hadoop.dfs.nameservices": "prod",
        "spark.hadoop.dfs.ha.namenodes.prod": "nn1,nn2",
        "spark.hadoop.dfs.namenode.rpc-address.prod.nn1": "nn1.prod:8020",
        "spark.hadoop.dfs.namenode.rpc-address.prod.nn2": "nn2.prod:8020",
        "spark.hadoop.dfs.client.failover.proxy.provider.prod": (
            "org.apache.hadoop.hdfs.server.namenode.ha."
            "ConfiguredFailoverProxyProvider"
        ),
        "spark.hadoop.hadoop.security.authentication": "kerberos",
        "spark.hadoop.hadoop.rpc.protection": "authentication",
        "spark.hadoop.hadoop.security.kerberos.ticket.cache.path": (
            "/tmp/krb5cc_1000"
        ),
        "spark.kerberos.principal": "svc/host@EXAMPLE.COM",
        "spark.kerberos.keytab": "/etc/security/svc.keytab",
    }


def test_no_kerberos_keys_without_principal():
    conf = HdfsParams(namenode="nn1:9000").to_spark_conf()
    assert not any("kerberos" in k or "security" in k for k in conf)


def test_parse_url():
    assert parse_url("hdfs://nn:9000/a/b.parquet") == ("/a/b.parquet", "nn:9000")
    assert parse_url("hdfs://nn:9000") == ("/", "nn:9000")
    assert parse_url("file:///tmp/x") == ("/tmp/x", "")
    assert parse_url("/plain/path") == ("/plain/path", "")


def test_can_handle_file():
    assert can_handle_file("hdfs://nn/x")
    assert can_handle_file("viewfs://cluster/x")
    assert can_handle_file("webhdfs://nn/x")
    assert not can_handle_file("s3a://bucket/x")
    assert not can_handle_file("relative/path")


# --------------------------------------------------------------------------
# Hadoop FileSystem ops on file:// (reference: hadoopfs.hpp:143-252)
# --------------------------------------------------------------------------
@pytest.fixture()
def fs_root(spark, tmp_path):
    fs = HadoopFs(spark)
    root = f"file://{tmp_path}"
    return fs, root, tmp_path


def test_mkdirs_exists_isdir(fs_root):
    fs, root, _ = fs_root
    assert not fs.exists(f"{root}/d1")
    assert fs.mkdirs(f"{root}/d1/d2")
    assert fs.exists(f"{root}/d1/d2") and fs.is_dir(f"{root}/d1")


def test_write_read_size_mtime(fs_root):
    fs, root, _ = fs_root
    payload = b"hello hdfs layer \x00\x01\xff"
    fs.write_bytes(f"{root}/f.bin", payload)
    assert fs.read_bytes(f"{root}/f.bin") == payload
    assert fs.read_bytes(f"{root}/f.bin", offset=6, length=4) == b"hdfs"
    assert fs.size(f"{root}/f.bin") == len(payload)
    assert fs.mtime_ms(f"{root}/f.bin") > 0
    assert not fs.is_dir(f"{root}/f.bin")


def test_bulk_roundtrip_is_batched(fs_root):
    """1 MiB round-trip must complete in ms — one JVM transfer each
    way (IOUtils.readFully / byte[] write), not a py4j call per byte
    (the round-2 verdict's #9)."""
    import time

    fs, root, _ = fs_root
    payload = bytes(range(256)) * 4096  # 1 MiB
    t0 = time.monotonic()
    fs.write_bytes(f"{root}/big.bin", payload)
    got = fs.read_bytes(f"{root}/big.bin")
    elapsed = time.monotonic() - t0
    assert got == payload
    assert elapsed < 5.0, f"1 MiB round-trip took {elapsed:.1f}s — not batched"
    # positional slice from the middle
    assert fs.read_bytes(f"{root}/big.bin", offset=1000, length=16) == payload[1000:1016]
    # reads past EOF clamp instead of raising
    assert fs.read_bytes(f"{root}/big.bin", offset=len(payload) - 4, length=100) == payload[-4:]
    assert fs.read_bytes(f"{root}/big.bin", offset=len(payload), length=10) == b""


def test_truncate(fs_root):
    """Reference: HadoopFileSystem::Truncate (hadoopfs.hpp:188)."""
    fs, root, _ = fs_root
    fs.write_bytes(f"{root}/t.bin", b"0123456789")
    assert fs.truncate(f"{root}/t.bin", 4) is True
    assert fs.size(f"{root}/t.bin") == 4
    assert fs.read_bytes(f"{root}/t.bin") == b"0123"


def test_ls_mv_rm(fs_root):
    fs, root, _ = fs_root
    fs.mkdirs(f"{root}/d")
    for name in ("a.txt", "b.txt"):
        fs.write_bytes(f"{root}/d/{name}", b"x")
    names = [fi.path.rsplit("/", 1)[1] for fi in fs.ls(f"{root}/d")]
    assert names == ["a.txt", "b.txt"]
    assert fs.mv(f"{root}/d/a.txt", f"{root}/d/c.txt")
    assert fs.exists(f"{root}/d/c.txt") and not fs.exists(f"{root}/d/a.txt")
    assert fs.rm(f"{root}/d/c.txt")
    assert fs.rm(f"{root}/d", recursive=True)
    assert not fs.exists(f"{root}/d")


def test_write_csv_roundtrip(spark, sf_dir, tmp_path):
    """COPY TO csv parity: write nation as CSV with header, read back
    with explicit schema, byte-identical content."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    out = f"file://{tmp_path}/nation_csv"
    nation.write.option("header", True).csv(out)
    back = spark.read.schema(nation.schema).option("header", True).csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_write_json_roundtrip(spark, sf_dir, tmp_path):
    """COPY TO json parity: NDJSON write + schema-pinned read-back."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    region = load_table(spark, sf_dir, "region")
    out = f"file://{tmp_path}/region_json"
    region.write.json(out)
    back = spark.read.schema(region.schema).json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_glob_segments_and_recursive(fs_root):
    """Glob parity with the reference's Match (hadoopfs.hpp:150-152):
    *, ?, [..] within a segment plus ** across segments."""
    fs, root, _ = fs_root
    for p in ("w/2024/jan/a.parquet", "w/2024/feb/b.parquet", "w/2025/jan/c.parquet", "w/top.parquet"):
        d = f"{root}/{p.rsplit('/', 1)[0]}"
        fs.mkdirs(d)
        fs.write_bytes(f"{root}/{p}", b"pq")

    def rels(pattern):
        return sorted(
            fi.path.split(f"{root.split('://')[1]}/", 1)[1] for fi in fs.glob(pattern)
        )

    assert rels(f"{root}/w/*/jan/*.parquet") == [
        "w/2024/jan/a.parquet",
        "w/2025/jan/c.parquet",
    ]
    assert rels(f"{root}/w/2024/???/?.parquet") == [
        "w/2024/feb/b.parquet",
        "w/2024/jan/a.parquet",
    ]
    assert rels(f"{root}/w/2024/[fj]*/*.parquet") == [
        "w/2024/feb/b.parquet",
        "w/2024/jan/a.parquet",
    ]
    assert rels(f"{root}/w/**/*.parquet") == [
        "w/2024/feb/b.parquet",
        "w/2024/jan/a.parquet",
        "w/2025/jan/c.parquet",
        "w/top.parquet",
    ]


def test_apply_to_session_sets_live_hadoop_conf(spark):
    """Runtime SET equivalent: keys land on the live session's Hadoop
    configuration and are visible to subsequently created
    FileSystem objects."""
    from duckdb_hdfs_spark.conf import apply_to_session

    conf = apply_to_session(
        spark, HdfsParams(shortcircuit=True, domain_socket_path="/tmp/dn_socket")
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        assert hconf.get(k) == v
    assert hconf.get("dfs.client.read.shortcircuit") == "true"


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip"])
def test_write_parquet_compression_codecs(spark, sf_dir, tmp_path, codec):
    """COPY TO (FORMAT PARQUET, COMPRESSION ...) parity: every codec
    the reference exposes round-trips content-identically."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    out = f"file://{tmp_path}/nation_{codec}"
    nation.write.option("compression", codec).parquet(out)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_write_csv_quoting_edge_cases(spark, tmp_path):
    """COPY TO csv must round-trip delimiter/quote/newline content
    losslessly: fields containing commas, double quotes, leading and
    trailing spaces, embedded newlines, empty strings, and NULLs —
    the writer quotes/escapes, the reader (multiLine for embedded
    newlines) inverts it exactly."""
    rows = [
        (1, "plain"),
        (2, "comma, inside"),
        (3, 'quote " inside'),
        (4, 'both, and "quotes"'),
        (5, "embedded\nnewline"),
        (6, "  padded  "),
        (7, ""),
        (8, None),
        (9, 'tricky ,"",\n,"" end'),
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    out = f"file://{tmp_path}/edge_csv"
    # Faithful-COPY recipe (round 7, found by this test): Spark's csv
    # WRITER trims leading/trailing whitespace by default
    # (ignoreLeading/TrailingWhiteSpace default TRUE on write — a
    # fidelity gap vs DuckDB's COPY TO, which preserves padding), and
    # CSV cannot distinguish '' from NULL without a sentinel — write
    # NULL as \N (the Hive/MySQL convention) and '' as a quoted empty
    # so the reader can invert both.
    (
        df.coalesce(1)
        .write.option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(out)
    )
    back = spark.read.schema(df.schema).option("header", True).option(
        "multiLine", True
    ).option("nullValue", "\\N").csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    ), "CSV round-trip corrupted delimiter/quote/newline content"


# --------------------------------------------------------------------------
# round 12: the corrupt-file ingestion contract (scripts/corrupt_audit.py)
# pinned as a permanent regression gate — fail-fast, poisoned inference,
# and the PAR1-tail quarantine recovery, on one table for test speed.
def test_corrupt_file_contract(spark, sf_dir, tmp_path):
    """FAIL-FAST: truncated/zero-byte/alien parquet raise on read
    (never silently return partial data); ignoreCorruptFiles alone
    dies at schema inference on a mixed directory; the catalog-schema
    recovery read and the PAR1-tail quarantine both restore exactly
    the clean rows."""
    import importlib.util
    from pathlib import Path

    import pytest as _pytest

    from duckdb_hdfs_spark.sources.catalog import load_table

    audit_path = (
        Path(__file__).resolve().parent.parent / "scripts" / "corrupt_audit.py"
    )
    spec = importlib.util.spec_from_file_location("corrupt_audit", audit_path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    clean = open(f"{sf_dir}/nation.parquet", "rb").read()
    single = tmp_path / "single"
    single.mkdir()
    (single / "trunc.parquet").write_bytes(clean[: -audit.TRUNCATE_TAIL])
    (single / "zero.parquet").write_bytes(b"")
    (single / "alien.parquet").write_text("n_nationkey,n_name\n0,oops\n")
    for p in sorted(single.iterdir()):
        with _pytest.raises(Exception):
            spark.read.parquet(str(p)).count()

    d = tmp_path / "nation.parquet"
    spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(2).write.parquet(
        str(d)
    )
    want = spark.read.parquet(str(d)).count()
    # the catalog now holds this directory's schema; a truncated part
    # added after that must still fail the next catalog read
    assert load_table(spark, str(tmp_path), "nation").count() == want
    (d / "part-trunc.parquet").write_bytes(clean[: -audit.TRUNCATE_TAIL])
    with _pytest.raises(Exception):
        load_table(spark, str(tmp_path), "nation").count()
    (d / "part-zero.parquet").write_bytes(b"")
    (d / "notes.txt").write_text("stray\n")

    with _pytest.raises(Exception):
        spark.read.parquet(str(d)).count()
    schema = spark.read.parquet(f"{sf_dir}/nation.parquet").schema
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        # inference is poisoned even with ignoreCorruptFiles...
        with _pytest.raises(Exception):
            spark.read.parquet(str(d)).count()
        # ...the catalog schema is the bounded recovery
        assert spark.read.schema(schema).parquet(str(d)).count() == want
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)

    moved = audit.quarantine(str(d), str(tmp_path / "dead"))
    assert set(moved) == {"notes.txt", "part-trunc.parquet", "part-zero.parquet"}
    assert spark.read.parquet(str(d)).count() == want


# round 13: corrupt-file contracts for the non-parquet formats
# (scripts/corrupt_audit.py §§5-8) pinned on one table for test speed.
def test_corrupt_format_contracts(spark, sf_dir, tmp_path):
    """CSV torn-tail is silently partial on BOTH engines (no format
    integrity metadata); gzip members self-detect and the full-decode
    quarantine probe restores the clean baseline; ORC is footer-ed —
    fail-fast on Spark, magic+footer quarantine recovers."""
    import gzip
    import importlib.util
    from pathlib import Path

    import duckdb as _duckdb
    import pytest as _pytest

    audit_path = (
        Path(__file__).resolve().parent.parent / "scripts" / "corrupt_audit.py"
    )
    spec = importlib.util.spec_from_file_location("corrupt_audit", audit_path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    con = _duckdb.connect()
    want = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/nation.parquet'"
    ).fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{sf_dir}/nation.parquet') "
        f"TO '{tmp_path}/nation.csv' (FORMAT CSV, HEADER)"
    )
    csv_b = (tmp_path / "nation.csv").read_bytes()

    # CSV torn tail: silent partial on both engines — the documented
    # "undetectable at format level" contract
    (tmp_path / "torn.csv").write_bytes(csv_b[: len(csv_b) // 2])
    ns = spark.read.option("header", "true").csv(str(tmp_path / "torn.csv")).count()
    nd = con.execute(
        f"SELECT count(*) FROM read_csv('{tmp_path}/torn.csv', header=true)"
    ).fetchone()[0]
    assert 0 < ns < want and 0 < nd < want

    # gz member dir: clean parts + trunc/zero/stray → quarantine probe
    gzdir = tmp_path / "gz"
    gzdir.mkdir()
    header, *lines = csv_b.decode().splitlines()
    half = (len(lines) + 1) // 2
    for i, part in enumerate((lines[:half], lines[half:])):
        with gzip.open(gzdir / f"part-{i}.csv.gz", "wb") as f:
            f.write(("\n".join([header] + part) + "\n").encode())
    clean_gz = (gzdir / "part-0.csv.gz").read_bytes()
    (gzdir / "part-trunc.csv.gz").write_bytes(clean_gz[: len(clean_gz) // 2])
    (gzdir / "part-zero.csv.gz").write_bytes(b"")
    (gzdir / "notes.txt").write_text("stray\n")
    with _pytest.raises(Exception):
        spark.read.option("header", "true").csv(str(gzdir)).count()
    moved = audit.quarantine_by_probe(
        str(gzdir), str(tmp_path / "dead_gz"), ".csv.gz", audit.gzip_member_ok
    )
    assert set(moved) == {"part-trunc.csv.gz", "part-zero.csv.gz", "notes.txt"}
    assert spark.read.option("header", "true").csv(str(gzdir)).count() == want

    # ORC dir: footer-ed fail-fast + magic/footer quarantine recovery
    orcdir = tmp_path / "orc"
    spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(2).write.orc(
        str(orcdir)
    )
    orc_b = sorted(orcdir.glob("part-*.orc"))[0].read_bytes()
    (orcdir / "part-trunc.orc").write_bytes(orc_b[:-64])
    (orcdir / "part-zero.orc").write_bytes(b"")
    with _pytest.raises(Exception):
        spark.read.orc(str(orcdir)).count()
    moved = audit.quarantine_by_probe(
        str(orcdir), str(tmp_path / "dead_orc"), ".orc", audit.orc_member_ok
    )
    assert set(moved) == {"part-trunc.orc", "part-zero.orc"}
    assert spark.read.orc(str(orcdir)).count() == want
    con.close()
