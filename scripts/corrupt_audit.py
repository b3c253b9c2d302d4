"""Corrupt-file ingestion audit (round 12, r11-verdict task #6) — the
one adversarial direction the round-11 battery had not swept: what a
table read does when the DIRECTORY holding it contains files that are
not valid data — a truncated parquet (killed writer / partial copy),
a zero-byte file (created-then-crashed writer), and a stray
wrong-format file (notes.txt / CSV bytes under a .parquet name).  At
100 TB every table is a directory that compactions, backfills and
humans all write into; the question is never IF a bad file appears
but what the contract is when it does.

The CORRUPT_FILE rule class this audit pins (all probe-measured on
Spark 4.1 + DuckDB, not assumed):

1. FAIL-FAST is the default on BOTH engines, single file or
   directory: truncated / zero-byte / alien-bytes parquet all raise
   (Spark FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER, DuckDB
   InvalidInputException) — neither engine ever silently returns
   partial data from a corrupt member.  A corrupt SINGLE-file table
   is therefore unrecoverable at read time by design; recovery is an
   upstream re-export, never an engine option.
2. SCHEMA INFERENCE IS POISONED TOO: Spark's
   ``spark.sql.files.ignoreCorruptFiles=true`` alone does NOT
   recover a mixed directory — inference samples footers, the
   corrupt ones are skipped, and the read dies with
   UNABLE_TO_INFER_SCHEMA when the sample is exhausted.  Bounded
   recovery REQUIRES the contracted schema passed explicitly
   (production always has one — the catalog); with
   ``.schema(catalog) + ignoreCorruptFiles`` the read returns
   exactly the clean members' rows.
3. ENGINE SPLIT on strays: Spark attempts every non-underscore file
   in a directory (stray notes.txt → job failure) while DuckDB's
   ``*.parquet`` glob never even sees a wrong-extension stray — so
   the only ENGINE-AGNOSTIC recovery is filesystem-level QUARANTINE:
   move members failing the 4-byte PAR1 tail probe (and any
   non-data stray) to a dead-letter directory, mirroring the
   malformed-JSON audit's quarantine discipline.  After quarantine
   both engines agree with the uncorrupted baseline.
4. The quarantined lake is then swept through the FULL registry
   parity check (keys the file-split audit class skips excluded, as
   in ``python -m duckdb_hdfs_spark.audit filesplit``) — proving the
   documented recovery restores end-to-end correctness, not just
   rowcounts.

Round 13 (r12-verdict task #6) extends the corrupt-FILE contract to
the other three source formats — all probe-measured on Spark 4.1 +
DuckDB, and sharply DIFFERENT from parquet because only footer-ed
formats can detect their own corruption:

5. PLAIN CSV HAS NO INTEGRITY METADATA: a truncated (torn-tail) CSV
   is indistinguishable from a complete one — BOTH engines silently
   return the surviving prefix rows, no error, no flag.  A zero-byte
   CSV reads as 0 rows on both.  Binary garbage under .csv splits
   the engines: Spark parses it into mangled rows (silent), DuckDB's
   sniffer raises.  The contract: torn-tail CSV corruption is
   UNDETECTABLE at the format level; detection requires upstream
   bookkeeping (row-count manifests / checksums), which is why the
   repo's ingest layer (sources/ingest.py) carries count audits.
6. GZIP MEMBERS self-detect via the trailing CRC32/ISIZE, but the
   engines disagree on WHEN to check: Spark streams the member and
   raises mid-read on a truncated stream; DuckDB silently returns
   the rows it decoded BEFORE the cut (a partial prefix, the worst
   of the behaviors measured anywhere in this audit).  Zero-byte
   inverts the split: Spark says 0 rows, DuckDB raises ("not a GZIP
   stream").  Garbage raises on both.  The engine-agnostic recovery
   is the same quarantine discipline as parquet with a FULL-STREAM
   DECODE probe (gzip members are whole-file decompression units —
   non-splittable — so the probe costs one member scan, the same
   work any reader pays).
7. NDJSON: Spark PERMISSIVE-mode recovers (torn/garbage lines land
   in ``_corrupt_record``, clean lines parse — silent, flagged);
   DuckDB read_json raises on the first malformed byte.  Zero-byte
   is 0 rows on both.  No format-level integrity probe exists (same
   as CSV); the RECORD-level quarantine lives in the malformed-JSON
   audit — at the FILE level the pin is the asymmetry itself.
8. ORC is footer-ed like parquet: truncated / zero-byte / garbage
   all FAIL-FAST on Spark (protobuf parse / UNABLE_TO_INFER_SCHEMA /
   CANNOT_READ_FILE_FOOTER).  DuckDB has no ORC reader (engine
   capability gap, not a corruption behavior).  Quarantine probe =
   "ORC" tail magic + pyarrow.orc metadata parse, mirroring the
   parquet PAR1+footer probe; post-quarantine the directory read
   equals the clean baseline.

    python scripts/corrupt_audit.py [--sf /root/testdata/sf0.001]
        [--skip-sweep] [--skip-formats] [keys...]
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

#: bytes cut from the tail to kill the footer+magic of the truncated clone
TRUNCATE_TAIL = 256


def _raises(fn) -> str | None:
    """Run ``fn``; return the exception's type name (None if it
    succeeded — which for this audit's pins is the FAILURE case)."""
    try:
        fn()
        return None
    except Exception as e:  # noqa: BLE001 — the audit pins "raises at all"
        return type(e).__name__


@contextlib.contextmanager
def _ignore_corrupt(spark):
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def build_corrupt_lake(sf_dir: str, dst: str) -> str:
    """Write the corrupt lake under ``dst`` and return its path: each
    table becomes ``{lake}/{t}.parquet/`` = the file-split audit
    class's 4 clean md5-assigned parts PLUS three corrupt members:
    a truncated clone of part 0, a zero-byte .parquet, and a stray
    notes.txt."""
    from duckdb_hdfs_spark import audit

    lake = audit.build("filesplit", sf_dir, dst).perturbed
    for t in TABLES:
        d = f"{lake}/{t}.parquet"
        clean0 = open(f"{d}/part-00000.parquet", "rb").read()
        with open(f"{d}/part-trunc.parquet", "wb") as f:
            f.write(clean0[:-TRUNCATE_TAIL])
        open(f"{d}/part-zero.parquet", "wb").close()
        with open(f"{d}/notes.txt", "w") as f:
            f.write("ops scratch note — not data\n")
    return lake


def quarantine(table_dir: str, dead_letter: str) -> list[str]:
    """The rule-class recovery: move every member that fails the
    PAR1 tail probe + footer-metadata parse (or is not a data file
    at all) to the dead-letter directory; ``_``-prefixed engine
    metadata is left alone.  Returns the quarantined basenames.

    Probe depth (round-12 advisor): the 4-byte tail magic alone
    passes a file whose tail survived but whose FOOTER rotted, so
    the probe also parses the thrift footer (pyarrow
    ``ParquetFile(...).metadata`` — cheap: reads only the footer
    bytes, never the pages).  Remaining limitation, deliberate:
    mid-file PAGE corruption under an intact footer still passes —
    catching it requires decoding every page (a full-file read per
    member, which at lake scale is the job itself, not a probe).
    That class surfaces at read time as a per-page decode error;
    the audit's injected corruption classes (truncation, zero-byte,
    alien bytes) are all footer-fatal and caught here."""
    import pyarrow.parquet as pq

    os.makedirs(dead_letter, exist_ok=True)
    moved = []
    for p in sorted(glob.glob(os.path.join(table_dir, "*"))):
        base = os.path.basename(p)
        if base.startswith("_"):
            continue
        ok = False
        if base.endswith(".parquet") and os.path.getsize(p) > 12:
            with open(p, "rb") as f:
                f.seek(-4, os.SEEK_END)
                ok = f.read(4) == b"PAR1"
            if ok:
                try:
                    pq.ParquetFile(p).metadata  # noqa: B018 — probe
                except Exception:  # noqa: BLE001 — any parse failure
                    ok = False
        if not ok:
            shutil.move(p, os.path.join(dead_letter, f"{base}.quarantined"))
            moved.append(base)
    return moved


def gzip_member_ok(path: str) -> bool:
    """Full-stream decode probe for a gzip member: decompress to
    exhaustion so the trailing CRC32/ISIZE is verified.  Catches
    truncation, zero-byte, and garbage; cost is one member scan —
    the same work any reader pays, since a gzip member is a
    whole-file decompression unit (non-splittable)."""
    import gzip as _gzip

    if os.path.getsize(path) == 0:
        return False
    try:
        with _gzip.open(path, "rb") as f:
            while f.read(1 << 20):
                pass
        return True
    except Exception:  # noqa: BLE001 — any decode failure is corrupt
        return False


def orc_member_ok(path: str) -> bool:
    """ORC probe mirroring the parquet PAR1+footer probe: the
    postscript's trailing "ORC" magic plus a pyarrow.orc metadata
    parse (footer bytes only, never the stripes).  Same documented
    limitation as parquet: mid-file STRIPE rot under an intact
    footer passes and surfaces at read time."""
    import pyarrow.orc as _orc

    if os.path.getsize(path) <= 16:
        return False
    # file layout ends: ...postscript ("ORC" magic last) + 1-byte
    # postscript length — so the magic sits at bytes [-4:-1]
    with open(path, "rb") as f:
        f.seek(-4, os.SEEK_END)
        if f.read(3) != b"ORC":
            return False
    try:
        _orc.ORCFile(path)  # parses postscript + footer
        return True
    except Exception:  # noqa: BLE001 — any parse failure is corrupt
        return False


def quarantine_by_probe(table_dir: str, dead_letter: str, suffix: str,
                        probe) -> list[str]:
    """Generic member quarantine: move every non-``_`` member that is
    not ``{suffix}``-named-and-probe-clean into the dead-letter
    directory.  The parquet path keeps its original quarantine();
    gz/orc reuse this shape with their format probes."""
    os.makedirs(dead_letter, exist_ok=True)
    moved = []
    for p in sorted(glob.glob(os.path.join(table_dir, "*"))):
        base = os.path.basename(p)
        if base.startswith("_"):
            continue
        if not (base.endswith(suffix) and probe(p)):
            shutil.move(p, os.path.join(dead_letter, f"{base}.quarantined"))
            moved.append(base)
    return moved


def format_contracts(spark, sf: str, pin) -> None:
    """Sections 5-8: the measured corrupt-FILE contract for plain
    CSV, gzip CSV, NDJSON and ORC (module docstring), plus the
    gz/orc quarantine recoveries."""
    import gzip as _gzip

    d = tempfile.mkdtemp(prefix="corrupt_formats_")
    con = duckdb.connect()
    clean_rows = con.execute(
        f"SELECT count(*) FROM '{sf}/nation.parquet'"
    ).fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{sf}/nation.parquet') "
        f"TO '{d}/nation.csv' (FORMAT CSV, HEADER)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{sf}/nation.parquet') "
        f"TO '{d}/nation.json' (FORMAT JSON)"
    )
    csv_b = open(f"{d}/nation.csv", "rb").read()
    json_b = open(f"{d}/nation.json", "rb").read()
    with _gzip.open(f"{d}/nation.csv.gz", "wb") as f:
        f.write(csv_b)
    gz_b = open(f"{d}/nation.csv.gz", "rb").read()
    garbage = bytes(range(256)) * 16

    def mk(name, data):
        with open(f"{d}/{name}", "wb") as f:
            f.write(data)
        return f"{d}/{name}"

    def s_csv(p):
        return spark.read.option("header", "true").csv(p).count()

    def d_csv(p):
        return con.execute(
            f"SELECT count(*) FROM read_csv('{p}', header=true)"
        ).fetchone()[0]

    # --- 5. plain CSV: torn tail is silent and UNDETECTABLE ---
    p = mk("t.csv", csv_b[: len(csv_b) // 2])
    sr, dr = _raises(lambda: s_csv(p)), _raises(lambda: d_csv(p))
    pin(sr is None and dr is None,
        "csv torn-tail: BOTH engines silent (no format-level detection)")
    ns, nd = s_csv(p), d_csv(p)
    pin(0 < ns < clean_rows and 0 < nd < clean_rows,
        f"csv torn-tail: silent PARTIAL prefix (spark {ns} / duckdb {nd}"
        f" of {clean_rows})")
    p = mk("z.csv", b"")
    pin(s_csv(p) == 0 and d_csv(p) == 0, "csv zero-byte: 0 rows on both")
    p = mk("g.csv", garbage)
    sr, dr = _raises(lambda: s_csv(p)), _raises(lambda: d_csv(p))
    pin(sr is None and dr is not None,
        f"csv garbage ENGINE SPLIT: spark silent-mangled, duckdb sniffer"
        f" raises ({dr})")

    # --- 6. gzip CSV: self-detecting, but engines check at different
    #        times; quarantine probe = full-stream decode ---
    p = mk("t.csv.gz", gz_b[: len(gz_b) // 2])
    sr = _raises(lambda p=p: s_csv(p))
    nd = d_csv(p)
    pin(sr is not None and nd < clean_rows,
        f"csvgz truncated ENGINE SPLIT: spark raises ({sr}), duckdb"
        f" SILENTLY returns the decoded prefix ({nd} rows)")
    p = mk("z.csv.gz", b"")
    sr, dr = _raises(lambda p=p: s_csv(p)), _raises(lambda p=p: d_csv(p))
    pin(sr is None and dr is not None,
        f"csvgz zero-byte inverted split: spark 0 rows, duckdb raises"
        f" ({dr})")
    p = mk("g.csv.gz", garbage)
    sr, dr = _raises(lambda p=p: s_csv(p)), _raises(lambda p=p: d_csv(p))
    pin(sr is not None and dr is not None,
        f"csvgz garbage: both raise ({sr}/{dr})")

    # gz quarantine recovery: 3 clean members + the 3 corrupt classes
    gzdir = f"{d}/gz_table"
    os.makedirs(gzdir)
    header, *lines = csv_b.decode().splitlines(keepends=False)
    third = (len(lines) + 2) // 3
    for i in range(3):
        part = lines[i * third:(i + 1) * third]
        with _gzip.open(f"{gzdir}/part-{i}.csv.gz", "wb") as f:
            f.write(("\n".join([header] + part) + "\n").encode())
    with open(f"{gzdir}/part-trunc.csv.gz", "wb") as f:
        f.write(gz_b[: len(gz_b) // 2])
    open(f"{gzdir}/part-zero.csv.gz", "wb").close()
    with open(f"{gzdir}/notes.txt", "w") as f:
        f.write("ops scratch note\n")
    moved = quarantine_by_probe(gzdir, f"{d}/_dead_gz", ".csv.gz",
                                gzip_member_ok)
    pin(set(moved) == {"part-trunc.csv.gz", "part-zero.csv.gz",
                       "notes.txt"},
        f"gz quarantine (full-decode probe): moved exactly {sorted(moved)}")
    got_s = s_csv(gzdir)
    got_d = con.execute(
        f"SELECT count(*) FROM read_csv('{gzdir}/*.csv.gz', header=true)"
    ).fetchone()[0]
    pin(got_s == clean_rows and got_d == clean_rows,
        f"post-quarantine gz dir: spark {got_s} / duckdb {got_d}"
        f" == clean {clean_rows}")

    # --- 7. NDJSON: Spark recovers via _corrupt_record, DuckDB raises ---
    p = mk("t.json", json_b[: len(json_b) // 2])
    sr = _raises(lambda p=p: spark.read.json(p).count())
    dr = _raises(lambda p=p: con.execute(
        f"SELECT count(*) FROM read_json('{p}')").fetchone())
    pin(sr is None and dr is not None,
        f"json torn-tail ENGINE SPLIT: spark PERMISSIVE-recovers"
        f" (torn line → _corrupt_record), duckdb raises ({dr})")
    cols = spark.read.json(p).columns
    pin("_corrupt_record" in cols,
        "json torn-tail: spark flags the torn line in _corrupt_record"
        " (silent-but-flagged, not silent-dropped)")
    p = mk("z.json", b"")
    pin(spark.read.json(p).count() == 0 and con.execute(
        f"SELECT count(*) FROM read_json('{p}')").fetchone()[0] == 0,
        "json zero-byte: 0 rows on both")
    p = mk("g.json", garbage)
    sr = _raises(lambda p=p: spark.read.json(p).count())
    dr = _raises(lambda p=p: con.execute(
        f"SELECT count(*) FROM read_json('{p}')").fetchone())
    pin(sr is None and dr is not None,
        f"json garbage ENGINE SPLIT: spark all-_corrupt_record rows,"
        f" duckdb raises ({dr})")

    # --- 8. ORC: footer-ed → Spark fail-fast; quarantine recovery ---
    orcdir = f"{d}/orc_table"
    spark.read.parquet(f"{sf}/nation.parquet").repartition(2) \
        .write.mode("overwrite").orc(orcdir)
    orc_file = sorted(glob.glob(f"{orcdir}/part-*.orc"))[0]
    orc_b = open(orc_file, "rb").read()
    for name, data in (("part-trunc.orc", orc_b[:-128]),
                       ("part-zero.orc", b""),
                       ("part-garbage.orc", garbage)):
        with open(f"{orcdir}/{name}", "wb") as f:
            f.write(data)
    for name in ("part-trunc.orc", "part-zero.orc", "part-garbage.orc"):
        sr = _raises(
            lambda name=name: spark.read.orc(f"{orcdir}/{name}").count())
        pin(sr is not None, f"spark single-file orc {name} raises ({sr})")
    sr = _raises(lambda: spark.read.orc(orcdir).count())
    pin(sr is not None, f"spark mixed orc dir default read raises ({sr})")
    moved = quarantine_by_probe(orcdir, f"{d}/_dead_orc", ".orc",
                                orc_member_ok)
    pin(set(moved) == {"part-trunc.orc", "part-zero.orc",
                       "part-garbage.orc"},
        f"orc quarantine (ORC magic + footer parse): moved {sorted(moved)}")
    got = spark.read.orc(orcdir).count()
    pin(got == clean_rows,
        f"post-quarantine orc dir: spark {got} == clean {clean_rows}"
        f" (duckdb: no ORC reader — capability gap, not corruption)")
    con.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--skip-sweep", action="store_true")
    ap.add_argument("--skip-formats", action="store_true")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from duckdb_hdfs_spark.session import get_spark

    spark = get_spark("corrupt-audit")
    spark.sparkContext.setLogLevel("FATAL")
    # raw footer reads below touch the nano-timestamp events file
    # before any load_table() has set the session's nanos handling
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    failures: list[str] = []

    def pin(cond: bool, what: str) -> None:
        print(("PIN  " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    # ---- 1. single-file fail-fast (both engines, three classes) ----
    single = tempfile.mkdtemp(prefix="corrupt_single_")
    clean = open(f"{args.sf}/nation.parquet", "rb").read()
    with open(f"{single}/trunc.parquet", "wb") as f:
        f.write(clean[:-TRUNCATE_TAIL])
    open(f"{single}/zero.parquet", "wb").close()
    with open(f"{single}/alien.parquet", "w") as f:
        f.write("n_nationkey,n_name\n0,oops\n")
    for name in ("trunc", "zero", "alien"):
        p = f"{single}/{name}.parquet"
        exc = _raises(lambda p=p: spark.read.parquet(p).count())
        pin(exc is not None, f"spark single-file {name} raises ({exc})")
        exc = _raises(
            lambda p=p: duckdb.sql(f"SELECT count(*) FROM '{p}'").fetchone()
        )
        pin(exc is not None, f"duckdb single-file {name} raises ({exc})")

    # ---- 2. mixed directory: default fail-fast + poisoned inference ----
    lake = build_corrupt_lake(args.sf, tempfile.mkdtemp(prefix="testdata_corrupt_"))
    print(f"corrupt lake at {lake} (4 clean parts + 3 bad members/table)",
          flush=True)
    probe = f"{lake}/nation.parquet"
    exc = _raises(lambda: spark.read.parquet(probe).count())
    pin(exc is not None, f"spark mixed-dir default read raises ({exc})")
    exc = _raises(
        lambda: duckdb.sql(
            f"SELECT count(*) FROM '{probe}/*.parquet'"
        ).fetchone()
    )
    pin(exc is not None, f"duckdb mixed-dir glob raises ({exc})")
    with _ignore_corrupt(spark):
        exc = _raises(lambda: spark.read.parquet(probe).count())
    pin(
        exc is not None,
        f"spark ignoreCorruptFiles WITHOUT schema still raises ({exc}) "
        "— schema inference is poisoned; recovery needs the catalog schema",
    )

    # ---- 3. engine-level bounded recovery: catalog schema + ignore ----
    with _ignore_corrupt(spark):
        for t in TABLES:
            want = duckdb.sql(
                f"SELECT count(*) FROM '{args.sf}/{t}.parquet'"
            ).fetchone()[0]
            catalog_schema = spark.read.parquet(f"{args.sf}/{t}.parquet").schema
            got = (
                spark.read.schema(catalog_schema)
                .parquet(f"{lake}/{t}.parquet")
                .count()
            )
            pin(got == want,
                f"recovery read {t}: {got} rows == clean {want}")

    # ---- 4. filesystem quarantine: both engines == clean baseline ----
    dead = os.path.join(lake, "_dead_letter")
    for t in TABLES:
        moved = quarantine(f"{lake}/{t}.parquet", dead)
        want_moved = {"notes.txt", "part-trunc.parquet", "part-zero.parquet"}
        pin(set(moved) == want_moved,
            f"quarantine {t}: moved exactly {sorted(want_moved)}")
        want = duckdb.sql(
            f"SELECT count(*) FROM '{args.sf}/{t}.parquet'"
        ).fetchone()[0]
        got_d = duckdb.sql(
            f"SELECT count(*) FROM '{lake}/{t}.parquet/*.parquet'"
        ).fetchone()[0]
        got_s = spark.read.parquet(f"{lake}/{t}.parquet").count()
        pin(got_d == want and got_s == want,
            f"post-quarantine {t}: duckdb {got_d} / spark {got_s} == {want}")

    # ---- 5. full-registry parity sweep over the quarantined lake ----
    if not args.skip_sweep:
        from duckdb_hdfs_spark.audit import CLASSES
        from duckdb_hdfs_spark.oracle import CompareResult, compare, duckdb_connection
        from duckdb_hdfs_spark.queries import load_all

        reg = load_all()
        keys = [k for k in (args.keys or list(reg)) if k in reg]
        layout_defined = CLASSES["filesplit"].skip
        for name in sorted(layout_defined & set(keys)):
            print(f"SKIP {name} (the file layout IS the contract — see the filesplit audit class)")
        keys = [k for k in keys if k not in layout_defined]
        con = duckdb_connection(lake)
        bad_sweep, n = [], 0
        for name in keys:
            qd = reg[name]
            try:
                r = compare(name, qd.spark(spark, lake), con, qd.oracle)
            except Exception as e:  # noqa: BLE001
                r = CompareResult(name, False, -1, -1,
                                  [f"exception: {e!r:.300}"])
            n += 1
            if not r.ok:
                bad_sweep.append(r)
                failures.append(f"sweep {name}")
        print(f"post-recovery sweep: {n - len(bad_sweep)}/{n} green",
              flush=True)
        for r in bad_sweep:
            print(f"FAIL sweep {getattr(r, 'name', r)} :: {str(r)[:400]}")

    # ---- 5-8. corrupt-file contracts for CSV / gz / JSON / ORC ----
    if not args.skip_formats:
        format_contracts(spark, args.sf, pin)

    print(("ALL GREEN" if not failures else f"{len(failures)} FAILURES"),
          flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
