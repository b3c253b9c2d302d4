"""Scan-parallelism rebalancing for CPU-heavy derivation stages.

Spark's file-scan parallelism is bounded by splits = files x row
groups.  A single-file / single-row-group input (how a small dimension
extract or a freshly-ingested file can arrive on a real cluster)
therefore runs its ENTIRE map phase on one task, no matter how many
cores the cluster has.  For cheap map work that is irrelevant; for
CPU-bound derivations (per-shingle md5 in MinHash, per-element vector
folds in similarity scoring) it serializes the stage.

:func:`rebalance_cpu_heavy` fixes exactly that case and ONLY that
case, with a GRADED plan-only sizing rule (no job runs): the slot
count is proportional to the Catalyst size estimate — one slot per
``bytes_per_slot`` of (compressed, column-pruned) input, capped at the
session's core count — and the exchange is added only when that grade
at least doubles the scan's existing parallelism.

Splits that carry rows.  Spark cuts a file into byte-range splits
regardless of its row groups, and a parquet row group is read by the
one split that holds its midpoint — the others read nothing.  A
single-row-group file of a few MB therefore plans several splits
(lineitem at sf0.1 plans 3 on 4 cores) but runs on one task.  When
the split count ``s`` fails the guard (``s * 2 > cores``) but
``s <= cores``, a footer probe bounds ``s`` by the number of row
groups in the frame's input files and applies the guard again.  Its
limits:

- it reads footers only (one ``ParquetFileReader.readFooter`` per
  file, driver-side; no Spark job) and only in that band, and only
  when the frame grades to 2 or more slots (so never on one core) —
  a frame with ``s * 2 <= cores`` never pays for it, and
  ``s > cores`` exits before any listing;
- it gives up, keeping the old answer (no exchange), when any leaf of
  the plan is not a parquet file relation, when the inputs are more
  files than cores, or when a footer read fails;
- it counts row groups over all the relation's files, so a filter
  that prunes files only makes it more conservative.

Calibration history (measured on the sf0.1 bench set, local[32]):

- round 3: an UNCONDITIONAL ``repartition(defaultParallelism)`` made
  the MinHash / brute-force headliners 22-50% slower at sf0.01-ish
  volumes — 32 tasks of sub-millisecond work cost more in scheduling
  and broken scan→join codegen pipelining than the serial map phase.
  That round answered with an all-or-nothing 4 MiB/slot volume gate.
- round 7: the all-or-nothing gate was measured to over-correct — the
  sf0.1 documents scan (254 KB compressed estimate, ONE task) carries
  ~0.85 s of single-threaded shingle+md5 work, and the 4 MiB gate
  refused to parallelize it; a ~10-slot repartition cuts the full
  MinHash-LSH query 30-43% (1.45 s → 0.83-0.99 s median-of-5).  The
  graded rule below lands on exactly that slot count from the size
  estimate alone, and still grades sf0.001/sf0.01 inputs to one slot
  (no exchange — preserving the round-3 result).
- footer probe (4-core host): lineitem's single row group plans 3
  byte-range splits at sf0.1, which the guard counted as parallel
  enough.  Counting row-carrying splits grades it to 4 slots, and
  ``fs_typed_roundtrip`` went 3.35 → 2.66 s (median key wall, 10
  interleaved perfbench pairs).  Building every registry key on the
  sf0.1 test data, 46 keys reach this function and the probe changes
  the answer for ``fs_typed_roundtrip`` alone: 43 already repartition
  their one-split scans, and ``pipeline_corpus_release`` and
  ``text_tfidf_topk`` still skip.  No key of ``olap_interactive``
  reaches it.

At 100 TB neither path fires: thousands of row-group splits already
exceed ``2 * cores``, so the parallelism guard exits first and the
operators stay single-shuffle.  The case the grade exists for is the
real one: a single ~1 GB unsplittable fresh-ingest file whose
md5-heavy map phase would otherwise run serially.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

#: Catalyst-estimated (compressed, column-pruned) bytes per target
#: slot.  Empirically ~3.5 s/MB of single-threaded shingle-md5 work
#: on the documents table → ~80 ms of CPU per 24 KiB slot, an order
#: of magnitude past the ~5-10 ms per-task scheduling cost a tiny
#: narrow-row exchange adds.  Inputs smaller than ``2 * slot`` bytes
#: grade to one slot and are never repartitioned.
BYTES_PER_SLOT = 24 << 10


def _parquet_files(df: DataFrame, most: int) -> list[str] | None:
    """The input files of ``df`` when every leaf of its plan is a
    parquet file relation and they number at most ``most``, else
    None.  Plan-only (no job runs)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation" or (
            rel.toString() != "parquet"
        ):
            return None
        found.append(rel.location().inputFiles())
    if sum(len(a) for a in found) > most:
        return None
    return [f for a in found for f in a]


def _row_groups(df: DataFrame, path: str) -> int:
    """Row groups in the parquet file at ``path``, from its footer."""
    sc = df.sparkSession.sparkContext
    gw = sc._gateway._gateway_client
    jpath = JavaClass("org.apache.hadoop.fs.Path", gw)(path)
    reader = JavaClass("org.apache.parquet.hadoop.ParquetFileReader", gw)
    return reader.readFooter(sc._jsc.hadoopConfiguration(), jpath).getBlocks().size()


def _row_carrying_splits(df: DataFrame, splits: int, cores: int) -> int:
    """``splits`` bounded by the row groups of ``df``'s parquet input
    files — a split that holds no row group's midpoint reads no rows —
    or ``splits`` unchanged when the inputs are not all parquet, are
    more files than ``cores``, or a footer cannot be read."""
    files = _parquet_files(df, cores)
    if not files:
        return splits
    try:
        groups = sum(_row_groups(df, f) for f in files)
    except Py4JError:
        return splits
    return min(splits, max(groups, 1))


def rebalance_cpu_heavy(
    df: DataFrame, bytes_per_slot: int = BYTES_PER_SLOT
) -> DataFrame:
    """Repartition ``df`` for a CPU-bound map phase iff the graded
    slot count (size estimate / ``bytes_per_slot``, capped at the
    session's cores) is at least 2 and at least DOUBLES the current
    scan parallelism — counted in splits that carry rows (module
    docstring).  Every probe is plan-only or a footer read (no job
    runs)."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current > cores:
        return df
    est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est_bytes > 1 << 50:
        # stats-less leaf plans (LogicalRDD, createDataFrame over an
        # RDD) report spark.sql.defaultSizeInBytes ≈ Long.MaxValue —
        # an UNKNOWN, not a measurement; grading it would repartition
        # tiny frames to full core count (round-7 review finding).
        # A real >1 PiB input always has splits >> cores and exits at
        # the parallelism guard above, so treating huge as unknown
        # costs nothing.
        return df
    slots = min(est_bytes // bytes_per_slot, cores)
    if slots >= 2 and current * 2 > cores:
        # The split guard below would skip; only here can counting
        # the splits that carry rows change its answer.
        current = _row_carrying_splits(df, current, cores)
    if slots < current * 2:
        return df
    return df.repartition(slots)
