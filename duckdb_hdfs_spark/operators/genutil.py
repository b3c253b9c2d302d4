"""Generator (explode) utilities.

``explode_nonnull_elems`` works around a Catalyst behavior that silently
doubles the most expensive map phase of a pipeline: for
``Generate explode(expr)``, the rule **InferFiltersFromGenerate**
adds an inferred ``size(expr) > 0 AND expr IS NOT NULL`` filter, and
predicate pushdown then shoves that filter — carrying the FULL
generator expression — below every intervening Project and
Repartition, all the way into the scan.  For a cheap generator
that's a win (skip rows early); for an expensive one (tokenize →
k-gram build → md5) it means the whole expression is evaluated
TWICE, and the pushed copy lands BELOW any rebalance exchange — on
the scan's parallelism, i.e. one effective task on a
single-row-group file, and on every scan task at any scale.

Round-11 measurements (interleaved A/B at sf0.1, rows identical):
dedup_minhash_lsh 2.14 → 1.51s (the inferred shingle filter was the
0.66s single-task pre-pass the stage profiler surfaced);
dedup_substring_spans and text_tfidf_topk carry the same shape.

The workaround: ``explode_outer`` / ``posexplode_outer`` admit NO
inferred filter (they drop no rows), followed by an explicit
``IS NOT NULL`` filter on the generator OUTPUT — row-identical to
plain explode whenever the generator's arrays never contain NULL
elements (true for every call site here: token/shingle/gram arrays
are built from concat/array_join over non-null text).  The output
filter cannot be pushed below the Generate, so the expensive
expression is evaluated exactly once, after any rebalance.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = [
    "explode_nonnull_elems",
    "local_frame",
    "parallel_checkpoints",
    "posexplode_nonnull_elems",
]


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s
    field order), built as an Arrow table so it plans a
    ``LocalTableScan``.  The only way the package turns Python rows
    into a frame: ``createDataFrame(<list>, schema)`` plans a ``Scan
    ExistingRDD`` over a pickled Python RDD, and running it forks
    Python workers (0.3-0.5 s for a 120-row listing, against ~0.05 s
    as a local relation).  Column names, types and nullability are
    ``schema``'s; zero rows give an empty frame with that schema."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def parallel_checkpoints(*dfs: DataFrame) -> list[DataFrame]:
    """Eagerly ``localCheckpoint`` several INDEPENDENT DataFrames with
    their materialization jobs overlapped (guide §2.6 "overlap
    independent jobs": actions are only sequential because driver code
    calls them sequentially).  Multi-arm evals materialize 3-6
    independent small intermediates back to back — each an eager
    checkpoint job whose cluster occupancy is far below full — and the
    serial chain was the dominant cost of their DataFrame construction
    (sim_recall_eval: 4.3 s of 7 s build inside sequential
    localCheckpoint calls, round-14 profile).  Threads return the
    checkpointed frames in input order; Spark's scheduler interleaves
    the jobs (FIFO back-fill).  Callers pass only MUTUALLY INDEPENDENT
    frames — a frame depending on another's checkpoint must stay in a
    later wave.  The workers inherit the caller's local properties (job
    group, description, scheduler pool) and job tags, so cancelling or
    tagging the caller's jobs covers the checkpoint jobs too."""
    if len(dfs) <= 1:
        return [df.localCheckpoint(eager=True) for df in dfs]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    checkpoint = inheritable_thread_target(dfs[0].sparkSession)(
        lambda df: df.localCheckpoint(eager=True)
    )
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(checkpoint, dfs))


def explode_nonnull_elems(
    df: DataFrame, gen: Column, alias: str, *keep: str | Column
) -> DataFrame:
    """``df.select(*keep, explode(gen).alias(alias))`` without the
    InferFiltersFromGenerate double evaluation (module docstring).

    PRECONDITION (now in the name — round-12 advice): the generator's
    arrays must never hold NULL ELEMENTS.  Plain ``explode`` emits a
    row for a NULL element; this helper's post-Generate IS NOT NULL
    filter would silently drop it.  Every current call site builds
    token/shingle/gram arrays from concat/array_join over non-null
    text, where NULL elements are impossible by construction — a
    future call site with nullable elements must use plain explode
    (and eat the double evaluation) or pre-coalesce its elements."""
    return df.select(*keep, F.explode_outer(gen).alias(alias)).filter(
        F.col(alias).isNotNull()
    )


def posexplode_nonnull_elems(
    df: DataFrame, gen: Column, pos_alias: str, alias: str, *keep: str | Column
) -> DataFrame:
    """posexplode variant of :func:`explode_nonnull_elems`."""
    return df.select(
        *keep, F.posexplode_outer(gen).alias(pos_alias, alias)
    ).filter(F.col(alias).isNotNull())
