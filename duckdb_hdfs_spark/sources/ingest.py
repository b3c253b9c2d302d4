"""Ingest-time data rules — the four contracts the adversarial
audits measured (rounds 9-11), consolidated as CODE.

Each rule exists because a class of corrupt-but-plausible input has
NO operator-level fix: the damage is either engine-contract-split
(no cross-engine-consistent formulation exists) or state-poisoning
(one bad row corrupts unrelated rows' results).  The production
posture is therefore a cheap, pure map-side gate AT INGEST — applied
once where data enters, never re-paid per operator (an in-operator
guard would cost an extra pass/shuffle in EVERY downstream op at
100 TB).

The audits that measured each rule's necessity (``audit.CLASSES``,
all full-registry green under the rule):

- REPLAY-DEDUPE (the ``dup`` class's rule, round 10): at-least-once
  delivery leaves exact full-row twins; key-identity operators
  (candidate pairing, probe selection, centroid seeding) treat the
  id as the entity and legitimately disagree cross-engine on
  multiplicities.  Rule: one row per key at ingest.
- DIMENSION ENFORCEMENT (the ``ragged`` class's rule, round 10): a
  crashed writer / mid-migration table mixes embedding dims;
  PQ subspaces, per-dimension panels and eigenbases assume one d.
  Rule: keep exactly the contracted dimensionality.
- FINITE_MEASURES (the ``naninf`` class's rule, round 11): Spark canonical-NaN
  groups/sorts and DECIMAL-casts to NULL where DuckDB raises —
  engine contracts, not bugs.  Rule: non-finite scalars → NULL (the
  NULL lane every operator provably handles); vectors with any
  non-finite component → quarantined.
- EVENT-TIME CLAMP (the ``ts_extreme`` class, rounds
  10-11): one far-future timestamp advances a stream's watermark
  past the entire real stream and mass-drops live sessions
  (measured 450 vs 828).  Rule: clamp event time at now + slack
  BEFORE any watermark — implemented in
  streaming/pipelines.clamp_event_time and re-exported here.

Every rule is a pure projection/filter: no shuffle, no state, cost
one expression per row at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_hdfs_spark.streaming.pipelines import clamp_event_time

__all__ = [
    "clamp_event_time",
    "dedupe_replays",
    "enforce_dimension",
    "finite_measures",
    "quarantine_nonfinite_vectors",
]


def dedupe_replays(
    df: DataFrame, key_cols: list[str], order_cols: list[Column] | None = None
) -> DataFrame:
    """One row per key (REPLAY-DEDUPE).  With ``order_cols`` the
    survivor is the max by that total order — deterministic under
    twins that differ in non-key columns (round-11 advice on
    cdc_incremental_agg); without, an arbitrary survivor
    (output-invariant only for EXACT twins, the at-least-once case).

    Shape: groupBy + max_by — map-side partial aggregation collapses
    replays before the shuffle; state is one struct per key (same
    100 TB profile as dropDuplicates, plus determinism)."""
    payload = [c for c in df.columns if c not in key_cols]
    if not payload:
        return df.dropDuplicates(key_cols)
    if order_cols is None:
        agg = F.first(F.struct(*payload)).alias("_p")
    else:
        agg = F.max_by(F.struct(*payload), F.struct(*order_cols)).alias("_p")
    return df.groupBy(*key_cols).agg(agg).select(
        *key_cols, *[F.col(f"_p.{c}").alias(c) for c in payload]
    )


def enforce_dimension(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Keep exactly the contracted embedding dimensionality
    (DIMENSION ENFORCEMENT): ragged vectors are malformed input for
    fixed-d operators (PQ subspaces, dimension panels, eigenbases).
    NULL vectors are dropped too — a fixed-d operator has no NULL
    lane for the vector itself."""
    return df.filter(F.size(F.col(vec_col)) == dim)


def finite_measures(df: DataFrame, measure_cols: list[str]) -> DataFrame:
    """Non-finite scalars → NULL (FINITE_MEASURES): NaN/±Inf join
    the NULL lane (NULL-excluded aggregates, nullif guards) instead
    of splitting engines at the first DECIMAL cast or NaN group.
    ``isnan`` only accepts double-typed input, so the check casts —
    a no-op on the double measure columns this rule targets."""
    out = df
    for c in measure_cols:
        d = F.col(c).cast("double")
        out = out.withColumn(
            c,
            F.when(
                d.isNull() | F.isnan(d) | (F.abs(d) == float("inf")),
                F.lit(None),
            ).otherwise(F.col(c)),
        )
    return out


def quarantine_nonfinite_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop vectors carrying ANY non-finite component
    (FINITE_MEASURES, vector half): one NaN poisons every inner
    product it touches, and a NULLed-out vector would be a new
    degenerate rather than a proven lane — so the row is routed out
    (in production: to a dead-letter table)."""
    bad = F.exists(
        F.col(vec_col),
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == float("inf")),
    )
    return df.filter(F.col(vec_col).isNotNull() & ~bad)
