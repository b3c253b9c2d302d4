"""Ingest-rule tests (sources/ingest.py): the four audit-measured
contracts as code — replay dedupe, dimension enforcement, finite
measures, non-finite vector quarantine — plus an equivalence check
that the Spark-side FINITE_MEASURES implementation produces exactly
the corpus the NaN/Inf audit's DuckDB rule-filter produces (the two
formulations of the rule can never drift apart silently)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_hdfs_spark import audit
from duckdb_hdfs_spark.sources.ingest import (
    dedupe_replays,
    enforce_dimension,
    finite_measures,
    quarantine_nonfinite_vectors,
)

NAN, INF = float("nan"), float("inf")


def test_dedupe_replays_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (1, "a", 10.0),  # exact twin (at-least-once replay)
            (2, "b", 5.0),
            (2, "c", 7.0),  # differing twin — survivor must be max-order
            (3, "d", None),
        ],
        "k int, tag string, v double",
    )
    out = dedupe_replays(df, ["k"], order_cols=[F.col("v"), F.col("tag")])
    got = {r.k: (r.tag, r.v) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("c", 7.0), 3: ("d", None)}
    # repeated runs pick the same survivor (determinism, not luck)
    for _ in range(3):
        again = dedupe_replays(
            df.repartition(5), ["k"], order_cols=[F.col("v"), F.col("tag")]
        )
        assert {r.k: (r.tag, r.v) for r in again.collect()} == got


def test_dedupe_replays_key_only_frame(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    assert sorted(r.k for r in dedupe_replays(df, ["k"]).collect()) == [1, 2]


def test_enforce_dimension(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0]), (3, None), (4, [3.0, 4.0])],
        "id int, v array<double>",
    )
    assert sorted(r.id for r in enforce_dimension(df, "v", 2).collect()) == [1, 4]


def test_finite_measures_scalars(spark):
    df = spark.createDataFrame(
        [(1, 1.5), (2, NAN), (3, INF), (4, -INF), (5, None), (6, 0.0)],
        "id int, m double",
    )
    got = {r.id: r.m for r in finite_measures(df, ["m"]).collect()}
    assert got[1] == 1.5 and got[6] == 0.0
    assert got[2] is None and got[3] is None and got[4] is None and got[5] is None


def test_quarantine_nonfinite_vectors(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [NAN, 1.0]),
            (3, [1.0, INF]),
            (4, None),
            (5, [0.0, -1.0]),
        ],
        "id int, v array<double>",
    )
    assert sorted(
        r.id for r in quarantine_nonfinite_vectors(df, "v").collect()
    ) == [1, 5]


# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def nf_dirs(sf_dir, tmp_path_factory):
    dirs = audit.build("naninf", sf_dir, str(tmp_path_factory.mktemp("ing_nf")))
    return dirs.perturbed, dirs.rule


def test_finite_measures_matches_audit_rule_scalars(spark, nf_dirs):
    """Spark finite_measures over the RAW injected copy ==
    the audit's DuckDB-side rule-filtered parquet, row for row."""
    raw, fin = nf_dirs
    got = (
        finite_measures(spark.read.parquet(f"{raw}/events.parquet"), ["value"])
        .orderBy("event_id")
        .select("event_id", "value")
        .collect()
    )
    want = (
        spark.read.parquet(f"{fin}/events.parquet")
        .orderBy("event_id")
        .select("event_id", "value")
        .collect()
    )
    assert len(got) == len(want) > 0
    for a, b in zip(got, want):
        assert a.event_id == b.event_id
        assert (a.value is None) == (b.value is None)
        if a.value is not None:
            assert a.value == b.value


def test_vector_quarantine_matches_audit_rule(spark, nf_dirs):
    raw, fin = nf_dirs
    got = sorted(
        r.vec_id
        for r in quarantine_nonfinite_vectors(
            spark.read.parquet(f"{raw}/embeddings.parquet"), "embedding"
        ).collect()
    )
    want = sorted(
        r.vec_id for r in spark.read.parquet(f"{fin}/embeddings.parquet").collect()
    )
    assert got == want and len(got) > 0
    n_raw = spark.read.parquet(f"{raw}/embeddings.parquet").count()
    assert len(got) < n_raw  # the injection really poisoned some vectors
