"""distributed_ntile == global-window ntile, across row-allocation
edge cases (n mod k = 0..3, n < k, duplicate metric values, desc)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_hdfs_spark.operators.ranks import distributed_ntile


def _frame(spark, n: int):
    # duplicate-heavy metric (id % 7) so range-bucket bounds collide
    # and ties span would-be bucket edges; id is the unique tiebreak
    return spark.range(n).select(
        F.col("id").alias("key"), (F.col("id") % 7).cast("bigint").alias("metric")
    )


@pytest.mark.parametrize("n", [1, 3, 4, 5, 6, 7, 103])
@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_distributed_ntile_matches_global(spark, n, direction):
    df = _frame(spark, n)
    got = {
        r["key"]: r["t"]
        for r in distributed_ntile(
            df, [("metric", direction), ("key", "asc")], "t", n_ranges=4
        ).collect()
    }
    order = (
        [F.desc("metric"), F.asc("key")]
        if direction == "desc"
        else [F.asc("metric"), F.asc("key")]
    )
    want = {
        r["key"]: r["t"]
        for r in df.select(
            "key", F.ntile(4).over(Window.orderBy(*order)).cast("bigint").alias("t")
        ).collect()
    }
    assert got == want


def test_distributed_ntile_constant_metric(spark):
    """Degenerate case: every row ties on the lead metric, so all
    range bounds collide and one bucket holds everything — the
    allocation must still match SQL ntile exactly (tiebreaker order
    drives it)."""
    df = spark.range(37).select(
        F.col("id").alias("key"), F.lit(5).cast("bigint").alias("metric")
    )
    got = {
        r["key"]: r["t"]
        for r in distributed_ntile(
            df, [("metric", "asc"), ("key", "asc")], "t", n_ranges=8
        ).collect()
    }
    want = {
        r["key"]: r["t"]
        for r in df.select(
            "key",
            F.ntile(4)
            .over(Window.orderBy(F.asc("metric"), F.asc("key")))
            .cast("bigint")
            .alias("t"),
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("prune", [None, 40])
def test_grouped_cumsum_matches_window(spark, prune):
    from duckdb_hdfs_spark.operators.ranks import grouped_cumsum

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.col("id").alias("key"),
        (F.col("id") % 11).cast("bigint").alias("metric"),
        (F.col("id") % 5 + 1).cast("bigint").alias("v"),
    )
    got = {
        (r["grp"], r["key"]): r["c"]
        for r in grouped_cumsum(
            df,
            ["grp"],
            [("metric", "desc"), ("key", "asc")],
            "v",
            "c",
            n_ranges=4,
            prune_above=prune,
        ).collect()
        if prune is None or r["c"] <= prune
    }
    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("metric"), F.asc("key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["grp"], r["key"]): r["c"]
        for r in df.select("grp", "key", F.sum("v").over(w).alias("c")).collect()
        if prune is None or r["c"] <= prune
    }
    assert got == want


def test_distributed_ntile_no_global_window(spark):
    """Every Window in the plan must be partitioned by the range
    bucket — the whole point of the operator."""
    df = distributed_ntile(
        _frame(spark, 50), [("metric", "asc"), ("key", "asc")], "t"
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        s = line.lstrip(" +-:")
        if s.startswith("Window "):
            assert "__bkt" in s, f"global window in plan: {s[:120]}"


@pytest.mark.parametrize("metric_expr", ["id % 7", "0"])
def test_grouped_cumsum_constant_group(spark, metric_expr):
    """The constant-group form (global running total with no natural
    partition key) used by corpus_shard_planner / corpus_vocab_growth
    / orders_abc_class — including the fully-degenerate case where
    every lead-order value ties (metric ≡ 0: all rows land in ONE
    range bucket; correctness must survive, only load balance
    degrades)."""
    from duckdb_hdfs_spark.operators.ranks import grouped_cumsum

    df = spark.range(300).select(
        F.lit(1).alias("__g"),
        F.col("id").alias("key"),
        F.expr(metric_expr).cast("bigint").alias("metric"),
        (F.col("id") % 13 + 1).cast("bigint").alias("v"),
    )
    got = {
        r["key"]: r["c"]
        for r in grouped_cumsum(
            df,
            ["__g"],
            [("metric", "asc"), ("key", "asc")],
            "v",
            "c",
            n_ranges=8,
        ).collect()
    }
    w = Window.orderBy(F.asc("metric"), F.asc("key")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["key"]: r["c"]
        for r in df.select("key", F.sum("v").over(w).alias("c")).collect()
    }
    assert got == want


def test_halo_range_frame_matches_global_window(spark, sf_dir):
    """halo_range_frame must be bit-identical to the naive
    PARTITION BY + RANGE window it replaces (round 7), across bucket
    widths — including widths SMALLER than the frame span (every row
    replicates to 3+ buckets) and a width so large all rows share one
    bucket (degenerates to the naive shape)."""
    from pyspark.sql import Window

    from duckdb_hdfs_spark.operators.ranks import halo_range_frame
    from duckdb_hdfs_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    naive_w = Window.partitionBy("event_type").orderBy("value").rangeBetween(-5, 5)
    naive = ev.select(
        "event_id",
        F.count(F.lit(1)).over(naive_w).alias("n"),
        F.round(F.sum("value").over(naive_w), 4).alias("s"),
    )
    want = sorted(map(tuple, naive.collect()))
    for width in (4, 32, 10**9):
        got = halo_range_frame(
            ev,
            ["event_type"],
            "value",
            -5,
            5,
            lambda w: [
                F.count(F.lit(1)).over(w).alias("n"),
                F.round(F.sum("value").over(w), 4).alias("s"),
            ],
            bucket_width=width,
        ).select("event_id", "n", "s")
        assert sorted(map(tuple, got.collect())) == want, f"width={width}"


def test_halo_range_frame_null_values(spark):
    """NULL value rows must survive halo_range_frame as their own
    peer group, exactly as the naive window keeps them — the bare
    sequence bound would silently drop them at the explode
    (round-7 review)."""
    rows = [("p", 1.0, 0), ("p", None, 1), ("p", 2.0, 2), ("p", None, 3),
            ("q", None, 4), ("q", 5.0, 5)]
    df = spark.createDataFrame(rows, "part string, value double, rid long")
    naive_w = Window.partitionBy("part").orderBy("value").rangeBetween(-5, 5)
    want = sorted(
        map(tuple, df.select(
            "rid", F.count(F.lit(1)).over(naive_w).alias("n")
        ).collect())
    )
    from duckdb_hdfs_spark.operators.ranks import halo_range_frame

    got = sorted(
        map(tuple, halo_range_frame(
            df, ["part"], "value", -5, 5,
            lambda w: [F.count(F.lit(1)).over(w).alias("n")],
            bucket_width=4,
        ).select("rid", "n").collect())
    )
    assert got == want


def test_distributed_ntile_desc_nulls_rank_last(spark):
    """Under desc ordering, NULL lead values must rank LAST (Spark's
    desc default is NULLS LAST) — the bare size(filter(bounds))
    bucket expression put them in bucket 0, ranking them before the
    tail values (round-7 review).  Pinned against the global window
    with enough rows that the range bucketing actually splits."""
    rows = [(float(i), i) for i in range(40)] + [(None, 100), (None, 101)]
    df = spark.createDataFrame(rows, "v double, rid long")
    w = Window.orderBy(F.desc("v"), F.asc("rid"))
    want = {
        r.rid: r.t
        for r in df.withColumn("t", F.ntile(4).over(w)).collect()
    }
    got = {
        r.rid: r.q
        for r in distributed_ntile(
            df, [("v", "desc"), ("rid", "asc")], out="q", n_buckets=4,
            n_ranges=8,
        ).collect()
    }
    assert got == want
    assert got[100] == 4 and got[101] == 4


def test_halo_range_frame_following_only(spark):
    """A frame that does not straddle zero (1 FOLLOWING .. 5
    FOLLOWING) must keep every row — the unclamped sequence bounds
    excluded the home bucket, so rows silently vanished (round-7
    review)."""
    rows = [("p", float(v), i) for i, v in enumerate(range(0, 100, 3))]
    df = spark.createDataFrame(rows, "part string, value double, rid long")
    naive_w = Window.partitionBy("part").orderBy("value").rangeBetween(1, 5)
    want = sorted(
        map(tuple, df.select(
            "rid", F.count(F.lit(1)).over(naive_w).alias("n")
        ).collect())
    )
    from duckdb_hdfs_spark.operators.ranks import halo_range_frame

    got = sorted(
        map(tuple, halo_range_frame(
            df, ["part"], "value", 1, 5,
            lambda w: [F.count(F.lit(1)).over(w).alias("n")],
            bucket_width=8,
        ).select("rid", "n").collect())
    )
    assert got == want


def test_halo_range_frame_large_magnitude_values(spark):
    """Epoch-microsecond-scale values over a small bucket_width push
    the replication-bound quotient to ~1.7e12 buckets, where double
    rounding error (~|q|·2⁻⁵²) dwarfs the old absolute 1e-9 nudge —
    a frame member could fail to replicate into a core row's bucket
    and the aggregate went silently wrong (round-7 advisor, medium).
    The relative epsilon must keep bit-identity to the naive window."""
    base = 1_700_000_000_000_000  # ~2023 in epoch micros
    rows = [
        ("p" if i % 3 else "q", float(base + i * 250), i) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "part string, value double, rid long")
    naive_w = (
        Window.partitionBy("part").orderBy("value").rangeBetween(-500, 500)
    )
    want = sorted(
        map(tuple, df.select(
            "rid",
            F.count(F.lit(1)).over(naive_w).alias("n"),
            F.round(F.sum("value").over(naive_w), 4).alias("s"),
        ).collect())
    )
    from duckdb_hdfs_spark.operators.ranks import halo_range_frame

    got = sorted(
        map(tuple, halo_range_frame(
            df, ["part"], "value", -500, 500,
            lambda w: [
                F.count(F.lit(1)).over(w).alias("n"),
                F.round(F.sum("value").over(w), 4).alias("s"),
            ],
            bucket_width=1000,
        ).select("rid", "n", "s").collect())
    )
    assert got == want


def test_halo_range_frame_far_offset_frame_cancellation(spark):
    """A frame whose offsets are comparable to the value magnitude
    (two value clusters ~1.7e15 apart, frame reaching from one to the
    other) makes ``v - hi`` catastrophically cancel: the quotient is
    tiny but its absolute error is ~ulp(1.7e15)/W ≈ 6e-5 buckets —
    far above both the old absolute 1e-9 nudge AND a quotient-scaled
    one (round-8 review).  The operand-magnitude nudge must keep
    bit-identity to the naive window."""
    base = 1_700_000_000_000_000
    low = [float(u) for u in range(0, 4000, 37)]
    high = [float(base + i) for i in range(-2000, 2001, 31)]
    rows = [("p", v, i) for i, v in enumerate(low + high)]
    df = spark.createDataFrame(rows, "part string, value double, rid long")
    lo, hi = base - 2000, base + 2000
    naive_w = (
        Window.partitionBy("part").orderBy("value").rangeBetween(lo, hi)
    )
    want = sorted(
        map(tuple, df.select(
            "rid", F.count(F.lit(1)).over(naive_w).alias("n")
        ).collect())
    )
    from duckdb_hdfs_spark.operators.ranks import halo_range_frame

    got = sorted(
        map(tuple, halo_range_frame(
            df, ["part"], "value", lo, hi,
            lambda w: [F.count(F.lit(1)).over(w).alias("n")],
            bucket_width=4000,
        ).select("rid", "n").collect())
    )
    assert got == want


def test_halo_range_frame_rejects_nonpositive_width(spark):
    """bucket_width <= 0 must raise ValueError at the call site, not
    NaN/reversed sequences that silently drop rows downstream
    (round-7 advisor)."""
    import pytest

    from duckdb_hdfs_spark.operators.ranks import halo_range_frame

    df = spark.createDataFrame([("p", 1.0, 0)], "part string, value double, rid long")
    for bad in (0, -4.0):
        with pytest.raises(ValueError, match="bucket_width"):
            halo_range_frame(
                df, ["part"], "value", -5, 5,
                lambda w: [F.count(F.lit(1)).over(w).alias("n")],
                bucket_width=bad,
            )


def test_grouped_cumsum_keeps_null_group_rows(spark):
    """A NULL group key is its own partition in window semantics;
    the operator's internal equi-joins must be null-safe or those
    rows silently vanish (round-7 review)."""
    from duckdb_hdfs_spark.operators.ranks import grouped_cumsum

    rows = [("en", 1, 10), ("en", 2, 20), (None, 1, 5), (None, 3, 7)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    out = grouped_cumsum(df, ["g"], [("k", "asc")], val="v", out="cum")
    got = {(r.g, r.k): r.cum for r in out.collect()}
    assert got == {("en", 1): 10, ("en", 2): 30, (None, 1): 5, (None, 3): 12}


# --------------------------------------------------------------------------
@pytest.mark.parametrize("n", [1, 2, 7, 24])
@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_panel_rank_matches_global_row_number(spark, n, direction):
    """panel_rank == row_number over the same total order, across
    panel sizes, duplicate lead values, and both directions."""
    from duckdb_hdfs_spark.operators.ranks import panel_rank

    df = _frame(spark, n)
    got = {
        r["key"]: r["rk"]
        for r in panel_rank(
            df, [("metric", direction), ("key", "asc")], "rk"
        ).collect()
    }
    order = [
        F.col("metric").desc() if direction == "desc" else F.col("metric").asc(),
        F.col("key").asc(),
    ]
    want = {
        r["key"]: r["rk"]
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_panel_rank_three_level_order(spark):
    """Lexicographic strictly-earlier predicate composes correctly
    past two levels (the eq-prefix chain)."""
    from duckdb_hdfs_spark.operators.ranks import panel_rank

    df = spark.range(24).select(
        (F.col("id") % 2).alias("a"),
        (F.col("id") % 3).alias("b"),
        F.col("id").alias("c"),
    )
    got = {
        r["c"]: r["rk"]
        for r in panel_rank(
            df, [("a", "asc"), ("b", "desc"), ("c", "asc")], "rk"
        ).collect()
    }
    want = {
        r["c"]: r["rk"]
        for r in df.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("a").asc(), F.col("b").desc(), F.col("c").asc())
            ),
        ).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
def test_range_frame_count_decsum_adversarial_panel(spark):
    """The cumulative RANGE-frame decomposition (round 14) must be
    bit-identical to the naive global-partition window on the shapes
    that break naive decompositions: NULL values (their own peer
    group), NaN (equal-to-itself peer group under Spark's total
    order), ±Inf, signed zeros, exact ±offset boundary values,
    duplicate values (RANGE peers), huge magnitudes (1e15 — where the
    halo operator needed epsilon nudges; the probe arithmetic here is
    the window's own), and frames whose every member decimal is NULL
    (SUM's empty-input NULL, not 0)."""
    from pyspark.sql import Window

    from duckdb_hdfs_spark.operators.ranks import range_frame_count_decsum

    vals = [0.0, -0.0, 5.0, 10.0, 10.0, 15.0, 2.5, 7.5, -5.0, None, None,
            float("nan"), float("nan"), float("inf"), float("-inf"),
            1e15, 1e15 + 4.9, 1e15 + 5.1, -1e15,
            99.999999, 104.999999, 105.000001]
    rows, i = [], 0
    for t in ("a", "b"):
        for v in vals:
            rows.append((i, t, v))
            i += 1
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    w = Window.partitionBy("event_type").orderBy("value").rangeBetween(-5, 5)
    naive = df.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n1"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).over(w), 2
        ).cast("double").alias("s1"),
    )
    got = range_frame_count_decsum(df, ["event_type"], "value", -5, 5).select(
        "event_id",
        F.col("__n").alias("n2"),
        F.round(F.col("__s"), 2).cast("double").alias("s2"),
    )
    bad = (
        naive.join(got, "event_id", "full")
        .filter(
            ~F.col("n1").eqNullSafe(F.col("n2"))
            | ~F.expr("CAST(s1 AS STRING)").eqNullSafe(
                F.expr("CAST(s2 AS STRING)")
            )
        )
        .collect()
    )
    assert not bad, bad


def test_range_frame_count_decsum_keeps_duplicated_rows(spark):
    """Exact duplicate rows are distinct window rows: each duplicate
    gets its own output row, and each counts in the other's frame —
    the duplicated-rows audit shape, where a key column no longer
    identifies a row."""
    from pyspark.sql import Window

    from duckdb_hdfs_spark.operators.ranks import range_frame_count_decsum

    rows = [(i % 9, "ab"[i % 2], float(i % 13)) for i in range(30)]
    df = spark.createDataFrame(
        rows + rows[:12], "event_id long, event_type string, value double"
    )
    w = Window.partitionBy("event_type").orderBy("value").rangeBetween(-5, 5)
    s = F.sum(F.col("value").cast("decimal(28,6)"))
    naive = df.select("*", F.count(F.lit(1)).over(w), s.over(w))
    got = range_frame_count_decsum(df, ["event_type"], "value", -5, 5)
    assert got.count() == 42
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
