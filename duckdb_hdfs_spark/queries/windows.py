"""Window-function / advanced-SQL battery (SURVEY.md §2.3).

Determinism rules (see tpch.py): money aggregates go through exact
DECIMAL accumulation; *windowed* sums stay in the decimal domain end
to end because DuckDB evaluates window aggregates with segment trees
(different FP addition order than Spark's sequential accumulation) —
only exact decimal arithmetic is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_hdfs_spark.queries import query
from duckdb_hdfs_spark.queries._helpers import _dsum, _osum, _t
from duckdb_hdfs_spark.sources.catalog import load_tables


# --------------------------------------------------------------------------
@query(
    "win_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) t WHERE rn <= 3
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer.  Scale: one shuffle on o_custkey;
    rank tie-broken by unique orderkey so results are deterministic.
    At 100 TB, skewed customers are handled by AQE; a two-phase
    partial top-k (per-partition heap) would shave the shuffle but
    row_number is already single-pass."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rn",
        )
    )


# --------------------------------------------------------------------------
@query(
    "win_running_total",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS order_day,
           coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                         AS DECIMAL(38,2)), 0) AS daily_rev
    FROM orders GROUP BY o_orderdate
)
SELECT order_day, CAST(daily_rev AS DOUBLE) AS daily_rev,
       CAST(sum(daily_rev) OVER (ORDER BY order_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_rev
FROM daily
""",
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue by day.  The running sum runs over DECIMAL
    so segment-tree (DuckDB) vs sequential (Spark) evaluation cannot
    diverge — and DECIMAL addition is associative, which is what lets
    the cumsum distribute.  Scale: earlier rounds ran one global
    window over the daily aggregate (justified at O(days) rows, but
    still a single task); round 5 routes it through the two-phase
    distributed cumsum (operators.ranks.grouped_cumsum with an empty
    group — date-range buckets, per-bucket partials, broadcast prefix
    offsets), so even a date-grain blowup (minute grain, multi-decade
    retention) never funnels one task."""
    from duckdb_hdfs_spark.operators.ranks import grouped_cumsum

    orders = _t(spark, sf_dir, "orders")
    # stay in the DECIMAL domain end-to-end: _dsum emits a DOUBLE, and
    # a day above ~4.5e13 revenue (the docstring's own design point)
    # has 2-decimal values a double cannot represent — the round-trip
    # would silently diverge from the oracle's pure-decimal running
    # sum (round-7 review finding)
    # coalesce an all-NULL day to 0 revenue on BOTH engines: a NULL
    # day-total would ride the distributed cumsum as NULL while the
    # oracle's window sum skips it (NULL-injection audit r9)
    daily = orders.groupBy(F.col("o_orderdate").alias("order_day")).agg(
        F.coalesce(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("decimal(38,2)"),
            F.lit(0).cast("decimal(38,2)"),
        ).alias("daily_rev")
    )
    cum = grouped_cumsum(
        daily.withColumn("__ord", F.unix_micros("order_day")),
        [],
        [("__ord", "asc")],
        "daily_rev",
        "running_rev",
    )
    return cum.select(
        "order_day",
        F.col("daily_rev").cast("double").alias("daily_rev"),
        F.col("running_rev").cast("double").alias("running_rev"),
    )


# --------------------------------------------------------------------------
@query(
    "win_moving_avg",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))) OVER w, 2)
            AS DOUBLE) / count(*) OVER w AS mov_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of event value per user: decimal moving
    SUM (rounded to the 2dp money grain IN THE DECIMAL DOMAIN, so the
    double conversion is exact for |sum| < 2^53/100 ≈ 9e13 — an
    UNROUNDED 6dp decimal at 1e12 magnitude needs > 53 bits and the
    two engines' decimal→double conversions round differently in the
    last ulp; extreme-values audit, round 10) divided by the moving
    COUNT (a moving AVG over doubles is not bit-stable across
    engines).  Scale: shuffles once on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    mov_sum = F.sum(F.col("value").cast("decimal(28,6)")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.round(mov_sum, 2).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "mov_avg"
        ),
    )


# --------------------------------------------------------------------------
@query(
    "win_lag_delta",
    oracle="""
SELECT event_id, user_id, ts,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS delta,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS gap_us
FROM events
""",
)
def win_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user stream (IEEE subtraction of identical
    operands is deterministic — no rounding needed)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )


# --------------------------------------------------------------------------
@query(
    "rollup_sales",
    oracle=f"""
SELECT n_name, o_orderpriority,
       {_osum('o_totalprice')} AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, o_orderpriority)
""",
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (nation → priority → grand total).

    The grand-total row is a UNIONED global aggregate, not rollup's
    ``()`` set (zero-row audit, round 10): Spark's Expand-based
    rollup emits ZERO rows over empty input, while the SQL standard
    (and DuckDB) emit the grand-total row — a global aggregate always
    produces its one row, so splitting the ``()`` set out restores
    standard semantics on the empty state and is row-identical on
    every non-empty input."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    aggs = [
        _dsum(F.col("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    ]
    subtotal = joined.groupingSets(
        [["n_name", "o_orderpriority"], ["n_name"]],
        "n_name",
        "o_orderpriority",
    ).agg(*aggs)
    total = joined.agg(*aggs).select(
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        "revenue",
        "n_orders",
    )
    return subtotal.unionByName(total)


# --------------------------------------------------------------------------
@query(
    "cube_sales",
    oracle=f"""
SELECT c_mktsegment, o_orderstatus,
       {_osum('o_totalprice')} AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
""",
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims — all 4 grouping combinations.

    The ``()`` set is a unioned global aggregate so the grand-total
    row survives an EMPTY input (standard/DuckDB semantics; Spark's
    Expand-based cube would emit zero rows — see rollup_sales)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    aggs = [
        _dsum(F.col("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    ]
    subtotal = joined.groupingSets(
        [
            ["c_mktsegment", "o_orderstatus"],
            ["c_mktsegment"],
            ["o_orderstatus"],
        ],
        "c_mktsegment",
        "o_orderstatus",
    ).agg(*aggs)
    total = joined.agg(*aggs).select(
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        "revenue",
        "n_orders",
    )
    return subtotal.unionByName(total)


# --------------------------------------------------------------------------
@query(
    "grouping_sets_sales",
    oracle=f"""
SELECT n_name, c_mktsegment,
       {_osum('c_acctbal')} AS acctbal,
       count(*) AS n_cust
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
""",
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over the registered
    views — exercising the SQL-string surface (parity with DuckDB's
    ``FROM 'hdfs://…'`` SQL-first usage)."""
    load_tables(spark, sf_dir, ("customer", "nation"))
    # the () set is a UNION ALL'd global aggregate — Spark's GROUPING
    # SETS emit zero rows over empty input where the standard (and
    # DuckDB) keep the grand-total row (zero-row audit, round 10;
    # see rollup_sales)
    return spark.sql(
        """
SELECT n_name, c_mktsegment,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS acctbal,
       count(*) AS n_cust
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
UNION ALL
SELECT CAST(NULL AS STRING), CAST(NULL AS STRING),
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE),
       count(*)
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""
    )


# --------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_event_types",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day,
       count(*) FILTER (WHERE event_type = 'click')    AS click_cnt,
       count(*) FILTER (WHERE event_type = 'error')    AS error_cnt,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup_cnt,
       count(*) FILTER (WHERE event_type = 'view')     AS view_cnt
FROM events
GROUP BY 1
""",
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (open-ended pivot would need
    a driver-side distinct pass — an anti-pattern at scale)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("event_day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, [t for t in _EVENT_TYPES])
        .select(
            "event_day",
            *[F.col(t).alias(f"{t}_cnt") for t in _EVENT_TYPES],
        )
    )


# --------------------------------------------------------------------------
@query(
    "distinct_users_exact",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
""",
)
def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
@query(
    "distinct_users_approx",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct — the 100 TB path (bounded memory,
    mergeable partial sketches; exact distinct shuffles every key).

    HLL++ (Spark) and DuckDB's sketch produce different estimates, so
    the estimate itself can't be hash-compared.  Instead both sides
    emit the exact count plus a ``within_bound`` boolean: the oracle's
    is constant TRUE, Spark's asserts |approx−exact|/exact ≤ 5·rsd —
    so the driver hash deterministically verifies the HLL estimate is
    inside its advertised error envelope."""
    ev = _t(spark, sf_dir, "events")
    rsd = 0.02  # single source for the sketch accuracy AND the bound
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= F.lit(5 * rsd)  # bound derives from the sketch rsd
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
@query(
    "sql_cte_chain",
    oracle="""
WITH big AS (
    SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
),
seg AS (
    SELECT c.c_mktsegment, count(*) AS n_big,
           CAST(round(sum(CAST(b.o_totalprice AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS big_rev
    FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
)
SELECT c_mktsegment, n_big, big_rev FROM seg WHERE n_big > 2
""",
)
def sql_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-CTE chain + HAVING, run through the SQL surface."""
    load_tables(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
WITH big AS (
    SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
),
seg AS (
    SELECT c.c_mktsegment, count(*) AS n_big,
           CAST(round(sum(CAST(b.o_totalprice AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS big_rev
    FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
)
SELECT c_mktsegment, n_big, big_rev FROM seg WHERE n_big > 2
"""
    )


# --------------------------------------------------------------------------
@query(
    "win_rank_functions",
    oracle="""
SELECT c_custkey, c_mktsegment,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def win_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function class: rank / dense_rank / ntile /
    percent_rank / cume_dist over a uniquely-ordered partition
    (unique tiebreak makes every rank deterministic; the percent
    ratios are integer-derived doubles, identical across engines).

    Scale note: this parity key keeps the literal SQL window shape,
    whose parallelism is capped by the ~5-value segment key.  For
    corpus-scale inputs the same order statistics route through
    operators/ranks.py (range-bucketed distributed_ntile +
    grouped_cumsum — per-bucket windows with broadcast prefix
    offsets), which test_ranks.py pins value-identical to the global
    window."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# --------------------------------------------------------------------------
@query(
    "win_time_range_frame",
    oracle="""
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_prev_7d,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))) OVER w, 2) AS DOUBLE)
           AS val_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
""",
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-7-day event count
    and value sum.  Spark range frames need a numeric ordering key, so
    both engines order by epoch microseconds with the same literal
    bound — the canonical sliding-time-window aggregation over a
    keyed stream (state bounded by the frame width at any scale)."""
    ev = _t(spark, sf_dir, "events")
    week_us = 7 * 24 * 3600 * 1000000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-week_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_prev_7d"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).over(w), 2)
        .cast("double")
        .alias("val_7d"),
    )


# --------------------------------------------------------------------------
@query(
    "grouping_id_sales",
    oracle="""
SELECT n_name, o_orderpriority,
       GROUPING(n_name) AS g_nation,
       GROUPING(o_orderpriority) AS g_prio,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, o_orderpriority)
""",
)
def grouping_id_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicator columns — distinguishes a
    real NULL group value from a rollup subtotal row (the part of the
    rollup surface the plain rollup_sales query doesn't pin)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    # grand total via unioned global aggregate (GROUPING() = 1 for
    # both columns by definition there) — survives EMPTY input where
    # Spark's rollup would drop the row (zero-row audit, round 10;
    # see rollup_sales)
    subtotal = (
        joined.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"]],
            "n_name",
            "o_orderpriority",
        )
        .agg(
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("n_name", "o_orderpriority", "g_nation", "g_prio", "n_orders")
    )
    total = joined.agg(F.count(F.lit(1)).alias("n_orders")).select(
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(1).cast("bigint").alias("g_nation"),
        F.lit(1).cast("bigint").alias("g_prio"),
        "n_orders",
    )
    return subtotal.unionByName(total)


# --------------------------------------------------------------------------
@query(
    "win_first_last",
    oracle="""
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_et,
       last_value(event_type)  OVER w AS last_et,
       nth_value(event_type, 2) OVER w AS second_et
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full-partition
    frame: each user's first, last, and second event type — the
    boundary-navigation window functions the rank/lag family doesn't
    cover (entry-point and exit-point analysis per keyed stream).
    The (ts, event_id) ordering pins ties, so results are
    deterministic; the identical per-user rows collapse via DISTINCT
    on both sides.

    Scale: one shuffle on user_id (the window partitioning); the
    unbounded frame is computed in a single pass per partition."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_et"),
        F.last("event_type").over(w).alias("last_et"),
        F.nth_value("event_type", 2).over(w).alias("second_et"),
    ).distinct()


# --------------------------------------------------------------------------
@query(
    "win_value_range_frame",
    oracle="""
SELECT event_id, event_type, value,
       count(*) OVER w AS n_similar,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))) OVER w, 2) AS DOUBLE)
           AS sum_similar
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value
             RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)
""",
)
def win_value_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-range window frame: for each event, aggregate over all
    same-type events whose ``value`` lies within ±5 of it — the RANGE
    frame keyed on a NUMERIC column rather than time
    (win_time_range_frame covers the temporal case; this pins the
    density-neighborhood form used for local smoothing and
    percentile-free outlier context).  Frame membership depends only
    on the value spacing, so ties need no tiebreaker — the frame is
    identical on both engines.

    Scale shape (round 7 → round 14): the naive ``PARTITION BY
    event_type`` window parallelizes only to the type cardinality
    (~5) — 1/5 of the table through one task at ANY cluster size
    (measured 3.8 s warm at sf0.1/32 in round 7).  Round 7 routed it
    through operators.ranks.halo_range_frame (value buckets + halo
    replication — distributed, but Spark still RE-AGGREGATES the
    sliding RANGE frame per row: O(rows × frame-rows) inside each
    bucket, the r13 verdict's remaining scale-killer).  Round 14
    replaces the window aggregation entirely with the CUMULATIVE
    DECOMPOSITION (operators.ranks.range_frame_count_decsum):
    frame_agg = cum(≤ v+5) − cum(< v−5) over ONE range-bucketed
    cumulative pass — O(1) work per row, exact in counts and decimal
    sums, probe boundaries computed with the window's own double
    arithmetic (0 mismatches vs the naive window at sf0.001/0.01 and
    on a NaN/±Inf/NULL/boundary-exact adversarial panel)."""
    from duckdb_hdfs_spark.operators.ranks import range_frame_count_decsum

    ev = _t(spark, sf_dir, "events")
    out = range_frame_count_decsum(
        ev.select("event_id", "event_type", "value"),
        ["event_type"],
        "value",
        -5,
        5,
        out_n="n_similar",
        out_s="_sum_dec",
    )
    return out.select(
        "event_id",
        "event_type",
        "value",
        "n_similar",
        F.round(F.col("_sum_dec"), 2).cast("double").alias("sum_similar"),
    )


# --------------------------------------------------------------------------
@query(
    "win_locf_ignore_nulls",
    oracle="""
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value,
       lag(CASE WHEN event_type = 'purchase' THEN value END,
           1 IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_purchase_value
FROM events
""",
)
def win_locf_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — last-observation-carried-
    forward (LOCF): every event row carries the user's most recent
    purchase value (and the one before it, via ``lag IGNORE NULLS``),
    the standard sparse-to-dense gap-fill for feature generation and
    sensor/price panels.  Pins Spark's ``ignorenulls=True`` argument
    against SQL's ``IGNORE NULLS`` clause on both ``last_value`` and
    ``lag`` — semantics diverge subtly from a self-join formulation
    at ties, so the window form is the one to trust.

    Scale shape: one user-keyed shuffle, both windows share the same
    partitioning and sort; values pass through unrounded (no
    arithmetic, no float hazard)."""
    ev = _t(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # F.lag has no ignorenulls parameter — the SQL form is the
    # supported spelling of lag ... IGNORE NULLS in Spark
    prev = F.expr(
        """lag(CASE WHEN event_type = 'purchase' THEN value END, 1)
           IGNORE NULLS
           OVER (PARTITION BY user_id ORDER BY ts, event_id)"""
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(pv, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("last_purchase_value"),
        prev.alias("prev_purchase_value"),
    )


# --------------------------------------------------------------------------
@query(
    "win_nulls_ordering",
    oracle="""
SELECT event_type, event_id, score, rk_desc, rk_asc
FROM (
    SELECT event_type, event_id,
           CASE WHEN value > 50 THEN round(value, 4) END AS score,
           row_number() OVER (PARTITION BY event_type
                ORDER BY (CASE WHEN value > 50 THEN value END)
                         DESC NULLS LAST, event_id) AS rk_desc,
           row_number() OVER (PARTITION BY event_type
                ORDER BY (CASE WHEN value > 50 THEN value END)
                         ASC NULLS FIRST, event_id) AS rk_asc
    FROM events
) t
WHERE rk_desc <= 3 OR rk_asc <= 3
""",
)
def win_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering parity in window sorts: rank per type over a
    PARTIALLY-NULL score both ways — DESC NULLS LAST (real values
    win) and ASC NULLS FIRST (nulls rank first) — the two defaults
    engines disagree about most (Spark's bare DESC puts nulls last,
    Postgres's puts them first; explicit ``desc_nulls_last`` /
    ``asc_nulls_first`` is the only portable spelling, pinned here
    value-for-value).  Ties among the nulls break on event_id so the
    cut is deterministic.

    Scale shape: two ranks over the SAME type-keyed partition sort
    family; the ≤3 filter keeps the output frame tiny.  Like
    win_rank_functions this parity key keeps the literal SQL window
    (parallelism capped by the type cardinality); a corpus-scale
    top-k per key goes through the partial-top-k merge
    (operators/similarity.py _topk_merge shape) instead of a full
    partition sort."""
    ev = _t(spark, sf_dir, "events")
    score_raw = F.when(F.col("value") > 50, F.col("value"))
    wd = Window.partitionBy("event_type").orderBy(
        F.desc_nulls_last(score_raw), F.asc("event_id")
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_first(score_raw), F.asc("event_id")
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            F.round(score_raw, 4).alias("score"),
            F.row_number().over(wd).alias("rk_desc"),
            F.row_number().over(wa).alias("rk_asc"),
        )
        .filter((F.col("rk_desc") <= 3) | (F.col("rk_asc") <= 3))
    )
