"""Distributed global ranking / ntile without a partition-less window.

A global ``ntile(k) OVER (ORDER BY ...)`` funnels the ENTIRE input
through one window task — the canonical single-reducer scale bug.  The
two-phase formulation here keeps every stage distributed:

1. **Range-bucket** on the lead order column using ``n_ranges - 1``
   broadcast approximate quantile bounds.  Bucket assignment is a
   map-side expression — the count of bounds strictly before the
   row's value in sort direction, monotone in the sort order — and
   the assigned frame is materialized with an eager localCheckpoint
   so every downstream branch reads the SAME buckets exactly once.
2. **Local rank** with ``row_number`` partitioned BY BUCKET — each
   window task handles ~1/n_ranges of the rows.
3. **Offsets**: per-bucket counts over the materialized assignment,
   prefix totals via a broadcast theta-join over ≤ n_ranges rows,
   plus the 1-row grand total.  Global rank = offset + local rank.
4. **ntile arithmetic** from the global rank and total: the first
   ``n mod k`` tiles take ``n div k + 1`` rows, the rest ``n div k`` —
   exactly SQL ntile's row allocation, so results hash-match a global
   window oracle.

Approximate bounds only affect bucket SIZES (load balance), never
correctness: any monotone bucketing yields the same global rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "distributed_ntile",
    "grouped_cumsum",
    "halo_range_frame",
    "panel_rank",
    "range_frame_count_decsum",
]

# NOTE (round 7): a hand-rolled grouped_topk (per-input-partition
# collect_list → slice partial top-k) was implemented, measured, and
# REMOVED: Spark's InferWindowGroupLimit already rewrites every
# ``row_number()/rank() <= k`` filter into a WindowGroupLimit
# Partial/Final pair around the exchange — a bounded per-group heap
# BEFORE the shuffle, with O(groups × k) per-task state, strictly
# better than a collect_list partial whose state is the whole
# group×partition array.  The rewrite is pinned as a plan assertion
# (tests/test_plan_shape.py::test_ev_top_users_window_group_limit)
# so a regression in the top-k plan shape fails loudly.


def halo_range_frame(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    lo: int,
    hi: int,
    frame_aggs,
    bucket_width: float,
) -> DataFrame:
    """Value-RANGE window frame aggregates WITHOUT the partition-
    cardinality parallelism cap (round 7).

    ``RANGE BETWEEN |lo| PRECEDING AND hi FOLLOWING`` over
    ``PARTITION BY part_cols ORDER BY value_col`` parallelizes only
    up to the number of distinct partition keys — a 5-valued
    event_type column serializes 1/5 of a 100 TB table through ONE
    window task no matter how many executors exist.  This operator
    splits each partition into value buckets of ``bucket_width`` and
    replicates every row into each bucket whose core rows' frames can
    reach it — member range ``floor((v-hi)/W) .. floor((v-lo)/W)``
    (at most 1 + ceil((hi-lo)/W) buckets, i.e. ≤2 for W > hi-lo)
    plus its own home bucket — then evaluates the SAME range window
    per (partition, bucket) and keeps only each row's home-bucket
    result.  Replication depends only on the frame SPAN, not the
    frame OFFSET, so far-offset frames (lag-style comparisons ~1e15
    away) cost the same ~2-3 replicas as local ones.  Every frame member of
    a core row is present in its bucket by construction, so results
    are bit-identical to the global-partition window; parallelism
    becomes (partition keys × occupied value buckets) and each task's
    row count is bounded by the value DENSITY per bucket, not the
    partition size.

    ``frame_aggs``: callable taking the bucketed ``Window`` spec and
    returning the list of aliased aggregate Columns to attach.
    Replication overhead: (hi-lo)/W extra rows on average — choose
    ``bucket_width`` a few times the frame span.

    NULL ``value_col`` rows go to their own NULL bucket (a RANGE
    window treats the NULLs as one peer group that never mixes with
    real values, so a dedicated bucket reproduces the naive window's
    output for them — a bare NULL sequence bound would otherwise
    silently DROP the row at the explode; round-7 review finding).
    The replication bounds are nudged outward by an epsilon in
    bucket-index units: the window decides membership with its own
    rounding of ``u + hi``, so the bucket range only has to be a
    SUPERSET — the nudge guarantees coverage when (v-hi)/W rounds
    across a bucket boundary, at the cost of one extra replica for
    values within an epsilon of an edge.  Double rounding error is
    RELATIVE TO THE OPERANDS, not the result: ``v - hi`` carries
    absolute error ~ulp(max(|v|, |hi|)) even when the difference is
    tiny (cancellation), so the nudge scales with the OPERAND
    magnitude in bucket units — max(1e-9, (|v|+|lo|+|hi|)/W · 1e-12),
    ~4000 ulps of headroom.  An absolute 1e-9 was swallowed above
    ~4e6 buckets (epoch microseconds over a small ``bucket_width``;
    round-7 advisor finding), and a quotient-scaled nudge would
    still under-cover when |v-hi| ≪ |v| (round-8 review)."""
    if not bucket_width > 0:
        raise ValueError(
            f"bucket_width must be > 0, got {bucket_width!r}: zero or "
            "negative widths produce NaN/reversed bucket sequences that "
            "silently drop rows at the explode"
        )
    v = F.col(value_col)
    w_lit = float(bucket_width)
    home = F.floor(v / F.lit(w_lit)).cast("long")

    # operand-magnitude scale in bucket-index units: dominates both
    # |q_lo| and |q_hi|, and covers the cancellation error of v - hi
    scale = (F.abs(v) + F.lit(abs(float(lo)) + abs(float(hi)))) / F.lit(w_lit)
    nudge = F.greatest(F.lit(1e-9), scale * F.lit(1e-12))

    q_lo = (v - F.lit(float(hi))) / F.lit(w_lit)
    q_hi = (v - F.lit(float(lo))) / F.lit(w_lit)
    lo_b = F.floor(q_lo - nudge).cast("long")
    hi_b = F.floor(q_hi + nudge).cast("long")
    # member buckets + the row's own home bucket.  Home must be an
    # APPENDED element, never a least/greatest stretch of the
    # sequence bounds: for a frame that does not straddle zero the
    # member range excludes the row's own bucket (the row would
    # never be core and silently vanish — round-7 review finding),
    # and for a FAR-OFFSET frame (|lo|,|hi| ≫ W) stretching the
    # contiguous sequence down/up to home materializes every bucket
    # in between — offset/W array elements per row, an OOM/limit
    # blowup at offset ~1e15 (round-8 review).  array_distinct
    # collapses the duplicate when home already lies in the member
    # range; the empty-sequence guard covers inverted frames
    # (lo > hi ⇒ empty frame, matching the naive window's empties).
    members = F.when(lo_b <= hi_b, F.sequence(lo_b, hi_b)).otherwise(
        F.array().cast("array<long>")
    )
    buckets = F.when(
        v.isNull(), F.array(F.lit(None).cast("long"))
    ).otherwise(F.array_distinct(F.concat(members, F.array(home))))
    rep = df.select("*", F.explode(buckets).alias("_vbkt")).withColumn(
        "_is_core", F.col("_vbkt").eqNullSafe(home)
    )
    w = (
        Window.partitionBy(*part_cols, "_vbkt")
        .orderBy(value_col)
        .rangeBetween(lo, hi)
    )
    return (
        rep.select("*", *frame_aggs(w))
        .filter(F.col("_is_core"))
        .drop("_vbkt", "_is_core")
    )


def range_frame_count_decsum(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    dec_type: str = "decimal(28,6)",
    out_n: str = "__n",
    out_s: str = "__s",
    n_ranges: int = 32,
) -> DataFrame:
    """``count(*)`` and ``sum(CAST(value AS <dec_type>))`` over
    ``PARTITION BY part_cols ORDER BY value_col RANGE BETWEEN |lo|
    PRECEDING AND hi FOLLOWING`` in O(rows) work per row — the
    CUMULATIVE DECOMPOSITION of the value-range frame (round 14,
    r13-verdict task #9): Spark's Window re-aggregates the sliding
    RANGE frame per row (O(rows × frame-rows) inside any partition or
    halo bucket), while for INVERTIBLE aggregates over EXACT types

        frame_agg(row) = cum(≤ v+hi) − cum(< v+lo)

    needs one cumulative pass.  Mechanics: every row explodes into a
    POINT carrier (tie=1: c=1, s=value-as-decimal) and two zero-weight
    PROBES at the frame edges (tie=0 at v+lo, tie=2 at v+hi) carrying
    the original row; ONE :func:`grouped_cumsum` over
    (part_cols ORDER BY sortv, tie) gives running (count, decimal sum);
    per row, hi-probe minus lo-probe cumulants ARE the frame
    aggregates.  Exactness: counts are integers, the sum is an exact
    DECIMAL (order-independent addition, exact subtraction), and the
    probe positions use the IDENTICAL double arithmetic (``v + lo``,
    ``v + hi``) the window's own boundary computation performs — so
    frame membership matches bit-for-bit, including at ±Inf and NaN
    (NaN probes subtract everything below NaN, leaving exactly the NaN
    peer group, which is the window's NaN frame).  The tie ordering
    makes boundaries inclusive exactly like RANGE: the lo probe sorts
    BEFORE equal-valued points (strictly-less cumulant), the hi probe
    AFTER them.  Partial order among equal (sortv, tie) rows is
    harmless: probes carry zero weight and point outputs are never
    read, so every consumed cumulant is order-invariant —
    grouped_cumsum's total-order contract is satisfied in the only
    sense that matters (documented here because the generic contract
    asks for a unique tiebreaker).

    NULL ``value_col`` rows form their own peer group (never mix with
    real values — the RANGE-window rule): they take a direct
    per-partition pass (count of the partition's NULL rows; their
    decimal sum is the all-NULL sum, i.e. NULL) exactly as the naive
    window computes them — a grouped aggregate joined back by
    broadcast on a null-safe key, so a NULL partition key keeps its
    rows and no window partitions on the bare group key.

    The probe fold groups on a row tag the operator assigns before the
    explode (``monotonically_increasing_id``; grouped_cumsum
    checkpoints the exploded frame, so every consumer sees the same
    tag), so duplicated input rows stay separate rows.
    Scale shape: one explode (3× narrow rows), one grouped_cumsum
    (range-bucketed — parallelism independent of partition
    cardinality), one tag-keyed aggregation; work per row is O(1)
    versus the window's O(frame).  vs halo_range_frame: no replication
    factor, no bucket-width tuning, no epsilon nudges — but only for
    invertible aggregates over exact types (count / decimal sum);
    halo remains the general operator."""
    if lo > hi:
        raise ValueError(f"inverted frame: lo={lo} > hi={hi}")
    if not part_cols:
        raise ValueError(
            "range_frame_count_decsum needs partition columns (the "
            "NULL-peer pass groups on them)"
        )
    v = F.col(value_col)
    dec = v.cast(dec_type)
    zero = F.lit(0).cast(dec_type)
    row = F.struct(*[F.col(c) for c in df.columns])
    nn = df.filter(v.isNull())
    rv = df.filter(v.isNotNull())

    # _s cumulates coalesce(dec, 0) — exact: NULL decimals (a NaN/±Inf
    # value that cannot cast) contribute nothing either way — and _d
    # counts NON-NULL decimal contributions so the fold can reproduce
    # SUM's empty-input semantics: a frame whose every member decimal
    # is NULL must yield NULL, not 0 (the naninf audit shape).
    def carrier(sortv, tie: int, c: int, s, d):
        return F.struct(
            sortv.cast("double").alias("_sortv"),
            F.lit(tie).alias("_tie"),
            F.lit(c).cast("long").alias("_c"),
            s.alias("_s"),
            d.cast("long").alias("_d"),
            row.alias("_row"),
        )

    nonnull = F.when(dec.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    un = rv.withColumn("__rid", F.monotonically_increasing_id()).select(
        *part_cols,
        "__rid",
        F.explode(
            F.array(
                carrier(v, 1, 1, F.coalesce(dec, zero), nonnull),
                carrier(v + F.lit(float(lo)), 0, 0, zero, F.lit(0)),
                carrier(v + F.lit(float(hi)), 2, 0, zero, F.lit(0)),
            )
        ).alias("_e"),
    ).select(
        *part_cols,
        "__rid",
        F.col("_e._sortv").alias("_sortv"),
        F.col("_e._tie").alias("_tie"),
        F.col("_e._c").alias("_c"),
        F.col("_e._s").alias("_s"),
        F.col("_e._d").alias("_d"),
        F.col("_e._row").alias("_row"),
    )
    cum = grouped_cumsum(
        un,
        part_cols,
        [("_sortv", "asc"), ("_tie", "asc")],
        val=["_c", "_s", "_d"],
        out=["_cc", "_cs", "_cd"],
        n_ranges=n_ranges,
    )
    hi_cc = F.max(F.when(F.col("_tie") == 2, F.col("_cc")))
    lo_cc = F.max(F.when(F.col("_tie") == 0, F.col("_cc")))
    hi_cs = F.max(F.when(F.col("_tie") == 2, F.col("_cs")))
    lo_cs = F.max(F.when(F.col("_tie") == 0, F.col("_cs")))
    hi_cd = F.max(F.when(F.col("_tie") == 2, F.col("_cd")))
    lo_cd = F.max(F.when(F.col("_tie") == 0, F.col("_cd")))
    folded = (
        cum.filter(F.col("_tie") != 1)
        .groupBy("__rid")
        .agg(
            F.first("_row").alias("_row"),  # both probes carry the same row
            (hi_cc - lo_cc).alias(out_n),
            # decimal cumulants subtract exactly; NULL when the frame
            # carries zero non-NULL decimals (SUM's empty semantics)
            F.when(hi_cd - lo_cd == 0, F.lit(None).cast(dec_type))
            .otherwise(hi_cs - lo_cs)
            .alias(out_s),
        )
        .select("_row.*", out_n, out_s)
    )
    peers = nn.groupBy(*part_cols).agg(
        F.count(F.lit(1)).alias(out_n), F.sum(dec).alias(out_s)
    )
    peers = peers.select(
        *[F.col(c).alias(f"__p_{c}") for c in part_cols], out_n, out_s
    )
    nn_out = nn.join(
        F.broadcast(peers),
        [F.col(f"__p_{c}").eqNullSafe(F.col(c)) for c in part_cols],
    ).select(*df.columns, out_n, out_s)
    return folded.unionByName(nn_out)


def _range_bucketed(
    df: DataFrame, lead: str, desc: bool, n_ranges: int
) -> DataFrame:
    """Shared range-bucketing prelude of :func:`distributed_ntile`
    and :func:`grouped_cumsum` (round-7 review: previously
    copy-pasted in both): append ``__bkt``, monotone in the sort
    direction of ``lead``, from broadcast approximate-quantile
    bounds, and eager-checkpoint the assignment.

    The checkpoint matters twice over: approximate quantile bounds
    are partition-order-sensitive, and every consumer branch (rank +
    count, or cumsum + offsets) must see IDENTICAL buckets for the
    offset composition to be exact; it also pins the upstream
    lineage to one evaluation so chained calls stay linear.

    NULL ``lead`` values follow the global window's default null
    ordering (round-7 review fix): Spark sorts asc NULLS FIRST and
    desc NULLS LAST, so NULLs route to bucket 0 under asc and to the
    LAST bucket under desc — the in-bucket sort then places them at
    the matching end, composing to the same global order as a single
    window.  (The bare size(filter(...)) put desc NULLs in bucket 0,
    ranking them before the tail values.)

    The INPUT is checkpointed before the bounds aggregation (round
    10): the bounds agg and the bucket-assignment stream both consume
    ``df``, and the single-evaluation guarantee previously leaned on
    Spark deduplicating the two subtrees via ReusedExchange — which
    only exists when the upstream plan ENDS in an exchange.  A
    measured same-host A/B on stats_spearman_corr (whose upstream
    does end in an exchange) shows the two forms identical within
    noise (~5.2-5.7s at sf0.1 both ways), confirming the reuse; the
    checkpoint-first form keeps the guarantee for upstreams with no
    reusable exchange (pure map over a scan — the scan would run
    twice, once per subtree) and keeps the determinism contract
    (fixed partition contents → fixed partial-aggregation merge
    order → identical bounds on every re-evaluation).  The bucket
    column is a pure function of (row, bounds), so consumer branches
    see IDENTICAL buckets without a second materialization.

    Round-11 negative result (do not re-attempt): a checkpoint-skip
    flag for exchange-ended upstreams was prototyped and measured on
    stats_spearman_corr — the final plan contained NO ReusedExchange
    for the duplicated consumer subtrees (AQE did not deduplicate
    them), the interleaved A/B ran SLOWER (median 4.68s vs 3.99s at
    sf0.1, double evaluation), and without reuse the two consumers'
    percentile bounds could diverge (shuffle arrival order), breaking
    the identical-buckets guarantee.  The checkpoint stays
    unconditional."""
    df = df.localCheckpoint(eager=True)
    probs = [i / n_ranges for i in range(1, n_ranges)]
    # accuracy 1000 (~0.1% rank error) suffices: bounds only steer
    # bucket BALANCE — every consumer result is invariant to where
    # the boundaries fall, so the cheaper sketch is free precision
    bounds = df.agg(
        F.percentile_approx(
            lead, F.array(*[F.lit(p) for p in probs]), F.lit(1_000)
        ).alias("__bounds")
    )
    before = (
        (lambda b: b > F.col(lead)) if desc else (lambda b: b < F.col(lead))
    )
    bkt = F.coalesce(F.size(F.filter("__bounds", before)), F.lit(0))
    if desc:
        bkt = F.when(F.col(lead).isNull(), F.lit(n_ranges - 1)).otherwise(bkt)
    return (
        df.join(F.broadcast(bounds))
        .withColumn("__bkt", bkt)
        .drop("__bounds")
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: list[tuple[str, str]],
    out: str,
    n_buckets: int = 4,
    n_ranges: int = 32,
) -> DataFrame:
    """Append ``ntile(n_buckets) OVER (ORDER BY order_cols)`` as
    column ``out``, computed without any global window or sort.

    ``order_cols``: ``[(column, "asc"|"desc"), ...]``; the FIRST
    column drives range bucketing, the full list must define a total
    order (include a unique tiebreaker).  ``df`` is evaluated exactly
    once (into the checkpointed bucket assignment), so chained calls
    compose without lineage blow-up.
    """
    lead, direction = order_cols[0]
    desc = direction == "desc"
    bucketed = _range_bucketed(df, lead, desc, n_ranges)

    order_exprs = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order_cols
    ]
    w = Window.partitionBy("__bkt").orderBy(*order_exprs)
    local = bucketed.withColumn("__lrk", F.row_number().over(w))

    counts = bucketed.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__cnt"))
    lower = counts.select(
        F.col("__bkt").alias("__bkt2"), F.col("__cnt").alias("__cnt2")
    )
    offsets = (
        counts.join(F.broadcast(lower), F.col("__bkt2") < F.col("__bkt"), "left")
        .groupBy("__bkt")
        .agg(F.coalesce(F.sum("__cnt2"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__cnt").alias("__n"))

    rk = F.col("__off") + F.col("__lrk")
    q = F.floor(F.col("__n") / n_buckets)
    r = F.col("__n") % n_buckets
    big = q + 1
    tile = F.when(
        rk <= r * big, F.floor((rk - 1) / big) + 1
    ).otherwise(
        # unreachable when q == 0 (then every rk ≤ r·1 = n); the
        # greatest() guard only keeps the dead branch div-safe
        r + F.floor((rk - r * big - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        local.join(F.broadcast(offsets), "__bkt")
        .join(F.broadcast(total))
        .withColumn(out, tile.cast("bigint"))
        .drop("__bkt", "__lrk", "__off", "__n")
    )


def grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[tuple[str, str]],
    val: str | list[str],
    out: str | list[str],
    n_ranges: int = 32,
    prune_above: int | None = None,
) -> DataFrame:
    """Append ``sum(val) OVER (PARTITION BY group_cols ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING)`` as column ``out`` without
    funneling any group through a single task.

    Same two-phase shape as :func:`distributed_ntile`: range-bucket
    on the lead order column (bounds shared across groups — bucketing
    only has to be monotone in the order, not balanced per group),
    checkpoint the assignment, then

    - per-(group, bucket) value totals → per-group prefix offsets via
      a window partitioned by the group key over the totals table
      (≤ n_ranges rows per partition, a constant — parallel at any
      group cardinality);
    - local cumulative sum windowed by (group, bucket) — each task
      holds ~1/n_ranges of one group;
    - global cumsum = bucket offset + local cumsum.

    ``prune_above``: when the caller only keeps rows with cumsum ≤ N
    (token-budget selection), buckets whose offset already exceeds N
    are dropped BEFORE the window — the per-row window work is then
    bounded by the budget, not the corpus.
    """
    vals = [val] if isinstance(val, str) else list(val)
    outs = [out] if isinstance(out, str) else list(out)
    assert len(vals) == len(outs), "val/out lists must pair up"
    lead, direction = order_cols[0]
    desc = direction == "desc"
    bucketed = _range_bucketed(df, lead, desc, n_ranges)

    totals = bucketed.groupBy(*group_cols, "__bkt").agg(
        *[F.sum(v).alias(f"__tot{i}") for i, v in enumerate(vals)]
    )
    if group_cols:
        # Per-group prefix offsets over the totals table via a window
        # PARTITIONED BY the group key (round 10 — replaces a
        # theta-join + re-aggregation, two stages and a join for the
        # same 1-shuffle result).  Scale-safe at ANY group
        # cardinality: each window partition holds at most n_ranges
        # rows (a constant), so a million groups mean a million
        # ≤32-row partitions, never a fat task.  A NULL group key is
        # its own window partition, matching the null-safe join
        # semantics this replaces (round-7 review).
        woff = (
            Window.partitionBy(*group_cols)
            .orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            *group_cols,
            "__bkt",
            *[
                F.coalesce(F.sum(f"__tot{i}").over(woff), F.lit(0)).alias(
                    f"__off{i}"
                )
                for i in range(len(vals))
            ],
        )
    else:
        # No group columns (global running total): the offsets window
        # would be partition-less — the global-window shape
        # test_no_partitionless_window bans, and rightly: the shape
        # check can't see that THIS table is ≤ n_ranges rows.  The
        # theta-join over the ≤ n_ranges-row totals is trivially
        # cheap here (same as distributed_ntile's).
        earlier = totals.select(
            F.col("__bkt").alias("__bkt2"),
            *[F.col(f"__tot{i}").alias(f"__tot2_{i}") for i in range(len(vals))],
        )
        offsets = (
            totals.join(earlier, F.col("__bkt2") < F.col("__bkt"), "left")
            .groupBy("__bkt")
            .agg(
                *[
                    F.coalesce(F.sum(f"__tot2_{i}"), F.lit(0)).alias(f"__off{i}")
                    for i in range(len(vals))
                ]
            )
        )
    if prune_above is not None:
        # the prune contract applies to the FIRST value column
        offsets = offsets.filter(F.col("__off0") <= prune_above)

    order_exprs = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order_cols
    ]
    w = (
        Window.partitionBy(*group_cols, "__bkt")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = offsets.select(
        *[F.col(g).alias(f"__o_{g}") for g in group_cols],
        F.col("__bkt").alias("__obkt"),
        *[f"__off{i}" for i in range(len(vals))],
    )
    res = bucketed.join(
        off,
        on=[
            *[F.col(f"__o_{g}").eqNullSafe(F.col(g)) for g in group_cols],
            F.col("__obkt") == F.col("__bkt"),
        ],
    ).drop(*[f"__o_{g}" for g in group_cols], "__obkt")
    drop = ["__bkt"]
    for i, (v, o) in enumerate(zip(vals, outs)):
        res = res.withColumn(o, F.col(f"__off{i}") + F.sum(v).over(w))
        drop.append(f"__off{i}")
    return res.drop(*drop)


def panel_rank(
    df: DataFrame,
    order_cols: list[tuple[str, str]],
    out: str,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` for a SMALL panel
    (tens of rows) without a partition-less window: rank = 1 + the
    count of strictly-earlier rows via a broadcast theta-join of the
    panel against itself.  ``order_cols`` is ``[(col, "asc"|"desc"),
    ...]``; it must define a total order (include a unique
    tiebreaker) and must be NULL-FREE — a NULL order key makes the
    theta predicate NULL (the row counts no predecessors), which
    diverges from a window's NULLS-LAST placement; coalesce NULLs to
    a sentinel before ranking (round-9 review finding: the BH-FDR
    inline copy of this pattern diverged from its oracle on an
    all-NULL degenerate panel).

    The input is eagerly checkpointed (both join sides must read the
    SAME materialized panel — with lineage reuse the panel's upstream
    scan would re-execute per side).  Shared by the small-panel ranks
    (Zipf head, BH-FDR step-up) — keep the strictly-earlier predicate
    in ONE place."""
    df = df.localCheckpoint(eager=True)
    names = [c for c, _ in order_cols]
    other = df.select(*[F.col(c).alias(f"__r_{c}") for c in names])
    earlier = None
    for i, (c, direction) in enumerate(order_cols):
        eq_prefix = [
            F.col(f"__r_{names[j]}") == F.col(names[j]) for j in range(i)
        ]
        lt = (
            F.col(f"__r_{c}") > F.col(c)
            if direction == "desc"
            else F.col(f"__r_{c}") < F.col(c)
        )
        clause = lt
        for e in eq_prefix:
            clause = clause & e
        earlier = clause if earlier is None else (earlier | clause)
    return (
        df.join(F.broadcast(other), earlier, "left")
        .groupBy(*df.columns)
        .agg((F.count(f"__r_{names[0]}") + 1).alias(out))
    )
