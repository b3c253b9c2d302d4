"""Streaming registry entry (SURVEY.md §2.4): runs the Structured
Streaming windowed-count pipeline over the events table with an
availableNow trigger and returns the drained result — the same
incremental plan a live ingest would run, exposed through the batch
driver contract (rows-only: the streaming runtime is the thing under
test; its batch twin ``ev_tumbling_counts`` is the oracle-checked
computation)."""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_hdfs_spark.operators.genutil import local_frame
from duckdb_hdfs_spark.queries import query
from duckdb_hdfs_spark.queries.events import sess_ctes
from duckdb_hdfs_spark.sources.catalog import load_table
from duckdb_hdfs_spark.sources.fs import HadoopFs, scratch
from duckdb_hdfs_spark.streaming.pipelines import (
    clamp_event_time,
    drain,
    dropped_by_watermark,
    interval_join_views_purchases,
    read_event_stream,
    replay_clamp_anchor,
    running_user_totals,
    session_timeout_sessions,
    session_windows,
    windowed_counts,
)

#: numbers the directories a returned frame reads lazily (CDC and HLL
#: state, the partitioned sink's output), so a later run of the same
#: key never rewrites files an earlier run's frame still reads
_run_counter = itertools.count()

# --------------------------------------------------------------------------
# Replay-ingest event-time clamp (round 12, r11-verdict task #3).
#
# Every watermark state machine below runs its input through
# clamp_event_time BEFORE the watermark column is declared, anchored
# to the replay's own clock (streaming/pipelines.replay_clamp_anchor:
# the min of the top-3%+1 ts order statistics — max() would itself be
# poisoned; integer order statistics are microsecond-identical across
# engines).  Slacks: +3 days future (the anchor trims up to ~1 day of
# clean top tail, so the limit stays above the true max — value-level
# no-op on clean data), −45 days past (below the fixtures' 30-day
# span — no-op on clean data — while keeping clamped far-past rows
# ABOVE the widest watermark eviction horizon used here (60 days), so
# a 1677 corruption row lands in deterministic pre-watermark
# territory instead of arrival-order-defined late-row land).  This is
# what emptied the ts-extremes audit's WATERMARK_POISONED exclusion
# class: under corruption the five state machines now compute the
# same clamped stream the (identically clamped) batch oracle sees.
_CLAMP_FUTURE = "3 days"
_CLAMP_PAST = "45 days"

#: Oracle twin of the ingest clamp: same trimmed-top anchor, same
#: slacks, pure integer order statistics (row_number ties at the k-th
#: boundary don't matter — min over the top-k multiset is
#: tie-invariant).  On clean data the CASE is the identity.
CLAMP_CTES = """clamp_bound AS (
    SELECT min(ts) AS anchor FROM (
        SELECT ts, row_number() OVER (ORDER BY ts DESC) AS rn,
               count(*) OVER () AS n
        FROM events
    ) WHERE rn <= n * 3 // 100 + 1
),
clamped_events AS (
    SELECT event_id,
           CASE WHEN ts > anchor + INTERVAL 3 DAY
                THEN anchor + INTERVAL 3 DAY
                WHEN ts < anchor - INTERVAL 45 DAY
                THEN anchor - INTERVAL 45 DAY
                ELSE ts END AS ts,
           user_id, event_type, value, props
    FROM events, clamp_bound
)"""


def _ingest_clamp(df: DataFrame, anchor_src) -> DataFrame:
    """Clamp ``df``'s event time at ingest, anchored to the replay
    clock derived from ``anchor_src``: either the catalog's static
    ``events`` (anchor computed here) or an ALREADY-COMPUTED anchor
    datetime, so multi-input queries (stream-stream joins) derive the
    anchor once instead of re-running the count + top-k jobs per side
    (round-12 advisor).  Pass-through on an empty replay (no anchor
    exists — and nothing to poison)."""
    anchor = (
        replay_clamp_anchor(anchor_src)
        if isinstance(anchor_src, DataFrame)
        else anchor_src
    )
    if anchor is None:
        return df
    return clamp_event_time(
        df, slack=_CLAMP_FUTURE, now=anchor, past_slack=_CLAMP_PAST
    )


def _stage(batches, tag: str) -> str:
    """Stage a replay's input at ``scratch("stream_<tag>")``, one
    path per key, and return the path.  The batch DataFrames are
    written in arrival order (the first write replaces whatever the
    path held) with their files' mtimes pinned to strictly increasing
    minutes, so the file source's oldest-first ordering replays
    EXACTLY this order.  Several batches are written one file each
    (forced arrival order); a single batch is written one file per
    partition, so a round-robin replay of n files passes
    ``events.repartition(n)``.  Every streaming key stages here, so
    the replays cannot drift apart.  No returned frame reads the
    staged files, so a later run may replace them."""
    src = scratch(f"stream_{tag}")
    fs = HadoopFs(batches[0].sparkSession)
    t0_ms = 1_700_000_000_000
    seen: set[str] = set()
    for i, b in enumerate(batches):
        if len(batches) > 1:
            b = b.repartition(1)
        b.write.mode("append" if i else "overwrite").parquet(src)
        parts = {fi.path for fi in fs.glob(f"{src}/*.parquet")} - seen
        for p in parts:
            fs.set_mtime_ms(p, t0_ms + 60_000 * i)
        seen |= parts
    return src


def _publish_state(fs: HadoopFs, df: DataFrame, state_dir: str) -> None:
    """Replace the parquet table at ``state_dir`` with ``df``: write a
    sibling, then swap it in, so a failed write leaves the old state
    whole."""
    tmp = state_dir + "_new"
    df.write.mode("overwrite").parquet(tmp)
    fs.rm(state_dir, recursive=True)
    if not fs.mv(tmp, state_dir):
        raise OSError(f"could not move {tmp} to {state_dir}")


@query(
    "streaming_windowed_counts",
    # complete-mode + availableNow drains EVERY row into epoch-aligned
    # 1-day windows, so the streaming result equals the batch tumbling
    # aggregation — which IS SQL-expressible; the decimal-accumulated
    # sum makes the value deterministic across engines.
    oracle="""
SELECT date_trunc('day', ts) AS win_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
       event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
           AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream → 1-day watermarked tumbling windows →
    complete-mode memory sink, drained with availableNow.  The events
    table is staged first as the stream's source directory
    (:func:`_stage`, one file here)."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(1)], "windowed")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    return drain(windowed_counts(stream), "complete")[0]


# --------------------------------------------------------------------------
@query(
    "streaming_dedup_users",
    # the state store keeps exactly one row per (event_type, user_id)
    # key regardless of arrival order or batch boundaries, so the
    # per-type count of surviving rows equals the batch COUNT(DISTINCT)
    # — a fully deterministic, SQL-expressible result.
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events GROUP BY event_type
""",
)
def streaming_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store dedup: file-source stream split into 4
    micro-batches (maxFilesPerTrigger=1 over a 4-file replay) →
    ``dropDuplicates`` on (event_type, user_id) → append-mode memory
    sink; the batch tail counts survivors per type.  Duplicates that
    span micro-batches are dropped by the state store, which is the
    property under test (a batch distinct can't show it).

    Scale: dedup state is one compact key per distinct pair,
    hash-partitioned across executors by the state store; production
    unbounded streams would add ``dropDuplicatesWithinWatermark`` to
    bound retention (streaming/pipelines.py:dedup_stream)."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(4)], "dedup")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    deduped = stream.dropDuplicates(["event_type", "user_id"]).select(
        "event_type", "user_id"
    )
    return (
        drain(deduped, "append")[0]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


# --------------------------------------------------------------------------
@query(
    "streaming_user_totals",
    # the final emission per user carries the complete running state,
    # so picking each user's highest-n_events update row reproduces
    # the batch per-user aggregate; round(4) absorbs the float
    # accumulation-order delta between the Python state op (pandas
    # pairwise sum per batch) and DuckDB's sequential sum.
    oracle="""
SELECT user_id, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events GROUP BY user_id
""",
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the driver contract:
    ``applyInPandasWithState`` keeps one (count, sum) pair per user,
    emitting the running totals every micro-batch (update semantics,
    2 micro-batches over the 4-file replay — maxFilesPerTrigger=2;
    state still crosses a batch boundary, which is the property under
    test, while the per-batch fixed machinery — planning, state-store
    commit cycle, Arrow round-trip — is paid half as often; round-13
    verdict task #7, results batch-count-invariant by construction);
    the batch tail selects each user's FINAL update (argmax on the
    monotone n_events) — which must equal the batch aggregate.
    Exercises Arrow-batched Python state, not just built-in streaming
    aggs.

    Scale: state is bounded by key cardinality (one tiny tuple per
    user), hash-partitioned across executors; the update stream into
    the sink carries only keys seen in each batch.

    Magnitude bound (extreme-values audit, round 10): the Python
    state op accumulates DOUBLES (Arrow state schema), so the
    round(4) grain absorbs accumulation-order deltas only while
    ulp(total) < 1e-4, i.e. |total| < 2^40 ≈ 1e12 — beyond that the
    pandas pairwise sum and DuckDB's sequential sum legitimately
    differ in the 4th decimal."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(4)], "totals")
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    updates = drain(running_user_totals(stream), "update")[0]
    return (
        updates.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_events").alias("n_events"),
                    F.col("total_value").alias("total_value"),
                )
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.n_events").alias("n_events"),
            F.round(F.col("last.total_value"), 4).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "streaming_view_purchase_join",
    # availableNow + a watermark wider than the table's span emits every
    # matching (view, purchase) pair exactly once, so the streaming
    # inner interval join equals the batch self-join; pair-level output
    # passes values through untouched — deterministic across engines.
    oracle=f"""
WITH {CLAMP_CTES}
SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM clamped_events v JOIN clamped_events p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution: two file-source streams over the
    same 4-file events replay (views / purchases), inner-joined on
    user within a 1-hour event-time horizon, append-mode memory sink.
    A view arriving in micro-batch 1 must sit in the join state store
    until its purchase arrives in batch 2 — the cross-batch buffering
    a batch join never exercises (maxFilesPerTrigger=2 over the
    4-file replay: two batches per side keep the cross-batch
    buffering property while halving the per-batch fixed machinery —
    two state stores × partitions × commit cycle per batch; round-13
    verdict task #7, pair set batch-count-invariant under availableNow
    + the wide watermark).

    The watermark is wider than the table's span for the same reason
    as ``streaming_session_windows``: the 4-file replay makes
    micro-batches arrive out of event-time order, and the oracle
    needs the no-drop regime.  Production uses the default tight
    watermark so view state is evicted one horizon+delay after its
    event time (see ``interval_join_views_purchases``)."""
    events = load_table(spark, sf_dir, "events")
    src = _stage([events.repartition(4)], "ssjoin")
    # both sides run through the replay-anchored ingest clamp BEFORE
    # their watermarks: the global join watermark is the min across
    # inputs, so one poisoned side force-evicts the OTHER side's
    # buffered state (module comment above CLAMP_CTES)
    anchor = replay_clamp_anchor(events)
    views = _ingest_clamp(
        read_event_stream(spark, src, max_files_per_trigger=2).filter(
            F.col("event_type") == "view"
        ),
        anchor,
    )
    purchases = _ingest_clamp(
        read_event_stream(spark, src, max_files_per_trigger=2).filter(
            F.col("event_type") == "purchase"
        ),
        anchor,
    )
    joined = interval_join_views_purchases(
        views, purchases, horizon="1 hour", watermark="60 days"
    )
    return drain(joined, "append")[0]


# --------------------------------------------------------------------------
@query(
    "streaming_session_windows",
    # complete-mode + availableNow merges every event into its final
    # session, so the streaming result equals the batch gaps-and-islands
    # sessionization: a new session starts when the gap to the previous
    # event reaches 2 hours (session_window spans [first, last + gap)),
    # and the decimal-accumulated sum is order-independent.
    oracle=f"""
WITH {CLAMP_CTES}, s AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
                THEN 1 ELSE 0 END AS new_s
    FROM clamped_events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), v AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
    FROM s
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 2 HOUR AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
           AS sum_value
FROM v GROUP BY user_id, sess
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization: file-source stream in 4
    micro-batches → ``session_window`` (2-hour gap) with watermarked
    state-store session merging → complete-mode memory sink.  Events
    of one session arriving in DIFFERENT micro-batches must merge in
    the state store — the cross-batch property the batch twin
    (ev_sessionize) cannot exercise.

    The 4-file replay is round-robin, so micro-batches arrive OUT of
    event-time order; the watermark is therefore set wider than the
    table's time span — with a production 1-day watermark the first
    batch (which spans the whole month) would advance event time past
    later batches and drop their rows as late.  That is correct
    streaming semantics (watermarks assume bounded disorder), but the
    oracle needs the no-drop regime.

    Scale: session state is keyed by (user, session), hash-partitioned
    across executors; a production watermark closes sessions once event
    time passes last_ts + gap + watermark, so state size tracks ACTIVE
    sessions, not history."""
    events = load_table(spark, sf_dir, "events")
    src = _stage([events.repartition(4)], "sessions")
    # ingest-time event-time clamp (rounds 11-12): a single corrupted
    # far-future timestamp would advance the watermark past the whole
    # real stream and force-close every live session; the clamp bounds
    # event time BEFORE the watermark reads it, anchored to the
    # replay's own clock (module comment above CLAMP_CTES).
    # Value-level no-op on clean data, and the oracle applies the
    # identical clamp, so under corruption both engines sessionize the
    # same clamped stream.
    stream = _ingest_clamp(
        read_event_stream(spark, src, max_files_per_trigger=1), events
    )
    return drain(
        session_windows(stream, gap="2 hours", watermark="60 days"), "complete"
    )[0]


# --------------------------------------------------------------------------
@query(
    "streaming_late_event_drops",
    # the late file arrives after TWO on-time batches have advanced
    # the operative late-events watermark far past the 14-day-old
    # stragglers, so the state-store dedup MUST drop every late row:
    # the observed stateOperators numRowsDroppedByWatermark total
    # equals the batch count of late rows, and the surviving per-type
    # counts equal the batch counts over on-time rows only.  Both
    # sides are plain SQL over the static table.
    oracle=f"""
WITH {CLAMP_CTES},
cut AS (
    SELECT max(ts) - INTERVAL 14 DAY AS cutoff FROM clamped_events
),
-- the state-store dedup keeps ONE row per (event_id, ts): a replayed
-- twin is dropped as a DUPLICATE (not by watermark), so kept counts
-- are dedup-key grain while the watermark drop counter stays ROW
-- grain — every late row is filtered before state (duplicated-rows
-- audit, round 10); a no-op on replay-free data
d AS (SELECT DISTINCT event_id, ts, event_type FROM clamped_events)
SELECT event_type,
       count(*) FILTER (WHERE ts >= cutoff) AS kept_events,
       (SELECT count(*) FROM clamped_events, cut WHERE ts < cutoff)
           AS dropped_observed
FROM d, cut
GROUP BY event_type
""",
)
def streaming_late_event_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting (round 5): the events table is
    replayed as two on-time micro-batches then a file of 14-day-old
    stragglers; a 1-day watermark on a state-store dedup
    (``dropDuplicates`` keyed on the event-time column) drops every
    straggler in micro-batch 3.  The op emits, per event_type, the
    SURVIVING row counts from the append sink plus the runtime's
    OBSERVED ``numRowsDroppedByWatermark`` total (read from
    StreamingQueryProgress, not recomputed) — checked against batch
    ground truth by the oracle, so a silent change in drop semantics
    or a watermark that fails to advance flips the hash.

    Probed semantics this pins (Spark 4.1): windowed AGGREGATION
    admits late rows into fresh state (no input filtering — only
    eviction), while deduplication filters input by the late-events
    watermark, which is the watermark committed one batch before the
    one the progress row displays — hence the 3-batch replay: the
    on-time bulk split in two (older half, then the last 2 days),
    then the stragglers.  With only two batches the operative late
    watermark in batch 1 is still the epoch, and nothing drops
    (probe-verified).

    The replay-anchored ingest clamp applies to the catalog's STATIC
    frame before the cutoff/mid split points are computed and the
    files are written — this staging IS the ingest for this pipeline,
    and an unclamped far-future row would poison max(ts) and push both
    split points past the entire real stream (empty batch 1 = broken
    watermark-lag mechanics) before the stream even starts.

    Scale note: this is the metrics panel a production ingest
    watches; at 100 TB/day the equivalent is the listener feed — no
    extra scan."""
    ev = load_table(spark, sf_dir, "events")
    ev = _ingest_clamp(ev, ev)
    cutoff, mid = ev.agg(
        F.expr("max(ts) - INTERVAL 14 DAY"), F.expr("max(ts) - INTERVAL 2 DAY")
    ).first()
    src = _stage(
        [
            ev.filter((F.col("ts") >= F.lit(cutoff)) & (F.col("ts") < F.lit(mid))),
            ev.filter(F.col("ts") >= F.lit(mid)),
            ev.filter(F.col("ts") < F.lit(cutoff)),
        ],
        "latedrop",
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    deduped = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "event_type")
    )
    kept, progress = drain(deduped, "append")
    dropped = dropped_by_watermark(progress)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("kept_events"),
            F.lit(dropped).cast("bigint").alias("dropped_observed"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "streaming_static_enrich",
    # stream-static joins are stateless (each micro-batch joins the
    # static snapshot), so the availableNow drain equals the batch
    # join — which is the oracle.
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(28,6))), 4) AS DOUBLE)
           AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the events stream joins
    the static customer table (broadcast — the stream side never
    shuffles for the join), then aggregates per market segment in
    complete mode.  The canonical streaming-ETL enrichment shape: at
    100 TB/day of events the dimension is the small side, re-read
    per micro-batch and broadcast to every task; no state store is
    involved because stream-static joins are stateless."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(2)], "enrich")
    customers = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = (
        read_event_stream(spark, src, max_files_per_trigger=1)
        .join(customers, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return drain(enriched, "complete")[0]


# --------------------------------------------------------------------------
@query(
    "streaming_cdc_apply",
    # final state = inserts overridden by the update batch, minus the
    # tombstoned keys — plain SQL over the static table; the streaming
    # side must land on exactly this through 3 incremental merges.
    oracle="""
SELECT st AS status, count(*) AS n_orders,
       CAST(round(sum(CAST(price AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_price
FROM (
    SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'U' ELSE o_orderstatus END AS st,
           CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10.0
                ELSE o_totalprice END AS price
    -- DISTINCT models the keyed MERGE state table: a replayed
    -- (at-least-once) change row collapses into the same key slot,
    -- so the final state is replay-invariant (duplicated-rows audit,
    -- round 10); a no-op on replay-free data
    FROM (SELECT DISTINCT * FROM orders) WHERE o_orderkey % 7 <> 0
)
GROUP BY st
""",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with an idempotent MERGE sink (round 5):
    a change log (inserts → updates for every 4th key → delete
    tombstones for every 7th) streams in three arrival-ordered
    micro-batches; ``foreachBatch`` merges each batch into a parquet
    state table with the repo's join-free union + max_by(priority)
    MERGE and publishes via write-to-temp + atomic swap — the
    continuous-ingest half of the CDC suite (cdc_merge_orders is the
    one-shot batch form).  Final state must equal the batch-merged
    oracle regardless of micro-batch boundaries.

    Scale: per-batch work is state ∪ batch with ONE hash-aggregate
    shuffle on the key; the swap publish is the write-audit-publish
    pattern object stores need for atomicity.  (A production sink
    compacts state periodically — fs_compact_small_files — and lets
    the checkpoint give exactly-once batch ids for idempotence.)"""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    log_schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("st", StringType()),
            StructField("price", DoubleType()),
            StructField("op", StringType()),
            StructField("pri", IntegerType()),
        ]
    )
    ods = load_table(spark, sf_dir, "orders")
    src = _stage(
        [
            ods.select(
                "o_orderkey",
                F.col("o_orderstatus").alias("st"),
                F.col("o_totalprice").alias("price"),
                F.lit("I").alias("op"),
                F.lit(0).alias("pri"),
            ),
            ods.filter(F.col("o_orderkey") % 4 == 0).select(
                "o_orderkey",
                F.lit("U").alias("st"),
                (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
                F.lit("U").alias("op"),
                F.lit(1).alias("pri"),
            ),
            ods.filter(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey",
                F.lit(None).cast("string").alias("st"),
                F.lit(None).cast("double").alias("price"),
                F.lit("D").alias("op"),
                F.lit(2).alias("pri"),
            ),
        ],
        "cdc",
    )
    fs = HadoopFs(spark)
    state_dir = scratch(f"cdc_state_{next(_run_counter)}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if fs.exists(state_dir):
            state = s.read.schema(log_schema).parquet(state_dir)
        else:
            state = local_frame(s, [], log_schema)
        merged = (
            state.unionByName(batch_df)
            .groupBy("o_orderkey")
            .agg(
                F.max_by(F.struct("st", "price", "op", "pri"), F.col("pri")).alias(
                    "r"
                )
            )
            .select("o_orderkey", "r.*")
        )
        _publish_state(fs, merged, state_dir)

    stream = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream, "update", lambda w: w.foreachBatch(apply_batch))
    return (
        spark.read.schema(log_schema)
        .parquet(state_dir)
        .filter(F.col("op") != "D")
        .groupBy(F.col("st").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("price").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "streaming_sliding_counts",
    # complete-mode + availableNow drains every row into OVERLAPPING
    # epoch-aligned 2h/1h sliding windows: each event lands in exactly
    # two windows, so the streaming result equals the batch unnest of
    # the two window starts — SQL-expressible and decimal-deterministic.
    oracle="""
WITH w AS (
    SELECT value, event_type,
           unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS win_start
    FROM events
)
SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
           AS sum_value
FROM w GROUP BY 1, 2, 3
""",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation (2-hour windows advancing
    every hour — each event feeds TWO windows) across 2 micro-batches
    with watermarked state — the overlap is what distinguishes this
    from the tumbling pipeline: window state must accumulate
    contributions from different micro-batches into overlapping
    panes.  Complete-mode drain == the batch formulation where every
    event is exploded into its two enclosing window starts, which is
    the oracle.

    Scale: sliding windows multiply state by window/slide (here 2×),
    not by data volume; the aggregation partial-aggregates per pane
    exactly like the tumbling case."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(2)], "slide")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")[0]


# --------------------------------------------------------------------------
@query(
    "streaming_hll_rollup",
    # the incremental sketch state (3 merges) must estimate within 5%
    # of the exact distinct per type — HLL register-max merging is
    # order/batching-independent, so the flag is deterministic.
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
FROM events GROUP BY event_type
""",
)
def streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sketch maintenance (round 5): the event stream
    arrives in 3 micro-batches; ``foreachBatch`` builds a per-type
    HLL partial for the batch, merges it into a parquet sketch-state
    table via ``hll_union_agg``, and publishes with write-to-temp +
    atomic swap.  The drained state's estimates are audited against
    the batch exact distinct — this is the daily-distinct-users
    rollup pattern at 100 TB: each day touches ONLY its own data and
    kilobytes of sketch state, never the historical raw stream
    (the batch twin sketch_hll_distinct proves the same merge over
    one static pass).

    Scale: per-batch work is one partial-aggregated sketch pass over
    the batch plus a 5-row state union; state size is types ×
    sketch-bytes, constant in data volume."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(3)], "hll")
    fs = HadoopFs(spark)
    state_dir = scratch(f"hll_state_{next(_run_counter)}")
    state_schema = "event_type string, sk binary"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        partial = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        if fs.exists(state_dir):
            state = s.read.schema(state_schema).parquet(state_dir)
            merged = (
                state.unionByName(partial)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = partial
        _publish_state(fs, merged, state_dir)

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    drain(stream, "append", lambda w: w.foreachBatch(apply_batch))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    return (
        spark.read.schema(state_schema)
        .parquet(state_dir)
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("hll_ok"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "streaming_left_outer_join",
    # LEFT-outer stream-stream semantics: an unmatched view emits its
    # NULL-padded row only once the watermark passes view_ts + horizon
    # (state eviction).  The final global watermark is
    # least(max view ts, max purchase ts) − 1 min (per-side maxima —
    # the join watermark is the MIN across inputs); comparing only
    # views at least horizon+delay+margin (63 min) older guarantees
    # every compared view's outcome is DECIDED by end-of-stream, so
    # the drain equals the batch left join over the same set.
    oracle=f"""
WITH {CLAMP_CTES},
mx AS (
    SELECT least(
        (SELECT max(ts) FROM clamped_events WHERE event_type = 'view'),
        (SELECT max(ts) FROM clamped_events WHERE event_type = 'purchase')
    ) AS m
),
v AS (
    SELECT user_id, ts FROM clamped_events, mx
    WHERE event_type = 'view' AND ts <= m - INTERVAL 63 MINUTE
),
p AS (
    SELECT user_id AS p_user, ts AS p_ts, value FROM clamped_events
    WHERE event_type = 'purchase'
)
SELECT v.user_id, v.ts AS view_ts, p.p_ts AS purchase_ts,
       p.value AS purchase_value,
       CASE WHEN p.p_ts IS NULL THEN 1 ELSE 0 END AS unmatched
FROM v LEFT JOIN p
  ON v.user_id = p.p_user
 AND p.p_ts >= v.ts AND p.p_ts < v.ts + INTERVAL 1 HOUR
""",
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join (round 5): views with no
    purchase in the following hour must STILL emit (NULL-padded) —
    but only after the watermark proves no match can arrive; this is
    the state-EVICTION semantics the inner join never exercises
    (an unmatched row's emission is triggered by watermark progress,
    not by data).  The events replay is split into two files in
    EVENT-TIME order (arrival order == event time), so the tight
    1-minute watermark drops nothing, advances past batch 1's views
    during batch 2, and the availableNow drain's final no-data batch
    flushes the remaining decided rows.  Views in the last
    horizon+delay of the stream are EXCLUDED on both engines — their
    outcome is genuinely undecidable at end-of-stream, and the
    restriction makes that semantics explicit rather than wrong.

    Scale: both streams shuffle on user_id once; view state is
    bounded by horizon+delay of event-time, independent of history."""
    # replay-anchored ingest clamp on the catalog's STATIC frame,
    # before the split/cutoff anchors are computed and the
    # event-time-ordered files are written (this staging is the
    # ingest): one far-future row on EITHER side would otherwise poison
    # that side's watermark and force-evict the other side's buffered
    # views at micro-batch-boundary-defined points (module comment
    # above CLAMP_CTES)
    ev_static = load_table(spark, sf_dir, "events")
    ev_static = _ingest_clamp(ev_static, ev_static)
    # the final global watermark is the MIN of the two sides' (max
    # event time − delay); each side's max is per-TYPE, not the
    # table-wide max — the decidability cutoff must use the smaller.
    mid, mxv, mxp = ev_static.agg(
        F.percentile_approx("ts", 0.5),
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
    ).first()
    if mxv is None or mxp is None:
        # EMPTY stream (or one side absent): no join outcome is
        # decidable — emit the empty frame in the output schema
        # instead of crashing on min(None, None) (zero-row audit,
        # round 10)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StructField,
            StructType,
            TimestampType,
        )

        return local_frame(
            spark,
            [],
            StructType(
                [
                    StructField("user_id", LongType()),
                    StructField("view_ts", TimestampType()),
                    StructField("purchase_ts", TimestampType()),
                    StructField("purchase_value", DoubleType()),
                    StructField("unmatched", IntegerType()),
                ]
            ),
        )
    mx = min(mxv, mxp)
    src = _stage(
        [
            ev_static.filter(F.col("ts") <= F.lit(mid)),
            ev_static.filter(F.col("ts") > F.lit(mid)),
        ],
        "louter",
    )
    # the cutoff must NOT filter the stream itself: the views-side
    # watermark tracks the max event time flowing through its node,
    # and the global join watermark is the MIN of both sides — a
    # truncated view stream would cap the watermark below the cutoff
    # views' decision point and their NULL rows would never flush.
    # Stream everything; restrict to the DECIDED set after the drain.
    cutoff = F.lit(mx) - F.expr("INTERVAL 63 MINUTE")
    views = (
        read_event_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 minute")
        .select("user_id", F.col("ts").alias("view_ts"))
    )
    purchases = (
        read_event_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            """user_id = p_user
               AND purchase_ts >= view_ts
               AND purchase_ts < view_ts + INTERVAL 1 HOUR"""
        ),
        "leftOuter",
    ).select(
        "user_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
        F.when(F.col("purchase_ts").isNull(), 1).otherwise(0).alias(
            "unmatched"
        ),
    )
    return drain(joined, "append")[0].filter(F.col("view_ts") <= cutoff)


# --------------------------------------------------------------------------
@query(
    "streaming_session_timeout",
    # the custom sessionizer closes sessions two ways: a later event
    # breaching the 30-min gap (data-driven), or the EVENT-TIME
    # TIMEOUT when the watermark passes last_event + gap.  Comparing
    # sessions ending <= max_ts − 32 min (gap + delay + margin)
    # restricts to sessions provably closed by end-of-stream; they
    # must equal the batch gaps-and-islands sessions.
    oracle=f"""
WITH {CLAMP_CTES},
{sess_ctes("clamped_events")},
rolled AS (
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_no
)
SELECT user_id, session_start, session_end, n_events
FROM rolled, (SELECT max(ts) AS m FROM clamped_events) mx
WHERE session_end <= m - INTERVAL 32 MINUTE
""",
)
def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization with EVENT-TIME TIMEOUTS
    (round 5): ``applyInPandasWithState`` + 
    ``GroupStateTimeout.EventTimeTimeout`` — a later event breaching
    the 30-min gap closes a session immediately; idle users' final
    sessions close when the WATERMARK passes last_event + gap (the
    timer path ``streaming_session_windows``' built-in operator
    hides, and the only way an idle user's last session ever emits).
    Time-ordered 2-file arrival under a tight 1-minute watermark;
    sessions ending in the last gap+delay margin are undecidable at
    end-of-stream and excluded on both engines.

    Scale: state is one (start, last, n) triple per ACTIVE user;
    timeout processing touches only fired timers."""
    # replay-anchored ingest clamp on the catalog's STATIC frame,
    # before the median split point and the cutoff are computed and
    # the files are written (this staging is the ingest): an unclamped
    # far-future row would land in file 2 and advance the tight
    # watermark past every real row's decision point at an
    # arrival-defined instant
    ev = load_table(spark, sf_dir, "events")
    ev = _ingest_clamp(ev, ev)
    mid, mx = ev.agg(F.percentile_approx("ts", 0.5), F.max("ts")).first()
    src = _stage(
        [ev.filter(F.col("ts") <= F.lit(mid)), ev.filter(F.col("ts") > F.lit(mid))],
        "sesto",
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    sessions = drain(session_timeout_sessions(stream), "append")[0]
    # cast pins the type when mx is None (EMPTY stream, zero-row
    # audit r10): an untyped NULL literal fails analysis against the
    # interval arithmetic; a typed NULL cutoff filters to empty
    cutoff = F.lit(mx).cast("timestamp") - F.expr("INTERVAL 32 MINUTE")
    return (
        sessions.select(
            "user_id",
            F.timestamp_micros(F.col("start_us")).alias("session_start"),
            F.timestamp_micros(F.col("end_us")).alias("session_end"),
            "n_events",
        )
        .filter(F.col("session_end") <= cutoff)
    )


# --------------------------------------------------------------------------
@query(
    "streaming_partitioned_sink",
    # exactly-once file sink: the drained hive-partitioned output must
    # re-aggregate to the batch per-type totals.
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
           AS val_sum
FROM events GROUP BY event_type
""",
)
def streaming_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HIVE-PARTITIONED parquet sink (round 5): the event
    stream lands in an ``event_type=…/`` directory layout through a
    checkpointed exactly-once file sink (3 micro-batches), then the
    written lake is read back and re-aggregated — the continuous-
    ingest layout every downstream partition-pruned reader
    (fs_partitioned_prune) assumes.  The sink's _spark_metadata
    commit log is what makes re-reads see only committed files.

    Scale: each micro-batch appends only its own files per partition;
    the sink never rewrites history.  (Production compacts small
    files periodically — fs_compact_small_files.)"""
    src = _stage([load_table(spark, sf_dir, "events").repartition(3)], "psink")
    out = scratch(f"psink_out_{next(_run_counter)}")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    drain(
        stream.select("event_id", "ts", "user_id", "event_type", "value"),
        "append",
        lambda w: w.format("parquet").option("path", out).partitionBy("event_type"),
    )
    # explicit schema: an EMPTY stream drains zero partition dirs and
    # inference would fail on the bare sink metadata (zero-row audit,
    # round 10 — the fs_write_parquet read-back rule)
    return (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "value double, event_type string"
        )
        .parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("val_sum"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "streaming_complete_topk",
    # complete mode re-emits the full result each batch, which is the
    # ONLY output mode where streaming sort+limit is legal; the final
    # drain therefore equals the batch top-3.
    oracle="""
SELECT user_id, total_value, rk FROM (
    SELECT user_id,
           CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS total_value,
           row_number() OVER (
               ORDER BY sum(CAST(value AS DECIMAL(28,6))) DESC, user_id)
               AS rk
    FROM events GROUP BY user_id
) t WHERE rk <= 3
""",
)
def streaming_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE-mode streaming top-k: running per-user value totals
    across 3 micro-batches, sorted and limited INSIDE the streaming
    query — legal only in complete mode (append/update reject
    sorting because their incremental output has no total order; this
    entry pins that asymmetry and the leaderboard-dashboard use it
    enables).  The final drain's top-3 equals the batch ranking on
    the exact decimal totals.

    Scale: complete mode re-emits the whole aggregate per batch —
    viable precisely because the result is top-k-bounded; the
    underlying aggregate state stays one decimal pair per user."""
    src = _stage([load_table(spark, sf_dir, "events").repartition(3)], "topk")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    # the EXACT decimal total rides through the sink so the final rank
    # orders on it like the oracle's ORDER BY sum(decimal) — ranking
    # on the rounded double let a 2-dp rounding tie invert rk between
    # engines (round-7 review finding); rounding is output-only
    agg = (
        stream.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("dec_total"))
        .orderBy(F.desc("dec_total"), F.asc("user_id"))
        .limit(3)
    )
    top = drain(agg, "complete")[0]
    from pyspark.sql import Window

    # rank the <=3-row memory-sink result: the constant partition key
    # keeps the window partitioned-in-plan (the input is top-k-bounded,
    # so a single partition IS the correct scale shape here, and the
    # WindowExec single-partition warning stays out of clean runs)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("dec_total"), F.asc("user_id")
    )
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select(
            "user_id",
            F.round("dec_total", 2).cast("double").alias("total_value"),
            "rk",
        )
    )
