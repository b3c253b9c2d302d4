"""Structured Streaming pipelines (SURVEY.md §2.4, tests-only ops).

The reference engine has no streaming surface — these cover the
streaming half of the Spark-native design: the same event analytics
the batch queries compute (tumbling windows, sessionization, per-user
running state), expressed as incremental plans over a file source.

Scale design (100 TB / continuous ingest):
- File source + explicit schema: no inference scan; each micro-batch
  lists only new files, so ingest cost tracks arrival rate, not
  corpus size.
- Watermarks bound state: windowed/session aggregations drop state
  once the watermark passes, so state store size tracks the
  out-of-orderness bound, not stream length.
- ``applyInPandasWithState`` for custom per-key state (running
  totals): Arrow-batched per group, state is (count, sum) per user —
  O(|users|) state, never O(|events|).
- ``availableNow`` trigger for tests and backfills: processes the
  current file set incrementally (respecting ``maxFilesPerTrigger``)
  then stops — identical code path to a live continuous run.

Every availableNow query the package runs starts and drains in one
place, :func:`drain`: memory sink, ``foreachBatch`` and file sink
alike.  Its checkpoint lives under the per-process scratch root
(``sources.fs.scratch``) and is removed once the drain succeeds; a
memory sink's temp view is dropped as soon as the returned frame is
analyzed, so repeated runs leave no view and no directory behind.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from duckdb_hdfs_spark.sources.fs import HadoopFs, scratch

#: events table schema (TESTDATA.md) — explicit so the stream never
#: pays an inference scan and schema drift fails loudly.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file-source stream of the events table."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type — the
    streaming twin of the batch ``ev_tumbling_counts`` query.  The
    sum accumulates in DECIMAL so the result is order-independent
    (mergeable partial state) and engine-portable for the oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
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


def session_windows(
    events: DataFrame, gap: str = "2 hours", watermark: str = "1 day"
) -> DataFrame:
    """Gap-based sessionization via ``session_window`` — the
    streaming twin of the batch ``ev_sessionize`` query (which uses
    the lag + cumulative-sum formulation; same session boundaries).
    The value sum accumulates in DECIMAL so merged session state is
    order-independent and engine-portable for the oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def interval_join_views_purchases(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream attribution join: each purchase matches every
    view by the same user in the preceding ``horizon``.  Both sides
    are watermarked and the join condition carries the event-time
    range, so the state store can evict a buffered view once event
    time passes ``view_ts + horizon + watermark`` — state size tracks
    the ACTIVE horizon window, not stream history.

    Scale: the join shuffles both streams by ``user_id`` (state and
    matching are co-partitioned per key); per-key buffered state is
    bounded by the horizon, so a 1000-executor cluster holds
    |active users x horizon events| state, independent of days run."""
    v = views.withWatermark("ts", watermark).select(
        "user_id", F.col("ts").alias("view_ts")
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        F.expr(
            f"""user_id = p_user_id
                AND purchase_ts >= view_ts
                AND purchase_ts < view_ts + INTERVAL {horizon}"""
        ),
    ).select("user_id", "view_ts", "purchase_ts", "purchase_value")


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("n_vals", LongType()),
    ]
)


def _update_running_totals(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user running (count, sum(value)) across micro-batches.
    State is one (n, total, n_vals) triple per user — bounded by key
    cardinality, not stream length.  ``n_vals`` counts NON-NULL
    values (all-NULL audit, round 10): pandas ``.sum()`` returns 0.0
    over an all-NaN column where SQL ``sum`` is NULL — a user whose
    every value is NULL must emit a NULL total, not 0.0."""
    n, total, n_vals = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        n_vals += int(pdf["value"].notna().sum())
    state.update((n, total, n_vals))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total if n_vals else None],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals emitted every
    micro-batch (update semantics)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_totals,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: first arrival of each normalized-content
    hash survives; later duplicates are dropped by the state store
    (``dropDuplicates`` keyed on the digest).  State is one digest per
    distinct document — the incremental twin of the batch
    ``dedup_exact`` operator.  In production add a watermark +
    ``dropDuplicatesWithinWatermark`` to bound state for unbounded
    streams."""
    from duckdb_hdfs_spark.operators.dedup import norm_text

    # the SAME normalize-then-md5 as the batch dedup_exact — imported,
    # not re-spelled, so the streaming digest can never silently
    # diverge from the batch one (round-7 review finding)
    hashed = docs.withColumn("content_hash", F.md5(norm_text(F.col("text"))))
    return hashed.dropDuplicates(["content_hash"]).select(
        id_col, "content_hash"
    )


def clamp_event_time(
    events: DataFrame,
    ts_col: str = "ts",
    slack: str = "1 hour",
    now=None,
    flag_col: str | None = None,
    past_slack: str | None = None,
) -> DataFrame:
    """Clamp far-future event times at INGEST, before any watermark
    sees them — the production rule the round-10 timestamp-extremes
    audit measured the need for (SURVEY §5): a SINGLE corrupted
    far-future timestamp (2262/2038 parser garbage) advances the
    stream's watermark past the entire real stream, and every
    stateful operator behind it mass-drops or force-closes
    legitimate rows (measured: decided-session counts 450 vs 828),
    with WHICH rows depending on micro-batch arrival boundaries.

    Event times later than ``now + slack`` are clamped to exactly
    ``now + slack``; with ``past_slack`` set, times earlier than
    ``now - past_slack`` are clamped UP to exactly that floor
    (far-past parser garbage — 1677/1969/2000 corruption classes —
    otherwise lands below every operator's watermark and is dropped
    or state-evicted at micro-batch-boundary-dependent points; rows
    genuinely older than the floor belong to a backfill path, not a
    live watermarked stream).  Everything else (including NULLs)
    passes through untouched.  On clean data the clamp is a
    value-level no-op, so wiring it into an ingest path never
    changes correct results — it only bounds the damage a corrupt
    row can do to the watermark clock.

    ``now``: the wall-clock reference — defaults to
    ``F.current_timestamp()`` (evaluated per micro-batch in a
    stream, which is the production semantics: "no event may claim
    to come from more than ``slack`` in the future").  Tests and
    HISTORICAL REPLAYS pass a literal anchored to the replay's own
    clock (see :func:`replay_clamp_anchor`) to stay deterministic.
    ``flag_col``: optionally record which rows were clamped, for
    quarantine accounting downstream.

    Scale: a pure map-side expression — no shuffle, no state; cost
    is one comparison per row regardless of stream volume."""
    now_col = F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    limit = now_col + F.expr(f"INTERVAL {slack}")
    ts = F.col(ts_col)
    out = events
    clamped = F.when(ts > limit, limit).otherwise(ts)
    flag = ts > limit
    if past_slack is not None:
        floor = now_col - F.expr(f"INTERVAL {past_slack}")
        clamped = F.when(ts > limit, limit).when(ts < floor, floor).otherwise(ts)
        flag = flag | (ts < floor)
    if flag_col is not None:
        # NULL event times yield a NULL comparison; coalesce so the
        # flag is a genuine boolean (false = not clamped) and a
        # downstream `flag == False` filter cannot silently drop
        # NULL-ts rows (round-12 advisor)
        out = out.withColumn(flag_col, F.coalesce(flag, F.lit(False)))
    return out.withColumn(ts_col, clamped)


def replay_clamp_anchor(events: DataFrame, ts_col: str = "ts"):
    """The REPLAY deployment's clamp clock (round 12, r11-verdict
    task #3): a live stream anchors :func:`clamp_event_time` at the
    wall clock, but replaying HISTORY through the same pipelines
    needs the clamp anchored to the replay's own clock — wall-clock
    ``now + slack`` is years past a historical stream, so a corrupt
    2262 timestamp would clamp to a value still far beyond every
    real event and poison the watermark anyway.

    The anchor is a ROBUST top-of-stream estimate: the minimum of
    the top ``3% + 1`` order statistics of the event-time column —
    i.e. "the newest event time, after discarding a corruption-sized
    top tail".  max() itself would be poisoned by a single corrupt
    row; a 3%+1 trim survives any top-tail corruption burst up to 3%
    of the replay (the adversarial audits inject 2%).  Pure integer
    order statistics on the timestamp multiset — no interpolation,
    so any engine computing it on the same rows lands on the
    microsecond-identical value (an interpolated percentile differs
    across engines by a ulp of the ~1.7e15 epoch-micros scale, which
    a floor() then amplifies to a whole microsecond).

    Returns the anchor as a Python datetime (None on an empty
    frame).  One count + one top-k job over the replay source —
    fixture-scale work; live deployments use the wall clock and
    never call this."""
    n = events.count()
    if n == 0:
        return None
    k = n * 3 // 100 + 1
    return (
        events.select(ts_col)
        .orderBy(F.desc(ts_col))
        .limit(k)
        .agg(F.min(ts_col))
        .first()[0]
    )


#: state-partition count for every drain — see :func:`drain`
_DRAIN_STATE_PARTITIONS = "8"
_DRAIN_TIMEOUT_S = 180
_drains = itertools.count()


def drain(
    df: DataFrame, output_mode: str, sink=None
) -> tuple[DataFrame | None, list]:
    """Start ``df`` with an availableNow trigger and drain it.

    ``sink`` configures the ``DataStreamWriter`` of a ``foreachBatch``
    or file sink; without one the rows drain into a memory sink and
    the drained frame comes back.  Returns ``(frame, progress)``:
    ``frame`` is None for a caller's sink, and ``progress`` is the
    query's progress records (one dict per micro-batch), so callers
    can audit runtime metrics — e.g.
    ``stateOperators[].numRowsDroppedByWatermark`` for late-data
    accounting.

    Nothing outlives the drain but its output.  The checkpoint lives
    under the scratch root and is removed once the drain succeeds (a
    failed drain's stays there until the process exits).  The memory
    sink's temp view is dropped once the returned frame is analyzed:
    the frame keeps the sink's rows and still collects them, while the
    session's catalog holds nothing, so a repeated run never collides
    with or pins an earlier run's rows.

    State-partition sizing: a stateful query locks its state-store
    partition count from ``spark.sql.shuffle.partitions`` at its first
    micro-batch, and every subsequent batch commits every partition of
    every state store — so a one-file-per-trigger drain over a few
    thousand rows pays (batches x stores x partitions) commit overhead
    scaled to the SESSION's batch-sized default (32), not to the
    stream.  Every drain therefore starts with
    ``_DRAIN_STATE_PARTITIONS`` (8), sized to these drains (measured:
    the two-state-store stream-stream join fell 28s → 8s warm, results
    identical).  The session conf is restored right after start —
    streaming isolates itself by cloning the session there, so the
    running drain keeps its value.  Mutating the session-global conf
    is only safe because drains run single-threaded per session:
    nothing else plans a query between set and restore.  Results are
    partition-count-independent (pinned by the oracle and the
    shuffle.partitions=7 sweep probes).

    The progress buffer is bounded by
    ``spark.sql.streaming.numRecentProgressUpdates`` — sessions from
    get_spark() raise it to 10,000 (session.py) because the 100-entry
    default silently evicts early micro-batches on long one-file-per-
    trigger drains, undercounting the audit (round-7 review).  A
    trigger that hangs past the timeout stops the query and raises."""
    spark = df.sparkSession
    n = next(_drains)
    view = f"t_drain_{n}"
    ckpt = scratch(f"drain_ckpt_{n}")
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if sink is None:
        writer = writer.format("memory").queryName(view)
    else:
        writer = sink(writer)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _DRAIN_STATE_PARTITIONS)
    try:
        q = writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination(_DRAIN_TIMEOUT_S)
    if q.isActive:  # pragma: no cover - guard against hung trigger
        q.stop()
        raise TimeoutError(f"drain {n} did not finish in {_DRAIN_TIMEOUT_S}s")
    HadoopFs(spark).rm(ckpt, recursive=True)
    progress = list(q.recentProgress)
    if sink is not None:
        return None, progress
    frame = spark.table(view)
    spark.catalog.dropTempView(view)
    return frame, progress


def dropped_by_watermark(progress: list) -> int:
    """Total rows the watermark dropped across a run's micro-batches
    (summed over every stateful operator's progress metrics)."""
    return sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for op in (p.get("stateOperators") or [])
    )


SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)

# derived from the SAME constant the batch sessionizers and the
# streaming_session_timeout oracle interpolate — a second hardcoded
# 30 would let the two sessionizations silently drift apart if the
# gap were ever tuned (round-7 review finding)
from duckdb_hdfs_spark.queries.events import SESSION_GAP_MIN  # noqa: E402

SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def _session_timeout_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom event-time sessionizer: 30-min gap closes a session
    (emitted immediately); an OPEN session closes via EVENT-TIME
    TIMEOUT when the watermark passes last_event + gap — the state
    machine a built-in session_window hides.  State per user is one
    (start, last, n) triple."""
    closed = {"user_id": [], "start_us": [], "end_us": [], "n_events": []}

    def emit(start, last, n):
        closed["user_id"].append(key[0])
        closed["start_us"].append(start)
        closed["end_us"].append(last)
        closed["n_events"].append(n)

    if state.hasTimedOut:
        start, last, n = state.get
        emit(start, last, n)
        state.remove()
        yield pd.DataFrame(closed)
        return

    start, last, n = state.get if state.exists else (None, None, 0)
    ts_us = sorted(
        int(t)
        for pdf in batches
        for t in (pdf["ts"].astype("int64") // 1000).tolist()
    )
    for t in ts_us:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > SESSION_GAP_US:
            emit(start, last, n)
            start, last, n = t, t, 1
        else:
            # cross-batch disorder within the watermark can deliver an
            # event OLDER than the carried state: never rewind `last`
            # (a rewound last fakes a gap breach against the next
            # event) and extend `start` backward instead (round-7
            # review finding)
            start, last, n = min(start, t), max(last, t), n + 1
    wm_ms = state.getCurrentWatermarkMs()
    close_ms = (last + SESSION_GAP_US) // 1000 + 1
    if close_ms <= wm_ms:
        # the gap already elapsed in event time — close immediately
        # (setTimeoutTimestamp would reject a timestamp <= watermark)
        emit(start, last, n)
        state.remove()
    else:
        state.update((start, last, n))
        state.setTimeoutTimestamp(close_ms)
    yield pd.DataFrame(closed)


def session_timeout_sessions(events: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator with
    event-time timeouts (``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout``): data closes sessions when
    a later event breaches the gap; the WATERMARK closes the rest —
    the semantics production session stores rely on to ever emit the
    final session of an idle user.

    Scale: state is one triple per ACTIVE user (closed state is
    removed); timeout processing touches only keys whose timers fire,
    not the whole store."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
