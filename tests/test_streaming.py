"""Structured Streaming tests (SURVEY.md §2.4): file source →
watermark → windowed/session aggregation → memory sink, plus a custom
stateful operator — each checked against the equivalent BATCH
computation over the same files (incremental plan must converge to
the batch answer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_hdfs_spark.streaming.pipelines import (
    dedup_stream,
    drain,
    read_event_stream,
    running_user_totals,
    session_windows,
    windowed_counts,
)


@pytest.fixture(scope="module")
def event_files(spark, sf_dir, tmp_path_factory):
    """events split into 3 time-ordered parquet files, so
    maxFilesPerTrigger=1 yields 3 micro-batches with an advancing
    watermark (simulated arrival order)."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql.window import Window

    from duckdb_hdfs_spark.sources.catalog import load_table

    out = str(tmp_path_factory.mktemp("event_stream"))
    events = load_table(spark, sf_dir, "events")
    n = events.count()
    chunk = ((F.row_number().over(Window.orderBy("ts")) - 1) * 3 / F.lit(n)).cast("int")
    ordered = events.withColumn("chunk", chunk)
    for i in range(3):
        (
            ordered.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out}/part{i}")
        )
        src = _glob.glob(f"{out}/part{i}/part-*.parquet")[0]
        shutil.move(src, f"{out}/events_{i}.parquet")
        shutil.rmtree(f"{out}/part{i}")
    assert len(os.listdir(out)) == 3
    return out


def _batch_events(spark, event_files):
    return spark.read.parquet(f"{event_files}/*.parquet")


def test_windowed_counts_matches_batch(spark, event_files):
    """Complete-mode streaming window agg == batch window agg."""
    stream = read_event_stream(spark, event_files, max_files_per_trigger=1)
    got = {
        (r.win_start, r.event_type): (r.n_events, r.sum_value)
        for r in drain(windowed_counts(stream), "complete")[0].collect()
    }
    batch = (
        _batch_events(spark, event_files)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )
    want = {
        (r["win"].start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_windowed_append_emits_only_closed_windows(spark, event_files):
    """Append mode + watermark: only windows whose end <= final
    watermark (max ts - delay) are emitted."""
    stream = read_event_stream(spark, event_files, max_files_per_trigger=1)
    emitted = drain(
        windowed_counts(stream, window="1 day", watermark="1 day"), "append"
    )[0]
    max_ts = _batch_events(spark, event_files).agg(F.max("ts")).first()[0]
    closed = emitted.filter(
        F.col("win_end") > F.lit(max_ts) - F.expr("INTERVAL 1 DAY")
    ).count()
    assert closed == 0, "append mode emitted a window still open at final watermark"
    assert emitted.count() > 0, "no closed windows emitted"


def test_session_windows_match_batch(spark, event_files):
    """Streaming session_window sessions == batch session_window."""
    stream = read_event_stream(spark, event_files, max_files_per_trigger=1)
    sessions = drain(session_windows(stream, gap="2 hours"), "complete")[0]
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in sessions.collect()
    }
    batch = (
        _batch_events(spark, event_files)
        .groupBy(F.session_window("ts", "2 hours").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )
    want = {
        (r.user_id, r["sw"].start): (r["sw"].end, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_drain_leaves_nothing_behind(spark, event_files):
    """A memory-sink drain returns its rows and progress, and leaves no
    temp view, no checkpoint under the scratch root and no
    ``<tmp>/temporary-*`` checkpoint; a drained frame still collects
    its own rows after the same query drained again."""
    import glob as _glob
    import os
    import tempfile

    from duckdb_hdfs_spark.sources.fs import _SCRATCH

    def scratch_entries():
        return set(os.listdir(_SCRATCH)) if os.path.isdir(_SCRATCH) else set()

    def temp_checkpoints():
        return set(_glob.glob(f"{tempfile.gettempdir()}/temporary-*"))

    views = {t.name for t in spark.catalog.listTables()}
    entries, temps = scratch_entries(), temp_checkpoints()

    def run():
        return drain(
            windowed_counts(
                read_event_stream(spark, event_files, max_files_per_trigger=1)
            ),
            "complete",
        )

    first, progress = run()
    rows = sorted(first.collect())
    assert rows and len(progress) >= 3
    second, _ = run()
    assert sorted(second.collect()) == rows
    assert sorted(first.collect()) == rows
    assert {t.name for t in spark.catalog.listTables()} == views
    assert scratch_entries() == entries
    assert temp_checkpoints() == temps


def test_streaming_dedup_matches_batch(spark, sf_dir, tmp_path):
    """State-store dedup over a 2-chunk document stream == batch
    distinct over the same files (one survivor per content hash)."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    src = str(tmp_path / "doc_stream")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = drain(dedup_stream(stream), "append")[0]
    n_hashes = (
        docs.select(
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
            ).alias("h")
        )
        .distinct()
        .count()
    )
    assert got.count() == n_hashes
    assert got.select("content_hash").distinct().count() == n_hashes


def test_checkpointed_ingest_is_exactly_once(spark, sf_dir, tmp_path):
    """File-sink ingest with a checkpoint: restarting the query over
    an already-processed source must not duplicate rows; new files are
    picked up incrementally."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a")

    def drain():
        from duckdb_hdfs_spark.streaming.pipelines import read_event_stream

        q = (
            read_event_stream(spark, f"{src}/*")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out).count()
    drain()  # restart with nothing new: must be a no-op
    assert spark.read.parquet(out).count() == first
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b")
    drain()  # picks up only the new file
    total = spark.read.parquet(out)
    assert total.count() == ev.count()
    assert total.select("event_id").distinct().count() == ev.count()


def test_restart_recovery_after_mid_stream_kill(spark, sf_dir, tmp_path):
    """Kill a checkpointed file-sink query MID-STREAM — after the
    first committed micro-batch, with most one-file batches still
    pending — and resume from the same checkpoint: the resumed run
    must land EXACTLY the uninterrupted result, with any partially
    written batch hidden by the sink's commit log.  This is the
    restart path the checkpoint exists for (the checkpointed-ingest
    test above only ever restarts a COMPLETED query)."""
    import time

    from duckdb_hdfs_spark.sources.catalog import load_table

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ev = load_table(spark, sf_dir, "events")
    for i in range(6):
        ev.filter(F.col("event_id") % 6 == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def start():
        return (
            read_event_stream(spark, f"{src}/*", max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break
        time.sleep(0.01)
    q.stop()  # hard mid-stream interruption
    q.awaitTermination(60)
    committed = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    if committed == 6:
        # poll-then-stop race lost: availableNow drained every batch
        # before stop() landed, so there is no mid-stream state to
        # test this run (ADVICE r6 — test-env speed, not a product
        # bug; the kill path is still exercised on normal runs)
        pytest.skip("query drained fully before stop(); kill not mid-stream")
    assert committed >= 1, "no batch committed before stop()"
    # the interrupted sink must already be readable and exactly-once
    # for whatever WAS committed (commit log hides partial batches)
    partial = spark.read.parquet(out)
    assert partial.count() == partial.select("event_id").distinct().count()
    assert partial.count() < ev.count()

    q2 = start()  # resume from the checkpoint; availableNow drains
    assert q2.awaitTermination(120), "resumed query did not finish"
    got = spark.read.parquet(out)
    assert got.count() == ev.count(), "resume lost or duplicated rows"
    assert got.select("event_id").distinct().count() == ev.count()


def test_stateful_windowed_agg_recovers_state_after_kill(
    spark, event_files, tmp_path
):
    """State-store recovery (the stateful sibling of the stateless
    kill test above): a watermarked windowed aggregation in append
    mode over a file sink, killed after its first committed
    micro-batch, must on resume produce EXACTLY the uninterrupted
    run's output — the window state and watermark come back from the
    checkpointed state store, not from a fresh scan."""
    import time

    def run(out: str, ckpt: str, kill_mid_stream: bool):
        q = (
            windowed_counts(
                read_event_stream(spark, event_files, max_files_per_trigger=1),
                window="1 day",
                watermark="1 day",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not kill_mid_stream:
            assert q.awaitTermination(120), "query did not finish"
            return None
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] > 0:
                break
            time.sleep(0.01)
        q.stop()
        q.awaitTermination(60)
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    committed = run(str(tmp_path / "out_k"), str(tmp_path / "ck_k"), True)
    if committed == 3:
        pytest.skip("query drained fully before stop(); kill not mid-stream")
    assert committed is not None and committed >= 1, (
        "no batch committed before stop()"
    )
    run(str(tmp_path / "out_k"), str(tmp_path / "ck_k"), False)  # resume
    run(str(tmp_path / "out_u"), str(tmp_path / "ck_u"), False)  # control
    killed = spark.read.parquet(str(tmp_path / "out_k"))
    full = spark.read.parquet(str(tmp_path / "out_u"))
    cols = sorted(killed.columns)
    assert killed.count() > 0, "no closed windows emitted"
    assert sorted(map(tuple, killed.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    ), "recovered run diverged from uninterrupted run"


def test_custom_state_survives_kill_and_resume(spark, event_files, tmp_path):
    """The hardest recovery path: applyInPandasWithState CUSTOM state
    (per-user (n, total) pairs) across a mid-stream kill.  Resume from
    the checkpoint must CONTINUE the accumulators — final per-user
    totals equal the batch ground truth, which a state reset cannot
    produce (earlier micro-batches' files are never re-read)."""
    import time

    ckpt = str(tmp_path / "ck")
    emitted: list = []

    def start(leg: int):
        def sink(batch_df, batch_id):
            emitted.append((leg, batch_id, batch_df.collect()))

        return (
            running_user_totals(
                read_event_stream(spark, event_files, max_files_per_trigger=1)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start(0)
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break
        time.sleep(0.01)
    q.stop()
    q.awaitTermination(60)
    committed = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if committed == 3:
        pytest.skip("query drained fully before stop(); kill not mid-stream")
    assert committed >= 1, "no batch committed before stop()"
    q2 = start(1)
    assert q2.awaitTermination(180), "resumed query did not finish"

    final: dict[int, tuple] = {}
    for _leg, _bid, rows in sorted(emitted, key=lambda t: (t[0], t[1])):
        for r in rows:
            final[r.user_id] = (r.n_events, round(r.total_value, 4))
    batch = (
        _batch_events(spark, event_files)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
    )
    want = {r.user_id: (r.n, r.tv) for r in batch.collect()}
    assert final == want, "custom state did not survive the restart"


def test_stateful_running_totals(spark, event_files):
    """applyInPandasWithState running totals: final per-user state ==
    batch groupBy sums, and totals only grow across micro-batches."""
    stream = read_event_stream(spark, event_files, max_files_per_trigger=1)
    batches: list = []

    def sink(batch_df, batch_id):
        batches.append((batch_id, batch_df.collect()))

    drain(running_user_totals(stream), "update", lambda w: w.foreachBatch(sink))
    assert len(batches) >= 3, f"expected >=3 micro-batches, got {len(batches)}"
    final: dict[int, tuple] = {}
    seen: dict[int, int] = {}
    for _bid, rows in batches:
        for r in rows:
            assert r.n_events >= seen.get(r.user_id, 0), "running count shrank"
            seen[r.user_id] = r.n_events
            final[r.user_id] = (r.n_events, round(r.total_value, 4))
    batch = (
        _batch_events(spark, event_files)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
    )
    want = {r.user_id: (r.n, r.tv) for r in batch.collect()}
    assert {u: (n, t) for u, (n, t) in final.items()} == want


# --------------------------------------------------------------------------
# watermark-poisoning defense (round 11, verdict task #4): the round-10
# timestamp-extremes audit MEASURED the hazard (one far-future event →
# watermark past the whole real stream → decided sessions 450 vs 828)
# but the production rule existed only as prose.  clamp_event_time is
# that rule as code: bound event time at now + slack AT INGEST, before
# the watermark column is declared.
def _write_poisoned_stream(spark, out: str) -> tuple[str, "object"]:
    """Three mtime-ordered parquet files: file0 carries 5 users' first
    sessions PLUS one corrupt year-2262 event; files 1-2 carry the
    same users' later sessions.  Returns (src_dir, max_real_ts)."""
    import datetime
    import glob as _glob
    import os
    import shutil

    from duckdb_hdfs_spark.streaming.pipelines import EVENTS_SCHEMA

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mins = datetime.timedelta(minutes=1)

    def batch_rows(start_min: int, eid0: int):
        rows = []
        for u in range(1, 6):
            for i in range(4):
                ts = t0 + (start_min + u + i * 5) * mins
                rows.append((eid0 + u * 10 + i, ts, u, "view", 1.0, "{}"))
        return rows

    f0 = batch_rows(0, 0)
    poison = (999, datetime.datetime(2262, 4, 11, 0, 0, 0), 99, "view", 1.0, "{}")
    f0.append(poison)
    f1 = batch_rows(180, 1000)  # +3 h → new sessions under a 30-min gap
    f2 = batch_rows(360, 2000)  # +6 h
    max_real = t0 + (360 + 5 + 15) * mins
    os.makedirs(out, exist_ok=True)
    for i, rows in enumerate((f0, f1, f2)):
        d = f"{out}/part{i}"
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        src = _glob.glob(f"{d}/part-*.parquet")[0]
        dst = f"{out}/events_{i}.parquet"
        shutil.move(src, dst)
        shutil.rmtree(d)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return out, max_real


def test_clamp_event_time_defuses_watermark_poison(spark, tmp_path):
    """Without the ingest clamp, the single 2262 event advances the
    watermark past every real row and the later micro-batches'
    sessions mass-drop; with clamp_event_time the SAME stream decides
    every real session and the result equals the batch sessionization
    of the clamped data (the corrupt row survives, clamped, flagged)."""
    from duckdb_hdfs_spark.streaming.pipelines import (
        clamp_event_time,
        dropped_by_watermark,
    )

    src, max_real = _write_poisoned_stream(spark, str(tmp_path / "poisoned"))

    def run(clamp: bool):
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        if clamp:
            stream = clamp_event_time(
                stream, slack="1 hour", now=max_real, flag_col="_clamped"
            ).drop("_clamped")
        return drain(
            session_windows(stream, gap="30 minutes", watermark="1 hour"),
            "complete",
        )

    poisoned, prog_p = run(clamp=False)
    n_poisoned = poisoned.count()
    assert dropped_by_watermark(prog_p) > 0, (
        "expected the 2262 event to poison the watermark and drop "
        "later batches' rows (the hazard this helper defends against)"
    )

    clamped, prog_c = run(clamp=True)
    assert dropped_by_watermark(prog_c) == 0
    assert clamped.count() > n_poisoned, (
        "clamped run should decide the sessions the poisoned run lost"
    )

    # streaming result over the clamped stream == batch sessionization
    # of the identically-clamped batch read (clamp is a pure map, so it
    # applies to both sides verbatim)
    batch = clamp_event_time(
        spark.read.parquet(f"{src}/*.parquet"), slack="1 hour", now=max_real
    )
    want = {
        (r.user_id, r["sw"].start): (r["sw"].end, r.n_events)
        for r in batch.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in clamped.collect()
    }
    assert got == want and len(got) == 16  # 5 users x 3 sessions + clamped row

    # the flag column does the quarantine accounting: exactly the one
    # corrupt row is marked
    flagged = clamp_event_time(
        spark.read.parquet(f"{src}/*.parquet"),
        slack="1 hour",
        now=max_real,
        flag_col="_clamped",
    )
    assert flagged.filter(F.col("_clamped")).count() == 1


# --------------------------------------------------------------------------
# round 12 (r11-verdict task #3): the replay-anchored two-sided clamp,
# wired into ALL FIVE watermark state machines, with the ts-extremes
# audit's former exclusion class reduced to zero.
def test_clamp_event_time_past_floor(spark):
    """Two-sided clamp: far-past rows clamp UP to now − past_slack,
    far-future rows still clamp DOWN, in-range rows pass untouched,
    and the flag covers both directions."""
    import datetime

    from duckdb_hdfs_spark.streaming.pipelines import clamp_event_time

    now = datetime.datetime(2024, 1, 15, 0, 0, 0)
    rows = [
        (1, datetime.datetime(1677, 9, 22, 0, 0, 0)),   # far past
        (2, datetime.datetime(2024, 1, 14, 12, 0, 0)),  # in range
        (3, datetime.datetime(2262, 4, 10, 0, 0, 0)),   # far future
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    out = {
        r.event_id: (r.ts, r.flagged)
        for r in clamp_event_time(
            df, slack="1 hour", now=now, past_slack="2 days",
            flag_col="flagged",
        ).collect()
    }
    assert out[1] == (now - datetime.timedelta(days=2), True)
    assert out[2] == (rows[1][1], False)
    assert out[3] == (now + datetime.timedelta(hours=1), True)


def test_replay_clamp_anchor_trims_poisoned_tail(spark):
    """The replay anchor is the min of the top-3%+1 ts order
    statistics: on a 100-row stream with 2 far-future corrupt rows it
    must land on a CLEAN high value (the 4th-largest overall), not on
    the poison — and on an empty frame it is None."""
    import datetime

    from duckdb_hdfs_spark.streaming.pipelines import replay_clamp_anchor

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mins = datetime.timedelta(minutes=1)
    rows = [(i, t0 + i * mins) for i in range(98)]
    rows += [(998, datetime.datetime(2262, 4, 10, 0, 0, 0)),
             (999, datetime.datetime(2038, 1, 19, 3, 14, 8))]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    # n=100 -> k = 3 + 1 = 4 -> anchor = 4th largest = clean row 96
    assert replay_clamp_anchor(df) == t0 + 96 * mins
    empty = df.filter("event_id < 0")
    assert replay_clamp_anchor(empty) is None


def test_watermark_machines_oracle_green_on_poisoned_replay(spark, sf_dir, tmp_path):
    """The r11-verdict done-criterion, as a permanent regression gate:
    ALL FIVE watermark state machines (session windows, custom
    session timeouts, late-event drops, inner and left-outer
    stream-stream joins) stay oracle-green on the timestamp-extremes
    poisoned fixture (2% of events.ts forced to 1677/2262/1969-epoch-
    edge/leap-day/2038 parser-garbage instants).  Before round 12
    these five were excluded from the timestamp-extremes audit as
    arrival-order-defined under corruption; the replay-anchored
    ingest clamp (mirrored in each oracle via CLAMP_CTES) makes both
    engines compute the same deterministically clamped stream."""
    from duckdb_hdfs_spark import audit
    from duckdb_hdfs_spark.oracle import run_all

    dst = audit.build("ts_extreme", sf_dir, str(tmp_path)).perturbed
    keys = [
        "streaming_session_windows",
        "streaming_view_purchase_join",
        "streaming_late_event_drops",
        "streaming_left_outer_join",
        "streaming_session_timeout",
        # + the round-12 audit's other find: epoch floor-division at
        # the negative-epoch instant (sql_epoch_calendar_funcs —
        # engines' native conversions disagree in both directions at
        # −1 µs; both sides now lower through the pmod floor identity)
        "sql_epoch_calendar_funcs",
    ]
    res = run_all(spark, dst, names=keys)
    bad = [str(r) for r in res if not r.ok]
    assert bad == [], bad
