"""Streaming semantics that only show up across MICRO-BATCH
boundaries: watermark advancement, late-data drop, append-mode window
finalization. The oracle-parity checks replay everything in one batch,
so these behaviors need a staged multi-batch replay (one file per
micro-batch via maxFilesPerTrigger=1, file order pinned by mtime)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from pyspark.sql import types as T

# this suite stages its own events files with ts as nanos-since-epoch
# longs (the legacy vintage as Spark reads it), so it declares their
# schema itself
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

BASE_S = 1_700_000_000  # epoch seconds; windows floor to the hour


def _stage_file(spark, watch_dir: str, name: str, rows, mtime: float) -> None:
    """Write one parquet file into the watched directory with a pinned
    mtime (the file source processes oldest-mtime first)."""
    staging = os.path.join(os.path.dirname(watch_dir), f"_stage_{name}")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
    dst = os.path.join(watch_dir, f"{name}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _ev(event_id: int, hour_offset: int) -> tuple:
    ts_nanos = (BASE_S + hour_offset * 3600) * 1_000_000_000
    return (event_id, ts_nanos, event_id % 7, "created", 1.0, "{}")


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Three micro-batches: H+10 events advance the watermark to H+9,
    then H+0 events arrive LATE (window end far behind the watermark)
    and must be dropped; H+20 advances the watermark past the first
    window's end so append mode finalizes exactly that one window.
    If late rows were NOT dropped, the H+0 window (end H+1 << final
    watermark H+19) would be emitted too."""
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    now = 1_000_000.0  # synthetic mtimes: only the ORDER matters
    _stage_file(spark, watch, "a_fresh", [_ev(1, 10), _ev(2, 10)], now + 1)

    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(watch)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_sink")
        .start()
    )
    # batch boundaries pinned by staging each file only after the
    # previous one is fully processed (watermark advances per batch)
    q.processAllAvailable()
    _stage_file(spark, watch, "b_late", [_ev(3, 0), _ev(4, 0)], now + 2)
    q.processAllAvailable()
    _stage_file(spark, watch, "c_advance", [_ev(5, 20)], now + 3)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    rows = spark.table("late_drop_sink").collect()
    # exactly ONE finalized window: the H+10 one, with only the two
    # on-time rows; no window for the late H+0 rows, and the H+20
    # window is still open (end > final watermark)
    assert len(rows) == 1, rows
    assert rows[0]["n"] == 2
    assert rows[0]["window_start"].timestamp() <= BASE_S + 10 * 3600 < rows[0][
        "window_start"
    ].timestamp() + 3600


def test_streaming_dedup_emits_each_key_once_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same (user, hour) key
    re-arriving in a LATER micro-batch (while still inside the
    watermark) must not be emitted again."""
    watch = str(tmp_path / "watch2")
    os.makedirs(watch)
    now = 2_000_000.0
    # same user 3, same hour 10, split across two batches + one new key
    _stage_file(spark, watch, "a", [(10, (BASE_S + 36000) * 10**9, 3, "created", 1.0, "{}")], now + 1)

    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(watch)
    )
    keys = (
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
        .withWatermark("hour_bucket", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "hour_bucket"])
        .select("user_id")
    )
    q = (
        keys.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    q.processAllAvailable()
    _stage_file(
        spark,
        watch,
        "b",
        [
            (11, (BASE_S + 36000 + 60) * 10**9, 3, "updated", 2.0, "{}"),
            (12, (BASE_S + 36000 + 120) * 10**9, 4, "created", 3.0, "{}"),
        ],
        now + 2,
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = sorted(r["user_id"] for r in spark.table("dedup_sink").collect())
    assert got == [3, 4], got


def test_windowed_counts_append_state_is_bounded(spark, sf_dir):
    """Append mode must EVICT finalized windows from the state store:
    after the drain, state holds only the trailing still-open windows,
    not every window of the month-long replay (complete mode held all
    of them — the unbounded-state shape this test guards against)."""
    from env_data_pipeline_spark.observe import observe
    from env_data_pipeline_spark.plans import streaming_queries as SQ

    rec = observe(spark, lambda: SQ.streaming_windowed_event_counts(spark, sf_dir))
    out = rec["value"]
    n_emitted = out.count()
    assert n_emitted > 100  # a month of hourly windows at any test SF

    lp = rec["streaming"]["windowed_event_counts_sink"][-1]
    ops = lp["stateOperators"]
    assert ops, "no state operator reported"
    state_rows = sum(op["numRowsTotal"] for op in ops)
    # open windows = (hour buckets not yet past the watermark) x
    # event types — a handful, orders of magnitude below the total
    assert 0 < state_rows < n_emitted / 5, (
        f"state holds {state_rows} rows for {n_emitted} emitted windows "
        "— eviction is not happening"
    )


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a windowed streaming query mid-stream and resume it from
    the SAME checkpoint into the SAME file sink: the recovered run
    must neither drop nor double-count anything — the final sink
    contents equal the batch computation over the full input at the
    final watermark. This is the persistence the reference's
    background worker promises but never implements
    (orchestrator.py:960-986); here it is the checkpoint + file-sink
    manifest making good on it provably."""
    from pyspark.sql.window import Window

    from env_data_pipeline_spark.catalog import table

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # stage the stream as 4 TIME-ORDERED files: later phases only add
    # data newer than the recovered watermark, so nothing arrives late
    # because of the split itself
    staged = ev.withColumn("part", F.ntile(4).over(Window.orderBy("ts")))
    watch = str(tmp_path / "in")
    os.makedirs(watch)
    now = 2_000_000.0
    for i in range(1, 5):
        _stage_file_typed(
            spark,
            watch,
            f"seg{i}",
            staged.filter(F.col("part") == i).drop("part"),
            now + i,
        )
        if i == 2:
            break  # phase A sees only the first two segments

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start(max_files=None):
        raw = spark.readStream.schema(ev.schema).format("parquet")
        if max_files is not None:
            raw = raw.option("maxFilesPerTrigger", max_files)
        agg = (
            raw.load(watch)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"), "event_type", "n_events"
            )
        )
        return (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )

    # phase A: one file per micro-batch; kill after the FIRST batch
    # commits (a genuine between/mid-batch kill, not a clean drain)
    q = start(max_files=1)
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # the rest of the input arrives while the query is down
    for i in range(3, 5):
        _stage_file_typed(
            spark,
            watch,
            f"seg{i}",
            staged.filter(F.col("part") == i).drop("part"),
            now + i,
        )

    # phase B: resume from the checkpoint, drain everything
    q2 = start()
    q2.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    # batch truth at the final watermark (floored to ms like Spark's
    # WatermarkTracker): windows whose end <= max(ts) - 1h, counted
    # over the FULL input exactly once
    hi = ev.agg(F.max("ts")).first()[0]
    import datetime as _dt

    hi_ms = hi.replace(microsecond=(hi.microsecond // 1000) * 1000)
    cutoff = hi_ms - _dt.timedelta(hours=1)
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in (
            ev.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
            .filter(
                F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff)
            )
            .collect()
        )
    }
    assert got == want


def _stage_file_typed(spark, watch_dir: str, name: str, df, mtime: float) -> None:
    """Stage an already-typed DataFrame as one file in the watched dir
    (the nanos helper _stage_file declares the legacy long schema;
    this one keeps the DataFrame's own schema)."""
    staging = os.path.join(os.path.dirname(watch_dir), f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
    dst = os.path.join(watch_dir, f"{name}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def test_session_windows_merge_across_batches(spark, tmp_path):
    """Session MERGE across micro-batch boundaries: two events for the
    same user arriving in DIFFERENT batches but within the 30-min gap
    must finalize as ONE session spanning both, while a third event
    beyond the gap opens a separate session. A per-batch (non-merging)
    implementation would emit two sessions for the first pair."""
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    now = 2_000_000.0

    def ev_min(event_id: int, minute: int, user: int) -> tuple:
        ts_nanos = (BASE_S + minute * 60) * 1_000_000_000
        return (event_id, ts_nanos, user, "created", 1.0, "{}")

    # batch 1: user 1 at minute 0; batch 2: user 1 at minute 20 (same
    # session, different batch) and minute 60 (new session); batch 3:
    # far-future event advances the watermark to finalize everything
    _stage_file(spark, watch, "a", [ev_min(1, 0, 1)], now + 1)

    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(watch)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"), "user_id", "n"
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_merge_sink")
        .start()
    )
    q.processAllAvailable()
    _stage_file(spark, watch, "b", [ev_min(2, 20, 1), ev_min(3, 60, 1)], now + 2)
    q.processAllAvailable()
    _stage_file(spark, watch, "c", [ev_min(4, 600, 2)], now + 3)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    rows = sorted(
        ((r["user_id"], r["s"].timestamp(), r["n"]) for r in
         spark.table("session_merge_sink").collect())
    )
    # user 1: ONE merged 2-event session [min 0, min 20+gap) and ONE
    # 1-event session at min 60; user 2's session is still open
    assert rows == [
        (1, float(BASE_S), 2),
        (1, float(BASE_S + 3600), 1),
    ], rows


def test_stream_stream_join_state_is_bounded_and_real(spark, sf_dir):
    """The stream-stream interval join must run as a REAL streaming
    join with keyed state on BOTH sides, and the watermark + time-range
    condition must keep buffered state at the horizon scale, not the
    stream length: the whole replay arrives in one batch here, so
    after the final no-data batch advances the watermark, only rows
    within the (2 h range + 1 h watermark) tail may remain buffered."""
    from env_data_pipeline_spark.observe import observe
    from env_data_pipeline_spark.plans import streaming_queries as SQ

    rec = observe(spark, lambda: SQ.streaming_stream_stream_join(spark, sf_dir))
    out = rec["value"]
    n_emitted = out.count()
    assert n_emitted > 0

    lp = rec["streaming"]["stream_stream_attribution_sink"][-1]
    ops = lp["stateOperators"]
    assert ops, "no state operator reported — not a stateful join"
    state_rows = sum(op["numRowsTotal"] for op in ops)
    # total view+purchase rows across the month-long replay
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.catalog import table

    n_input = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .count()
    )
    assert 0 <= state_rows < n_input / 5, (
        f"join buffers {state_rows} of {n_input} input rows — "
        "state is not being evicted at the watermark horizon"
    )


def test_outer_and_semi_join_state_is_bounded_and_measured(spark, sf_dir):
    """MEASURED state ceilings for the three non-inner stream-stream
    variants (left-outer / left-semi / full-outer), same claim the
    inner-join test pins: the watermark + time-range condition must
    keep buffered state at the (2 h range + 1 h lateness) horizon
    scale, not the stream length. The availableNow replay runs the
    data batch plus a trailing flush batch that advances the global
    watermark to max(ts) - 1 h and evicts everything older — so
    lastProgress.stateOperators[].numRowsTotal reports the
    POST-EVICTION state, which must be a small fraction of the
    month-long input. numRowsRemoved > 0 proves eviction actually ran
    rather than state never having been buffered."""
    import pytest

    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.observe import observe
    from env_data_pipeline_spark.plans import streaming_queries as SQ

    n_input = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .count()
    )
    variants = [
        (SQ.streaming_stream_stream_left_join, "stream_stream_attribution_left_sink"),
        (SQ.streaming_stream_stream_semi_join, "stream_stream_attribution_semi_sink"),
        (
            SQ.streaming_stream_stream_full_outer_join,
            "stream_stream_attribution_full_sink",
        ),
    ]
    ceilings = {}
    for fn, sink in variants:
        rec = observe(spark, lambda: fn(spark, sf_dir))
        out = rec["value"]
        assert out.count() > 0, sink
        history = rec["streaming"][sink]
        lp = history[-1]
        ops = lp["stateOperators"]
        assert ops, f"{sink}: no state operator reported — not a stateful join"
        state_rows = sum(op["numRowsTotal"] for op in ops)
        # eviction can land in ANY micro-batch (full-outer evicts in
        # the flush batch's outer-null path, outer/semi in the flush
        # batch's removal path) — sum removals across the whole run.
        # Spark's full-outer null-emission eviction does NOT increment
        # numRowsRemoved (observed: numRowsTotal 390 -> 3 with
        # numRowsRemoved 0), so also accept the measured cross-batch
        # DROP in numRowsTotal as eviction evidence.
        totals = [
            sum(op["numRowsTotal"] for op in p["stateOperators"]) for p in history
        ]
        removed = sum(
            op["numRowsRemoved"] for p in history for op in p["stateOperators"]
        )
        state_drop = max(
            (a - b for a, b in zip(totals, totals[1:])), default=0
        )
        assert removed > 0 or state_drop > 0, (
            f"{sink}: no state row was ever evicted (totals {totals})"
        )
        assert 0 <= state_rows < n_input / 5, (
            f"{sink} buffers {state_rows} of {n_input} input rows — "
            "state is not being evicted at the watermark horizon"
        )
        ceilings[sink] = state_rows
    if not ceilings:
        pytest.fail("no variant ran")


def test_left_outer_join_emits_null_at_watermark_horizon(spark, tmp_path):
    """LEFT-OUTER stream-stream join null emission: an unmatched view
    emits (view, NULL) exactly when the global watermark (MIN of both
    sides) passes view_ts + 2 h — not before, not never. Staged so one
    user matches, one is unmatched-and-finalized, one is
    unmatched-but-inside-the-horizon (must NOT emit)."""
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    now = 3_000_000.0

    def row(event_id, minute, user, etype, value=1.0):
        ts_nanos = (BASE_S + minute * 60) * 1_000_000_000
        return (event_id, ts_nanos, user, etype, value, "{}")

    _stage_file(
        spark,
        watch,
        "a",
        [
            row(1, 0, 1, "view"),
            row(2, 10, 1, "purchase", 5.0),
            row(3, 0, 2, "view"),  # never matched, far behind horizon
            row(4, 540, 3, "view"),  # never matched, INSIDE horizon
            # watermark pushers on BOTH sides: min-of-sides = 10h - 1h
            row(5, 600, 9, "view"),
            row(6, 600, 9, "purchase", 0.5),
        ],
        now + 1,
    )
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(watch)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_event_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_event_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    j = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    ).select("user_id", "view_event_id", "purchase_event_id")
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName("lo_semantics_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["view_event_id"], r["purchase_event_id"])
        for r in spark.table("lo_semantics_sink").collect()
    }
    assert (1, 1, 2) in got, got  # matched pair emits
    assert (9, 5, 6) in got, got  # watermark pusher matches itself
    assert (2, 3, None) in got, got  # finalized unmatched -> NULL row
    # view at minute 540: 540m + 2h horizon not yet passed by the 9h
    # watermark -> must still be buffered, no emission of any kind
    assert not any(r[1] == 4 for r in got), got


def test_stateful_timeout_drops_expired_state(spark, sf_dir):
    """EventTimeTimeout state eviction: after the full replay + flush
    batch, every user idle >= 30 min as of the final watermark must
    have fired its timeout and DROPPED its state — the state store
    holds exactly the still-open keys (one row each), not one row per
    user ever seen."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.observe import observe
    from env_data_pipeline_spark.plans.streaming_queries import (
        streaming_stateful_session_expiry,
    )

    rec = observe(spark, lambda: streaming_stateful_session_expiry(spark, sf_dir))
    out = rec["value"]
    assert out.count() > 0

    lp = rec["streaming"]["stateful_session_expiry"][-1]
    ops = lp["stateOperators"]
    assert ops, "no state operator reported"
    state_rows = sum(op["numRowsTotal"] for op in ops)
    removed = sum(op["numRowsRemoved"] for op in ops)

    ev = table(spark, sf_dir, "events")
    # the engine's GroupState clock is milliseconds
    wm = ev.agg(
        (F.floor(F.unix_micros(F.max("ts")) / 1000) - 3600 * 1000).alias("w")
    ).collect()[0]["w"]
    still_open = (
        ev.groupBy("user_id")
        .agg(F.floor(F.unix_micros(F.max("ts")) / 1000).alias("last_ms"))
        .filter(F.col("last_ms") + 30 * 60 * 1000 >= wm)
        .count()
    )
    n_users = ev.select("user_id").distinct().count()
    assert removed > 0, "no key ever timed out — eviction never ran"
    assert state_rows == still_open, (
        f"state holds {state_rows} keys; exactly {still_open} of "
        f"{n_users} users are inside the 30-min idle horizon"
    )


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState, faithful to the pieces
    the session kernel uses: exists/get/update/remove, hasTimedOut,
    getCurrentWatermarkMs, and setTimeoutTimestamp's cannot-be-older-
    than-watermark contract."""

    def __init__(self):
        self._val = None
        self.wm_ms = 0
        self.timed_out = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        assert self._val is not None
        return self._val

    @property
    def hasTimedOut(self):
        return self.timed_out

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None
        self.timeout_ms = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.wm_ms, "armed a timeout below the watermark"
        self.timeout_ms = ms


def _replay_session_kernel(batches):
    """Drive the session-expiry kernel over (events, wm_ms) batches the
    way the engine would for one key: a batch with data invokes the
    data path; a batch without data fires the timed-out path iff the
    armed timer lies strictly below the new watermark. Returns the
    emitted session set and the final state."""
    import pandas as pd

    from env_data_pipeline_spark.streaming.stateful import _make_session_expiry_fn

    fn = _make_session_expiry_fn()
    state = _FakeGroupState()
    emitted = []
    for events, wm_ms in batches:
        assert wm_ms >= state.wm_ms, "watermark must be monotone"
        state.wm_ms = wm_ms
        if events:
            for t_us, _v in events:
                assert t_us // 1000 >= wm_ms, "batch carries a sub-watermark event"
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime([t for t, _ in events], unit="us"),
                    "value": [v for _, v in events],
                }
            )
            state.timed_out = False
            out = list(fn((7,), iter([pdf]), state))
        elif state.timeout_ms is not None and state.timeout_ms < wm_ms:
            state.timed_out = True
            out = list(fn((7,), iter([]), state))
            state.timed_out = False
        else:
            out = []
        for frame in out:
            emitted.extend(
                (
                    int(r.session_start_us),
                    int(r.session_end_us),
                    int(r.n_events),
                    float(r.total_value),
                )
                for r in frame.itertuples()
            )
    return emitted, state


def test_session_kernel_batching_and_order_invariant():
    """ADVICE r6: the kernel must sessionize identically to a GLOBAL
    sort of the admitted events no matter how they are batched or
    (admissibly) reordered — including an out-of-order event that
    lands BEFORE the open session's start, the exact case the old
    fold-into-open-session shortcut got wrong."""
    MIN_US = 60_000_000
    GAP_US = 30 * MIN_US
    ev = {  # minute -> (ts_us, value)
        m: (m * MIN_US, v)
        for m, v in [(0, 1.5), (10, 2.25), (50, 0.75), (55, 4.0), (120, 3.5), (125, 0.5)]
    }
    # global-sort sessions: A=[0,10], B=[50,55], C=[120,125]
    expect_a = (0, 10 * MIN_US + GAP_US, 2, 3.75)
    expect_b = (50 * MIN_US, 55 * MIN_US + GAP_US, 2, 4.75)
    expect_c = (120 * MIN_US, 125 * MIN_US + GAP_US, 2, 4.0)
    wm_final = 100 * 60_000  # ms: finalizes A (fire 40min) and B (85min), not C (155min)

    single = [([ev[m] for m in (0, 10, 50, 55, 120, 125)], 0), ([], wm_final)]
    in_order = [
        ([ev[0], ev[10]], 0),
        ([ev[50], ev[55]], 5 * 60_000),
        ([ev[120], ev[125]], 20 * 60_000),
        ([], wm_final),
    ]
    out_of_order = [  # event 0 arrives AFTER the session it precedes opened
        ([ev[55]], 0),
        ([ev[0], ev[120]], 0),
        ([ev[50], ev[10], ev[125]], 5 * 60_000),
        ([], wm_final),
    ]
    results = []
    for scenario in (single, in_order, out_of_order):
        emitted, state = _replay_session_kernel(scenario)
        assert sorted(emitted) == [expect_a, expect_b], emitted
        assert state.exists, "still-open session C must stay in state"
        results.append(sorted(emitted))
    assert results[0] == results[1] == results[2]

    # pushing the watermark past C's horizon emits it once and DROPS
    # the state (timeout eviction)
    emitted, state = _replay_session_kernel(single + [([], 156 * 60_000)])
    assert sorted(emitted) == [expect_a, expect_b, expect_c], emitted
    assert not state.exists and state.timeout_ms is None


def test_session_kernel_never_double_emits():
    """A session crosses finality exactly once: replaying extra no-data
    flush batches after the emitting one yields nothing new."""
    MIN_US = 60_000_000
    batches = [
        ([(0, 1.0), (5 * MIN_US, 2.0)], 0),
        ([], 40 * 60_000),
        ([], 50 * 60_000),
        ([], 60 * 60_000),
    ]
    emitted, state = _replay_session_kernel(batches)
    assert len(emitted) == 1 and emitted[0][2] == 2, emitted
    assert not state.exists


def test_full_outer_join_emits_both_null_sides(spark, tmp_path):
    """FULL-OUTER stream-stream join: both unmatched sides must emit
    their NULL row under the correct finalization rule — an unmatched
    view at view_ts + 2 h < watermark, an unmatched purchase at
    purchase_ts < watermark — and rows still inside their horizon must
    stay buffered."""
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    now = 3_000_000.0

    def row(event_id, minute, user, etype, value=1.0):
        ts_nanos = (BASE_S + minute * 60) * 1_000_000_000
        return (event_id, ts_nanos, user, etype, value, "{}")

    _stage_file(
        spark,
        watch,
        "a",
        [
            row(1, 0, 1, "view"),
            row(2, 10, 1, "purchase", 5.0),  # matched pair
            row(3, 0, 2, "view"),  # unmatched view, behind horizon
            row(4, 5, 5, "purchase", 2.0),  # unmatched purchase, behind horizon
            # unmatched purchase INSIDE horizon: a purchase finalizes
            # when wm passes its OWN ts (here wm = 540 min), so it must
            # sit at ts >= wm to stay buffered
            row(7, 590, 6, "purchase", 3.0),
            row(8, 540, 3, "view"),  # unmatched view INSIDE horizon
            # watermark pushers on BOTH sides: min-of-sides wm = 10h - 1h
            row(5, 600, 9, "view"),
            row(6, 600, 9, "purchase", 0.5),
        ],
        now + 1,
    )
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(watch)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_event_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_event_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    j = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        "fullOuter",
    ).select(
        F.coalesce("user_id", "p_user_id").alias("uid"),
        "view_event_id",
        "purchase_event_id",
    )
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName("fo_semantics_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["uid"], r["view_event_id"], r["purchase_event_id"])
        for r in spark.table("fo_semantics_sink").collect()
    }
    assert (1, 1, 2) in got, got  # matched pair emits
    assert (9, 5, 6) in got, got  # watermark pusher matches itself
    assert (2, 3, None) in got, got  # finalized unmatched view
    assert (5, None, 4) in got, got  # finalized unmatched purchase
    # both inside-horizon rows must still be buffered, no emission
    assert not any(r[1] == 8 for r in got), got
    assert not any(r[2] == 7 for r in got), got


def test_session_kernel_fuzz_against_sorted_reference():
    """Randomized (seeded) fuzz of the watermark-gated session kernel:
    for random event sets, random admissible batchings, and a rising
    watermark schedule, the emitted sessions must equal the reference
    computed from a GLOBAL sort under the finality rule
    floor(last_us/1000) + GAP_MS < final watermark — and no session
    may ever emit twice."""
    import random

    MIN_US = 60_000_000
    GAP_US = 30 * MIN_US
    GAP_MS = 30 * 60_000
    rng = random.Random(20260814)

    for trial in range(25):
        n = rng.randint(1, 40)
        times = sorted(
            rng.sample(range(0, 12 * 60), n)
        )  # minutes, unique
        events = [(m * MIN_US, round(rng.uniform(0, 20), 2)) for m in times]
        wm_final_ms = rng.randint(0, 13 * 60) * 60_000

        # reference: global-sort sessionization + finality rule
        ref = []
        cur = [events[0]]
        for ev in events[1:]:
            if ev[0] - cur[-1][0] >= GAP_US:
                ref.append(cur)
                cur = [ev]
            else:
                cur.append(ev)
        ref.append(cur)
        import math

        def units(v):
            return math.floor(v * 10000 + 0.5)

        # random admissible batching: shuffle events into batches with
        # a non-decreasing watermark that never exceeds any batched
        # event's own time (Spark would have dropped it otherwise)
        shuffled = events[:]
        rng.shuffle(shuffled)
        batches = []
        wm = 0
        i = 0
        while i < len(shuffled):
            k = rng.randint(1, 4)
            chunk = shuffled[i : i + k]
            # admissible + monotone: the watermark may rise only up to
            # the min event time of everything NOT YET delivered (a
            # shrinking set, so this bound is itself non-decreasing)
            lo_rest = min(t // 1000 for t, _ in shuffled[i:])
            wm = rng.randint(wm, max(lo_rest, wm))
            batches.append((chunk, wm))
            i += k
        batches.append(([], max(wm, wm_final_ms)))
        wm_final_ms = max(wm, wm_final_ms)  # the schedule is monotone
        expected = sorted(
            (
                s[0][0],
                s[-1][0] + GAP_US,
                len(s),
                sum(units(v) for _, v in s) / 10000.0,
            )
            for s in ref
            if s[-1][0] // 1000 + GAP_MS < wm_final_ms
        )

        emitted, _state = _replay_session_kernel(batches)
        got = sorted(
            (a, b, c, round(d, 4)) for a, b, c, d in emitted
        )
        assert got == expected, (
            f"trial {trial}: wm={wm_final_ms} events={times}\n"
            f"got {got}\nexpected {expected}"
        )
        assert len(emitted) == len(set(emitted)), "double emission"


def test_ivf_drift_trajectory_matches_batch_verdict(spark, sf_dir):
    """The streaming drift monitor's FINAL batch must reproduce the
    batch verdict query's drifted-scenario metric exactly (same
    arrivals, same frozen centroids, same integer permille math),
    and the trajectory must be well-formed: 3 batches, cumulative
    n_arrivals strictly increasing, verdict consistent with the
    threshold rule per row."""
    from env_data_pipeline_spark.plans import registry
    from env_data_pipeline_spark.plans.vectorops import _DRIFT_THRESH

    registry.load_all()
    traj = (
        registry.QUERIES["streaming_ivf_drift_refresh"](spark, sf_dir)
        .orderBy("batch_id")
        .collect()
    )
    assert [r["batch_id"] for r in traj] == [0, 1, 2]
    arr = [r["n_arrivals"] for r in traj]
    assert arr[0] > 0 and arr[0] < arr[1] < arr[2]
    for r in traj:
        want = "RETRAIN" if r["max_shift_permille"] > _DRIFT_THRESH else "KEEP"
        assert r["verdict"] == want, r

    batch = {
        r["scenario"]: r
        for r in registry.QUERIES["ivf_drift_retrain_verdict"](
            spark, sf_dir
        ).collect()
    }
    drifted = batch["drifted"]
    assert traj[-1]["max_shift_permille"] == drifted["max_shift_permille"]
    assert traj[-1]["verdict"] == drifted["verdict"] == "RETRAIN"
    assert batch["stationary"]["verdict"] == "KEEP"


def test_streaming_cusum_equals_batch_report(spark, sf_dir):
    """The streamed daily-partial state, finalized through the shared
    cusum_report, must row-for-row equal the batch query — the
    add-merge across micro-batch boundaries cannot move an exact
    integer partial sum."""
    from env_data_pipeline_spark.plans.statmining import (
        events_cusum_changepoint,
        streaming_cusum_refresh,
    )

    batch = sorted(map(tuple, events_cusum_changepoint(spark, sf_dir).collect()))
    stream = sorted(map(tuple, streaming_cusum_refresh(spark, sf_dir).collect()))
    assert stream == batch
    assert batch, "report must be non-empty"


def test_streaming_skyline_equals_batch_frontier(spark, sf_dir):
    """skyline(A ∪ B) = skyline(skyline(A) ∪ B): the streamed
    frontier must row-for-row equal the batch skyline."""
    from env_data_pipeline_spark.plans.statmining import (
        part_price_size_skyline,
        streaming_skyline_refresh,
    )

    batch = sorted(map(tuple, part_price_size_skyline(spark, sf_dir).collect()))
    stream = sorted(map(tuple, streaming_skyline_refresh(spark, sf_dir).collect()))
    assert stream == batch
    assert batch, "frontier must be non-empty"


def test_streaming_mann_kendall_equals_batch_report(spark, sf_dir):
    """The streamed daily-partial state, finalized through the shared
    mann_kendall_report, must row-for-row equal the batch query."""
    from env_data_pipeline_spark.plans.statmining import (
        events_mann_kendall_trend,
        streaming_mann_kendall_refresh,
    )

    batch = sorted(map(tuple, events_mann_kendall_trend(spark, sf_dir).collect()))
    stream = sorted(
        map(tuple, streaming_mann_kendall_refresh(spark, sf_dir).collect())
    )
    assert stream == batch
    assert batch, "report must be non-empty"


def test_streaming_hhi_equals_batch_report(spark, sf_dir):
    """The streamed (nation, supplier) revenue-partial state,
    finalized through the shared hhi_report, must row-for-row equal
    the batch concentration query."""
    from env_data_pipeline_spark.plans.statmining import (
        nation_supplier_hhi,
        streaming_hhi_refresh,
    )

    batch = sorted(map(tuple, nation_supplier_hhi(spark, sf_dir).collect()))
    stream = sorted(map(tuple, streaming_hhi_refresh(spark, sf_dir).collect()))
    assert stream == batch
    assert batch, "report must be non-empty"


def test_streaming_quality_agreement_equals_batch(spark, sf_dir):
    """The streamed per-source classifier-agreement counters,
    finalized through the shared projection, must row-for-row equal
    the batch ledger — additive counters under a FROZEN weight table
    cannot move across micro-batch boundaries."""
    from env_data_pipeline_spark.plans.qualityclf import (
        corpus_quality_agreement,
        streaming_quality_score_refresh,
    )

    batch = sorted(map(tuple, corpus_quality_agreement(spark, sf_dir).collect()))
    stream = sorted(
        map(tuple, streaming_quality_score_refresh(spark, sf_dir).collect())
    )
    assert stream == batch
    assert batch, "ledger must be non-empty"
