"""Registry entries for the streaming slice (SURVEY.md §2.9): every
query here runs a REAL streaming query (micro-batch engine, state
store, watermark) over the events file-source replay and drains it
synchronously (``_drain``), so the result is a plain DataFrame the
driver can check. The stream source, the drain and the attribution
join they share live in streaming/event_trigger.py; the
applyInPandasWithState kernels in streaming/stateful.py.

Scale: file source -> kafka source is a one-line swap; the watermark
bounds state (1 hour, mirroring the reference's declared 1-hour result
currency, orchestrator.py:657 / O8); window counts are
partial-aggregated per micro-batch. The window oracles are
SQL-expressible: date_trunc('hour') is exactly the tumbling-window
start for 1-hour windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures
from env_data_pipeline_spark.streaming import stateful as ST
from env_data_pipeline_spark.streaming.event_trigger import (
    _attribution_join,
    _drain,
    _event_stream,
)


@query(
    "streaming_windowed_event_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    -- Spark's WatermarkTracker holds the watermark in MILLISECONDS
    -- (max event time floored to ms, minus the delay); truncate the
    -- oracle's cutoff the same way so a max(ts) with sub-ms micros
    -- cannot admit a window Spark hasn't finalized. Exact-boundary
    -- ties (max(ts) hour-aligned at ms precision) are excluded by
    -- tests/test_testdata_contract.py::test_events_max_ts_not_hour_aligned.
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <=
          (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR FROM events)
    GROUP BY 1, 2
    """,
)
def streaming_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type with a 1-hour watermark
    (the engine-native streaming agg of SURVEY.md §2.9). APPEND output
    mode: a window is emitted exactly once, when the watermark passes
    its end, and its state is evicted — state is bounded by the
    watermark horizon, not the stream length (complete mode would hold
    every window ever seen). The availableNow drain's final no-data
    batch finalizes every window whose end <= max(ts) - 1h; the last
    still-open windows are intentionally NOT emitted (they would close
    on the next batch of a live stream), and the oracle, the batch
    date_trunc equivalent, applies the same finalization cutoff."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain(spark, agg, "windowed_event_counts_sink", "append")


@query(
    "streaming_sliding_window_counts",
    oracle="""
    WITH w AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts)
                       - INTERVAL 30 MINUTE]) AS ws
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM w
    -- same ms-truncated watermark finalization cutoff as the tumbling
    -- oracle: only windows whose END the watermark has passed emit
    WHERE ws + INTERVAL 1 HOUR <=
          (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR
           FROM events)
    GROUP BY 1, 2
    """,
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 1-hour windows every 30 minutes: every event lands in
    exactly two overlapping windows. Completes the window-class
    coverage next to tumbling and session, with the same append-mode
    finalization contract: a window emits once when the watermark
    passes its end. Both engines align buckets to 30-minute epoch
    multiples, so the oracle fans each row to its two window starts
    relationally and applies the identical cutoff. State is bounded by
    (window length / slide) x watermark horizon — the overlap factor
    multiplies state rows, not raw data, which is why the slide should
    stay a coarse fraction of the length at 100 TB."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain(spark, agg, "sliding_window_counts_sink", "append")


@query(
    "streaming_priority_routing",
    oracle="""
    WITH typed AS (
      SELECT event_id,
             CASE WHEN event_id % 17 = 15 THEN 'deleted'
                  WHEN event_id % 17 = 16 THEN CAST(NULL AS STRING)
                  WHEN event_id % 3 = 0 THEN 'created'
                  WHEN event_id % 3 = 1 THEN 'updated'
                  ELSE 'location_changed' END AS event_type,
             CASE WHEN event_id % 19 = 18 THEN 'urgent'
                  WHEN event_id % 4 = 0 THEN 'low'
                  WHEN event_id % 4 = 1 THEN 'normal'
                  WHEN event_id % 4 = 2 THEN 'high'
                  ELSE 'emergency' END AS priority
      FROM events
    )
    SELECT event_id, event_type, priority,
           CASE WHEN priority = 'emergency' THEN 'landfire,modis,weather,topography'
                WHEN event_type = 'created' THEN 'landfire,modis,weather,topography'
                ELSE 'weather' END AS sources_scheduled,
           CASE WHEN priority = 'emergency' THEN 60
                WHEN event_type = 'created' THEN 120
                ELSE 30 END AS estimated_completion_seconds
    FROM typed
    WHERE event_type IN ('created', 'updated', 'location_changed')
      AND priority IN ('low', 'normal', 'high', 'emergency')
    """,
)
def streaming_priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5/O6: the event-trigger path as a streaming query. O5
    routing applied to the live stream: derive the event_type /
    priority vocab (same arithmetic as the requests fixture), route to
    sources with completion budgets (orchestrator.py:923-935), and
    emit per-event rows in append mode — what the reference's
    background worker stub (O6) would persist."""
    ev = _event_stream(spark, sf_dir)
    eid = F.col("event_id")
    event_type = (
        F.when(eid % 17 == 15, "deleted")
        .when(eid % 17 == 16, F.lit(None).cast("string"))
        .when(eid % 3 == 0, "created")
        .when(eid % 3 == 1, "updated")
        .otherwise("location_changed")
    )
    priority = (
        F.when(eid % 19 == 18, "urgent")
        .when(eid % 4 == 0, "low")
        .when(eid % 4 == 1, "normal")
        .when(eid % 4 == 2, "high")
        .otherwise("emergency")
    )
    routed = (
        ev.select(eid.alias("event_id"), event_type.alias("event_type"), priority.alias("priority"))
        .filter(
            F.col("event_type").isin("created", "updated", "location_changed")
            & F.col("priority").isin("low", "normal", "high", "emergency")
        )
        .select(
            "event_id",
            "event_type",
            "priority",
            F.when(F.col("priority") == "emergency", "landfire,modis,weather,topography")
            .when(F.col("event_type") == "created", "landfire,modis,weather,topography")
            .otherwise("weather")
            .alias("sources_scheduled"),
            F.when(F.col("priority") == "emergency", 60)
            .when(F.col("event_type") == "created", 120)
            .otherwise(30)
            .alias("estimated_completion_seconds"),
        )
    )
    return _drain(spark, routed, "priority_routed_events_sink", "append")


@query(
    "streaming_cache_dedup",
    oracle="""
    SELECT DISTINCT user_id,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket
    FROM events
    """,
)
def streaming_cache_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8/X1 on the live stream: one computation per (user, hour)
    cache key via dropDuplicatesWithinWatermark — the streaming form
    of the batch request-cache dedup. State for a key is held only
    until the watermark passes it (bounded state at any stream
    length, unlike plain dropDuplicates). Only the KEY columns are
    emitted: which physical row represents a key is
    arrival-order-dependent in a stream, the key set is not — over a
    full replay it equals batch DISTINCT, so it gets a full oracle."""
    ev = _event_stream(spark, sf_dir)
    keys = (
        ev.withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
        .withWatermark("hour_bucket", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "hour_bucket"])
        .select(
            "user_id",
            F.date_format("hour_bucket", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
        )
    )
    return _drain(spark, keys, "cache_dedup_keys_sink", "append")


@query(
    "streaming_enriched_events",
    oracle=f"""
    {duck_with("requests")},
    dim AS (
      SELECT CAST(substring(request_id, 5) AS BIGINT) AS event_id,
             request_id, priority, event_type AS request_event_type
      FROM requests
    )
    SELECT e.event_id, d.request_id, e.event_type, d.request_event_type, d.priority
    FROM events e JOIN dim d ON d.event_id = e.event_id
    """,
)
def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the canonical enrichment shape): the live
    event stream joined 1:1 to the static requests dimension on the
    event key. The static side is re-read per micro-batch by the
    engine, so dimension updates between batches are picked up; the
    join itself needs no state store (no watermark bookkeeping) — at
    scale this is a broadcast of the dimension into every batch. Over
    a full replay it equals the batch join, so full oracle."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    dim = requests.select(
        F.expr("CAST(substring(request_id, 5) AS BIGINT)").alias("event_id"),
        "request_id",
        "priority",
        F.col("event_type").alias("request_event_type"),
    )
    ev = _event_stream(spark, sf_dir)
    joined = ev.select("event_id", "event_type", "value").join(
        F.broadcast(dim), "event_id"
    ).select("event_id", "request_id", "event_type", "request_event_type", "priority")
    return _drain(spark, joined, "enriched_events_sink", "append")


@query(
    "streaming_stateful_event_totals",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
)
def streaming_stateful_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-event-type totals with explicit keyed state (the kernel is
    streaming/stateful.py::_make_totals_fn). Keeping the final
    (highest-count) emission per key makes the result the
    deterministic end-of-stream total regardless of micro-batch count;
    it equals the batch aggregate, so this stateful path gets a full
    SQL oracle."""
    stream = _event_stream(spark, sf_dir).select("event_type", "value")
    updates = stream.groupBy("event_type").applyInPandasWithState(
        ST._make_totals_fn(),
        outputStructType=ST.OUTPUT_SCHEMA,
        stateStructType=ST.STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    all_updates = _drain(spark, updates, "stateful_event_totals", "update")
    final = all_updates.groupBy("event_type").agg(
        F.max_by(F.struct("n_events", "total_value"), "n_events").alias("s")
    )
    return final.select(
        "event_type",
        F.col("s.n_events").alias("n_events"),
        F.round(F.col("s.total_value"), 4).alias("total_value"),
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_event_id,
           b.event_id AS purchase_event_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us,
           ROUND(b.value, 4) AS purchase_value
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: the live view stream inner-joined
    to the live purchase stream on user_id with an event-time range —
    every purchase within 2 h after a view attributes to it. Both
    sides carry watermarks and the join carries the time-range
    condition, which is what lets the state store evict a buffered
    view once the purchase-side watermark passes view_ts + 2 h —
    without the range constraint both sides buffer forever. Inner
    matches emit as soon as both rows have arrived, so the full replay
    equals the batch interval join — full oracle (the append-mode
    caveat of outer stream-stream joins does not apply to inner).

    At scale both streams shuffle on user_id into co-partitioned
    state stores; per-key buffered state spans only the 2 h + 1 h
    watermark horizon, independent of stream length."""
    joined = _attribution_join(spark, sf_dir, "inner").select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain(spark, joined, "stream_stream_attribution_sink", "append")


@query(
    "streaming_stream_stream_left_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    -- the engine's global watermark is the MIN of both sides'
    -- (multipleWatermarkPolicy=min), each = ms-truncated side max - 1h
    wm AS (
      SELECT least(
               (SELECT date_trunc('millisecond', max(ts)) FROM v),
               (SELECT date_trunc('millisecond', max(ts)) FROM p)
             ) - INTERVAL 1 HOUR AS w
    )
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
           ROUND(p.value, 4) AS purchase_value
    FROM v
    LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    -- matched pairs emit on arrival (inner semantics); an unmatched
    -- view emits its NULL row only once the watermark proves no
    -- future purchase can match (view evicted from join state)
    WHERE p.event_id IS NOT NULL
       OR v.ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
    """,
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (the variant a real
    attribution pipeline needs: views that never convert must still be
    accounted): matched (view, purchase) pairs emit on arrival exactly
    like the inner join; an UNMATCHED view emits (view, NULL purchase)
    only when the join state can prove no future purchase can match
    it — i.e. when the global watermark (the MIN of both sides'
    watermarks, Spark's default multipleWatermarkPolicy) passes
    view_ts + 2 h and the buffered view evicts. availableNow replay
    runs a trailing no-data micro-batch after the data batch, which is
    where those null emissions land. Oracle = batch left join
    restricted to matched rows plus finalized-unmatched rows under the
    identical min-of-sides ms-truncated watermark.

    At scale this is the same co-partitioned two-sided state as the
    inner join — the outer variant adds only a matched bit per
    buffered view, so state stays bounded by the 2 h + 1 h horizon."""
    joined = _attribution_join(spark, sf_dir, "leftOuter").select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain(spark, joined, "stream_stream_attribution_left_sink", "append")


@query(
    "streaming_stream_stream_semi_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_event_id,
           epoch_us(v.ts) AS view_ts_us
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = v.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
      )
    """,
)
def streaming_stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-SEMI stream-stream interval join — the converted-views
    feed: a view emits (once) as soon as SOME purchase lands in its
    2 h window; views that never convert emit nothing and their state
    evicts silently at the watermark horizon, so the oracle is a plain
    EXISTS with no watermark clause — semi-join emission needs only
    match evidence, never finalization. Completes the stream-stream
    join-type matrix (inner / left-outer / full-outer / left-semi).

    At scale: same co-partitioned state as the inner join, but the
    output carries only the view side and each buffered view emits at
    most once — no match-multiplicity amplification."""
    joined = _attribution_join(spark, sf_dir, "leftSemi").select(
        "user_id",
        "view_event_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
    )
    return _drain(spark, joined, "stream_stream_attribution_semi_sink", "append")


@query(
    "streaming_stream_stream_full_outer_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least(
               (SELECT date_trunc('millisecond', max(ts)) FROM v),
               (SELECT date_trunc('millisecond', max(ts)) FROM p)
             ) - INTERVAL 1 HOUR AS w
    )
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
           ROUND(p.value, 4) AS purchase_value
    FROM v
    FULL JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    -- matched pairs emit on arrival; an unmatched VIEW finalizes when
    -- the watermark passes its 2 h match horizon; an unmatched
    -- PURCHASE finalizes when the watermark passes its own event time
    -- (any later view lies outside the interval by construction)
    WHERE (v.event_id IS NOT NULL AND p.event_id IS NOT NULL)
       OR (p.event_id IS NULL
           AND v.ts + INTERVAL 2 HOUR < (SELECT w FROM wm))
       OR (v.event_id IS NULL AND p.ts < (SELECT w FROM wm))
    """,
)
def streaming_stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-OUTER stream-stream interval join — both unmatched sides
    surface: a view that never converts emits (view, NULL purchase)
    when the global watermark passes view_ts + 2 h (its last possible
    match), and a purchase with no preceding view emits (NULL view,
    purchase) when the watermark passes purchase_ts (any later-arriving
    view would carry event time >= the watermark > purchase_ts, outside
    the interval). Matched pairs emit on arrival like the inner join.
    Oracle = batch full join restricted to matched rows plus each
    side's finalized unmatched rows under the identical min-of-sides
    ms-truncated watermark.

    At scale: the same co-partitioned two-sided state as the inner
    join — the outer variant adds a matched bit per buffered row on
    BOTH sides; state stays bounded by the 2 h interval + 1 h
    lateness horizon per side."""
    joined = _attribution_join(spark, sf_dir, "fullOuter").select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain(spark, joined, "stream_stream_attribution_full_sink", "append")


@query(
    "streaming_stateful_session_expiry",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events
    ),
    m AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN pts IS NULL
                        OR epoch_us(ts) - epoch_us(pts) >= 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    ),
    s AS (
      SELECT user_id, sid,
             MIN(epoch_us(ts)) AS session_start_us,
             MAX(epoch_us(ts)) + 1800000000 AS session_end_us,
             MAX(ts) AS last_ts,
             COUNT(*) AS n_events,
             ROUND(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                   / 10000.0, 4) AS total_value
      FROM m GROUP BY user_id, sid
    ),
    wm AS (
      SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS w
      FROM events
    )
    SELECT user_id, session_start_us, session_end_us,
           n_events, total_value
    FROM s
    -- watermark-gated finality, the built-in session-window rule: a
    -- session emits exactly once, when the ms-floored last event
    -- + 30 min falls strictly below the watermark (the GroupState
    -- clock is milliseconds) — gap evidence alone does NOT emit,
    -- because a late-but-admitted event could still merge into any
    -- session whose horizon the watermark has not passed
    WHERE date_trunc('millisecond', last_ts) + INTERVAL 30 MINUTE
          < (SELECT w FROM wm)
    """,
)
def streaming_stateful_session_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator with EVENT-TIME TIMEOUT eviction (the
    kernel is streaming/stateful.py::_make_session_expiry_fn):
    per-user sessions emit when the watermark passes last_event + gap,
    and finalized events DROP out of state. availableNow's trailing
    no-data batch is where the event-time timeouts fire: every session
    whose ms-floored last event + 30 min lies strictly below the final
    watermark emits (exactly once); sessions still inside the
    admission horizon stay unemitted, one raw-event-suffix state row
    per active key. Oracle = gaps-and-islands sessionization over
    globally sorted event time under the same ms-clock watermark
    cutoff — the kernel re-splits its raw pending suffix every batch,
    so the two agree for ANY batching/ordering of admitted events
    (ADVICE r6)."""
    stream = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "value")
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        ST._make_session_expiry_fn(),
        outputStructType=ST.SESSION_OUTPUT_SCHEMA,
        stateStructType=ST.SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )
    out = _drain(spark, updates, "stateful_session_expiry", "update")
    return out.select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events
    ),
    m AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN pts IS NULL
                        -- Spark session semantics: an event EXTENDS the
                        -- session iff it lands strictly before prev+gap,
                        -- so a new session opens at diff >= gap (the
                        -- batch query's island rule uses > — different
                        -- operator family, pinned separately)
                        OR epoch_us(ts) - epoch_us(pts) >= 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    ),
    s AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 4) AS total_value
      FROM m GROUP BY user_id, sid
    )
    SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id, n_events, total_value
    FROM s
    WHERE session_end <=
          (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR
           FROM events)
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (dynamic-gap state merge): per-user
    sessions close after 30 min of inactivity, emitted in append mode
    exactly once, when the watermark passes the session end — Spark's
    native session_window operator, the streaming form of the batch
    gaps-and-islands sessionization (plans/relational.py). State is
    one open session per active user, merged across micro-batches and
    evicted at emission — bounded by the watermark horizon like the
    tumbling-window agg, not by stream length. The oracle rebuilds the
    same sessions relationally (gaps-and-islands with Spark's >=-gap
    split rule) under the tumbling oracle's ms-truncated cutoff."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    return _drain(spark, agg, "session_window_stats_sink", "append")
