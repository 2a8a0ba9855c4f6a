"""Streaming event-trigger pipeline (SURVEY.md §2.9 O4-O6).

Batch-testable: the parquet file source replays the deterministic
events table through a real streaming query (micro-batches, state
store, watermark); ``processAllAvailable`` drains it synchronously so
the result is a plain DataFrame the driver can check.

Scale: file source -> kafka source is a one-line swap; the watermark
bounds state (1 hour, mirroring the reference's declared 1-hour result
currency, orchestrator.py:657 / O8); tumbling-window counts are
partial-aggregated per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of events, declared with the on-disk schema
    from the catalog's footer record (catalog.read_events): declaring
    the wrong ts vintage would not error, it would silently build
    1970-era timestamps."""
    from env_data_pipeline_spark.catalog import read_events

    # the file stream source requires a directory: load sf_dir and
    # glob-filter down to the events file
    return read_events(
        spark,
        sf_dir,
        lambda schema: spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir),
    )


def _drain(spark: SparkSession, df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run ``df`` to completion into the in-memory table ``name`` and
    return that table. Per-batch progress is read by wrapping the
    builder in ``observe.observe`` (``record["streaming"][name]``)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return spark.table(name)


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type with a 1-hour watermark
    (the engine-native streaming agg of SURVEY.md §2.9). APPEND output
    mode: a window is emitted exactly once, when the watermark passes
    its end, and its state is evicted — state is bounded by the
    watermark horizon, not the stream length (complete mode would hold
    every window ever seen). The availableNow drain's final no-data
    batch finalizes every window whose end <= max(ts) - 1h; the last
    still-open windows are intentionally NOT emitted (they would close
    on the next batch of a live stream), and the oracle applies the
    same finalization cutoff."""
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


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 1-hour windows every 30 minutes (each event lands in
    exactly 2 overlapping windows) — the third engine-native window
    class next to tumbling and session. Same append-mode finalization
    contract: a window emits once when the watermark passes its end.
    State is bounded by (window length / slide) x watermark horizon —
    the overlap factor multiplies state rows, not raw data, which is
    why the slide should stay a coarse fraction of the length at
    100 TB."""
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


def cache_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8/X1 on the live stream: one computation per (user, hour)
    cache key via dropDuplicatesWithinWatermark — the streaming form
    of the batch request-cache dedup. State for a key is held only
    until the watermark passes it (bounded state at any stream
    length, unlike plain dropDuplicates). Only the KEY columns are
    emitted: which physical row represents a key is
    arrival-order-dependent in a stream, the key set is not."""
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


def enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the canonical enrichment shape): the live
    event stream joined to the static requests dimension on the
    event key. The static side is re-read per micro-batch by the
    engine, so dimension updates between batches are picked up; the
    join itself needs no state store (no watermark bookkeeping) —
    at scale this is a broadcast of the dimension into every batch."""
    from env_data_pipeline_spark.sources.fixtures import ensure_fixtures

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


def priority_routed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 routing applied to the live stream: derive event_type /
    priority vocab (same arithmetic as the requests fixture), route to
    sources with completion budgets (orchestrator.py:923-935), and
    emit per-event rows — what the reference's background worker stub
    (O6) would persist."""
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


def _attribution_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The watermarked view and purchase streams joined on user_id with
    the 2 h event-time range — shared by the inner / left-outer /
    full-outer / left-semi attribution variants below. Both sides carry
    1 h watermarks; the range condition is what lets the state store
    evict a buffered row once the other side's watermark passes it.
    (A left-semi join prunes the purchase side to its join columns.)"""
    views = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        how,
    )


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (the last engine-native streaming
    join family): the live view stream inner-joined to the live
    purchase stream on user_id with an event-time range — every
    purchase within 2 h after a view attributes to it. Both sides
    carry watermarks and the join carries the time-range condition,
    which is what lets the state store evict a buffered view once the
    purchase-side watermark passes view_ts + 2 h — without the range
    constraint both sides buffer forever. Inner-join matches emit as
    soon as both rows have arrived, so a full replay equals the batch
    interval join (the append-mode caveat of outer stream-stream
    joins — emit only at watermark — does not apply to inner).

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


def stream_stream_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (VERDICT r5 item 5 — the
    variant a real attribution pipeline needs: views that never
    convert must still be accounted): matched (view, purchase) pairs
    emit on arrival exactly like the inner join; an UNMATCHED view
    emits (view, NULL purchase) only when the join state can prove no
    future purchase can match it — i.e. when the global watermark
    (the MIN of both sides' watermarks, Spark's default
    multipleWatermarkPolicy) passes view_ts + 2 h and the buffered
    view evicts. availableNow replay runs a trailing no-data
    micro-batch after the data batch, which is where those null
    emissions land (verified against the engine: the flush batch
    carries exactly the evicted-unmatched rows).

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


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (dynamic-gap state merge): per-user
    sessions close after 30 min of inactivity, emitted in append mode
    once the watermark passes the session end — Spark's native
    session_window operator, the streaming form of the batch
    gaps-and-islands sessionization (plans/relational.py). State is
    one open session per active user, merged across micro-batches and
    evicted at emission — bounded by the watermark horizon like the
    tumbling-window agg, not by stream length."""
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


def stream_stream_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream interval join — both unmatched sides
    surface: a view that never converts emits (view, NULL purchase)
    when the global watermark passes view_ts + 2 h (its last possible
    match), and a purchase with no preceding view emits (NULL view,
    purchase) when the watermark passes purchase_ts (any later-arriving
    view would carry event time >= the watermark > purchase_ts, outside
    the interval). Matched pairs emit on arrival like the inner join.

    At scale: the same co-partitioned two-sided state as the inner
    join — the outer variant adds a matched bit per buffered row on
    BOTH sides now; state stays bounded by the 2 h interval + 1 h
    lateness horizon per side."""
    joined = _attribution_join(spark, sf_dir, "fullOuter").select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain(spark, joined, "stream_stream_attribution_full_sink", "append")


def stream_stream_attribution_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-SEMI stream-stream interval join — the converted-views
    feed: a view emits (once) as soon as SOME purchase lands in its
    2 h window; views that never convert emit nothing and their state
    evicts silently at the watermark horizon. Completes the
    stream-stream join-type matrix (inner / left-outer / full-outer /
    left-semi).

    At scale: same co-partitioned state as the inner join, but the
    output carries only the view side and each buffered view emits at
    most once — no match-multiplicity amplification."""
    joined = _attribution_join(spark, sf_dir, "leftSemi").select(
        "user_id",
        "view_event_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
    )
    return _drain(spark, joined, "stream_stream_attribution_semi_sink", "append")
