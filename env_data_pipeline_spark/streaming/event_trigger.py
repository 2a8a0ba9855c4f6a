"""Streaming event-trigger mechanisms (SURVEY.md §2.9 O4-O6): the
events file-source replay, the synchronous drain, and the watermarked
view/purchase interval join. The queries built on them are the
``streaming_*`` entries of plans/streaming_queries.py.

Batch-testable: the parquet file source replays the deterministic
events table through a real streaming query (micro-batches, state
store, watermark); ``processAllAvailable`` drains it synchronously so
the result is a plain DataFrame the driver can check.
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


def _attribution_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The watermarked view and purchase streams joined on user_id with
    the 2 h event-time range — shared by the inner / left-outer /
    full-outer / left-semi stream-stream join queries. Both sides carry
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
