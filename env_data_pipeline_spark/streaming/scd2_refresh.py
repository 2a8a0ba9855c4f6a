"""Streaming SCD2 dimension maintenance (O6 background execution x
X7 history algebra): a foreachBatch sink that applies each
micro-batch of dimension updates to a persistent SCD2 history table
— the streaming form of nightly dimension maintenance, sibling of
incremental_refresh.py::merge_refresh's standing aggregates.

Mechanics proven, not claimed: the update set splits into
BATCH_SHARDS delta files replayed with maxFilesPerTrigger=1 (the
multi-batch guard raises if the replay ever collapses), the history
persists as parquet between batches, and the final table must
hash-equal the one-shot batch SCD2 result (the DuckDB oracle) — which
holds only if closing/opening validity intervals composes correctly
across batch boundaries. The replay is streaming/replay.py::
replay_fold, shared by every foreachBatch refresher.

Scale posture: each batch is ONE key join of the history against the
batch's updates plus a map-side fan-out (operators/incremental.py::
scd2_apply_history) — O(|hist| + |batch|) per batch, bucket-elidable
on the dimension key. replay_fold keys the history write on batch_id
(see streaming/replay.py); redelivery of an already-applied batch is
additionally a NO-OP by construction,
because a re-delivered update matches the now-current attributes and
forks no history (pinned by tests/test_incremental.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from env_data_pipeline_spark.operators import incremental as INC
from env_data_pipeline_spark.streaming.replay import replay_fold

BATCH_SHARDS = 2


def streaming_scd2_refresh(
    spark: SparkSession,
    updates: DataFrame,
    dim: DataFrame,
    key: str,
    attrs: list[str],
    base_date: str,
    batch_date: str,
) -> DataFrame:
    """Replay ``updates`` as BATCH_SHARDS micro-batches (split by key
    parity, so batches touch disjoint keys); foreachBatch applies each
    to the persistent history. Returns the final history table."""

    def step(batch_df: DataFrame, _batch_id: int, hist: DataFrame):
        return INC.scd2_apply_history(hist, batch_df, key, attrs, batch_date), None

    # seed: the trivial expansion of the current-only snapshot
    return replay_fold(
        spark, updates, BATCH_SHARDS, key, step,
        lambda hist, _emitted: hist, "stream_scd2_",
        seed=INC.scd2_init(dim, key, attrs, base_date),
    )
