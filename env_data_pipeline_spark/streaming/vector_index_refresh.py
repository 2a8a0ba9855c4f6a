"""Streaming PQ-index maintenance (O6 background execution x X3
vector storage): a foreachBatch sink that codes each micro-batch of
newly-arrived vectors against the frozen codebook and appends them to
a persistent (vec_id, cell-free) code table — how a 100 TB vector
store keeps its ANN index fresh without rebuilds.

Same proof shape as the incremental-aggregate and SCD2 refreshers
(all of them run streaming/replay.py::replay_fold): the vector set
replays as real micro-batches (maxFilesPerTrigger=1, multi-batch
guard), each batch's codes persist in their own batch=<id> dir, and
the final table must equal the one-shot batch pq_codes over all
vectors — which holds because coding is per-row (embarrassingly
incremental) and the codebook is frozen. The
interesting scale property is the inverse: RE-coding is only ever
needed when the CODEBOOK changes, and then it is a full-scan batch
job — this module makes the cheap direction (new vectors) concrete.

Per batch: one broadcast codebook join + one partial-aggregated
argmin over the batch's rows only — O(|batch| * M * K) work, zero
touches of previously-coded vectors."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from env_data_pipeline_spark.extensions import similarity as X
from env_data_pipeline_spark.streaming.replay import replay_fold

BATCH_SHARDS = 3


def streaming_pq_code_refresh(
    spark: SparkSession,
    pts: DataFrame,
    codebook: DataFrame,
    m_subspaces: int,
    dim_per_sub: int,
    quant: float = 1e6,
) -> DataFrame:
    """Replay ``pts`` (vec_id, v) as BATCH_SHARDS micro-batches; each
    batch is PQ-coded against the broadcast ``codebook`` and appended
    to the persistent code table. Returns the final (vec_id, m, code)
    table."""

    def step(batch_df: DataFrame, _batch_id: int, _state):
        # append-only: new vectors never touch previously-coded rows
        codes = X.pq_assign(batch_df, codebook, m_subspaces, dim_per_sub, quant)
        return None, codes.drop("dist_u")

    return replay_fold(
        spark, pts, BATCH_SHARDS, "vec_id", step,
        lambda _state, codes: codes, "stream_pqcodes_",
    )


# --------------------------------------------------------------------------
# Streaming IVF drift monitor: code arrivals + track index staleness
# --------------------------------------------------------------------------

DRIFT_BATCHES = 3


def streaming_ivf_drift_refresh(
    spark: SparkSession,
    centroids: DataFrame,
    train_counts: DataFrame,
    arrivals: DataFrame,
    quant: float,
    thresh: int,
) -> DataFrame:
    """The continuous form of ivf_drift_retrain_verdict: replay
    ``arrivals`` (vec_id, v) as DRIFT_BATCHES micro-batches against a
    FROZEN centroid set. Each batch coarse-assigns its vectors (the
    cheap ingest direction, as in the PQ code refresher), folds the
    batch's per-cell counts into a persistent occupancy state,
    recomputes the max per-cell share shift vs the training snapshot
    (exact integer permille), and records a per-batch
    (metric, verdict) row. Returns the drift trajectory: one row per
    batch, n_arrivals cumulative, verdict flipping to RETRAIN the
    moment the shift crosses ``thresh``.

    Scale: per batch one broadcast-centroid assignment over the
    batch's rows only; the occupancy state and every metric frame is
    K rows. Both sinks are keyed on batch_id (streaming/replay.py::
    replay_fold), so an at-least-once replay cannot double-count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame):
        assigned = X.coarse_assign(
            X.coarse_scores(batch_df.select("vec_id", "v"), centroids, quant)
        )
        bc = assigned.groupBy(F.col("cell").alias("cell_id")).agg(
            F.count(F.lit(1)).cast("bigint").alias("b_new")
        )
        # lineage cut (b): the state write and the metric both read it
        state = (
            prev.join(F.broadcast(bc), "cell_id", "left")
            .select(
                "cell_id",
                "n_train",
                (F.col("n_new") + F.coalesce("b_new", F.lit(0)))
                .cast("bigint")
                .alias("n_new"),
            )
            .localCheckpoint()
        )
        w = Window.partitionBy()  # K-row frame, single partition
        shift = F.abs(
            F.floor(
                (F.lit(1000) * (F.col("n_train") + F.col("n_new")))
                / F.sum(F.col("n_train") + F.col("n_new")).over(w)
            )
            - F.floor(
                (F.lit(1000) * F.col("n_train")) / F.sum("n_train").over(w)
            )
        )
        metric = (
            state.select(shift.alias("shift"), F.col("n_new").alias("n_new"))
            .agg(
                F.max("shift").cast("bigint").alias("max_shift_permille"),
                F.sum("n_new").cast("bigint").alias("n_arrivals"),
            )
            .select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "n_arrivals",
                "max_shift_permille",
                F.when(F.col("max_shift_permille") > thresh, "RETRAIN")
                .otherwise("KEEP")
                .alias("verdict"),
            )
        )
        return state, metric

    seed = train_counts.select(
        "cell_id",
        F.col("n_train").cast("bigint"),
        F.lit(0).cast("bigint").alias("n_new"),
    )
    return replay_fold(
        spark, arrivals, DRIFT_BATCHES, "vec_id", step,
        lambda _state, metrics: metrics.orderBy("batch_id"),
        "stream_ivfdrift_", seed=seed,
    )
