"""The micro-batch replay that every foreachBatch maintenance query
runs (incremental_refresh, scd2_refresh, vector_index_refresh and the
streaming corpus/LLM-ops refreshers): shard a deterministic input into
single-file deltas, replay them one file per trigger, fold each batch
into persistent parquet state, and guard that the replay REALLY ran
multi-batch — if availableNow ever stopped honoring maxFilesPerTrigger
and collapsed to one batch, the cross-batch merge path would be
untested while the result stayed green.

``replay_fold`` owns the whole lifecycle; a caller supplies only its
seed state, its per-batch step and its finish.

Replay idempotence (foreachBatch is at-least-once): both per-batch
sinks are keyed on ``batch_id``. State for batch ``b`` is read from the
``(b - 1) % 2`` dir and written to the ``b % 2`` dir (Spark cannot
overwrite a path it is reading within one job), and emitted frames
overwrite ``batch=<b>``, so a re-delivered batch reads the same input
state and rewrites what its first delivery wrote. The work dir is
per call and removed on exit, success or not."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# persistent fold state: one frame, several frames, or none yet
State = DataFrame | tuple[DataFrame, ...] | None


def write_shards(df: DataFrame, out_dir: str, n_shards: int, key: str) -> None:
    """Materialize ``df`` as ``n_shards`` single-file parquet deltas
    (split by ``key`` % n_shards) in one write, named so the file source
    lists them deterministically (lexicographic order = shard order).
    Raises if a shard got no file: the replay would lose its batch."""
    build = os.path.join(out_dir, "_build")
    # one task writes every shard, so each shard is exactly one file
    df.coalesce(1).withColumn("_shard", F.col(key) % n_shards).write.mode(
        "overwrite"
    ).partitionBy("_shard").parquet(build)
    for i in range(n_shards):
        parts = glob.glob(os.path.join(build, f"_shard={i}", "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(
                f"shard {i} of {n_shards} wrote {len(parts)} files; expected 1"
            )
        os.rename(parts[0], os.path.join(out_dir, f"batch_{i}.parquet"))
    shutil.rmtree(build)


def _write_state(state: State, path: str) -> tuple[StructType, ...]:
    """Persist ``state`` under ``path``; returns the schemas it was
    written with, so the read-back runs no schema-inference job."""
    frames = (state,) if isinstance(state, DataFrame) else state
    for i, frame in enumerate(frames):
        frame.write.mode("overwrite").parquet(os.path.join(path, str(i)))
    return tuple(frame.schema for frame in frames)


def _read_state(
    spark: SparkSession, path: str, schemas: tuple[StructType, ...] | None
) -> State:
    if schemas is None:
        return None
    frames = tuple(
        spark.read.schema(schema).parquet(os.path.join(path, str(i)))
        for i, schema in enumerate(schemas)
    )
    return frames[0] if len(frames) == 1 else frames


def _replay_foreachbatch(
    spark: SparkSession,
    delta_dir: str,
    schema: StructType,
    ckpt_dir: str,
    n_shards: int,
    apply_fn: Callable[[DataFrame, int], None],
    what: str,
) -> None:
    """Stream ``delta_dir`` (files of ``schema``) one file per trigger
    through ``apply_fn`` and raise unless exactly ``n_shards``
    micro-batches ran."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(delta_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    lp = q.lastProgress
    q.stop()
    q.awaitTermination(60)
    if lp is None:
        raise RuntimeError(f"{what} replay processed no batches")
    if lp["batchId"] < n_shards - 1:
        raise RuntimeError(
            f"{what} replay collapsed to {lp['batchId'] + 1} "
            f"batch(es); expected {n_shards}"
        )


def replay_fold(
    spark: SparkSession,
    source: DataFrame,
    n_shards: int,
    shard_key: str,
    step: Callable[[DataFrame, int, State], tuple[State, DataFrame | None]],
    finish: Callable[[State, DataFrame | None], DataFrame],
    prefix: str,
    seed: State = None,
) -> DataFrame:
    """Replay ``source`` as ``n_shards`` micro-batches (split by
    ``shard_key`` % n_shards) and fold them through ``step``.

    ``step(batch_df, batch_id, state)`` returns ``(state, emitted)``:
    ``state`` is the previous batch's persisted state (``seed`` before
    the first batch, else None) and the returned state is persisted
    for the next batch; ``emitted`` (or None) is written to the
    batch's own ``batch=<id>`` dir. ``finish(state, emitted)`` sees
    the final state and the union of every batch's emitted rows; its
    result is materialized on the executors before the temp dir
    ``<prefix>*`` is removed, so a dimension-sized result never
    round-trips through the driver."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        delta_dir = os.path.join(work, "deltas")
        emit_dir = os.path.join(work, "emitted")
        state_dirs = [os.path.join(work, "state_a"), os.path.join(work, "state_b")]
        os.makedirs(delta_dir)
        write_shards(source, delta_dir, n_shards, shard_key)
        # what each state dir and the emitted rows were written with
        written: dict[str, tuple[StructType, ...]] = {}
        if seed is not None:
            written[state_dirs[1]] = _write_state(seed, state_dirs[1])

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            prev_dir = state_dirs[(batch_id + 1) % 2]
            prev = _read_state(batch_df.sparkSession, prev_dir, written.get(prev_dir))
            state, emitted = step(batch_df, batch_id, prev)
            if state is not None:
                out_dir = state_dirs[batch_id % 2]
                written[out_dir] = _write_state(state, out_dir)
            if emitted is not None:
                emitted.write.mode("overwrite").parquet(
                    os.path.join(emit_dir, f"batch={batch_id}")
                )
                written[emit_dir] = (emitted.schema,)

        _replay_foreachbatch(
            spark, delta_dir, source.schema, os.path.join(work, "ckpt"),
            n_shards, _apply, prefix,
        )
        # the read appends the batch=<id> partition column
        emitted = (
            spark.read.schema(written[emit_dir][0]).parquet(emit_dir).drop("batch")
            if emit_dir in written
            else None
        )
        final_dir = state_dirs[(n_shards + 1) % 2]
        final = _read_state(spark, final_dir, written.get(final_dir))
        # lineage cut (c): the result must outlive the work dir removed below
        return finish(final, emitted).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
