"""Streaming standing-aggregate maintenance (O6 background execution
x X7 incremental algebra): a foreachBatch sink that merges each
micro-batch's partial-aggregate state into a persistent parquet state
table — the streaming form of a nightly-refresh materialized
aggregate, and the engine making the reference's background-worker
promise (`containers/orchestrator/orchestrator.py:960-986`) concrete.
``merge_refresh`` is that fold; the queries that supply its parts are
the ``streaming_*_refresh`` entries of plans/incremental.py,
plans/statmining.py and plans/extensions.py.

Mechanics proven by those queries, not merely claimed (the replay
itself is streaming/replay.py::replay_fold, shared by every
foreachBatch refresher):
- the source table is split into BATCH_SHARDS delta files and
  replayed with maxFilesPerTrigger=1, so the refresh REALLY runs
  once per micro-batch over partial data;
- state persists as parquet between batches;
- the final state must equal a full recompute over all rows (the
  DuckDB oracle), which holds only if the merge algebra
  (operators/incremental.py, extensions/sketches.py) is correct
  across every batch boundary.

Scale posture: per batch the work is O(|batch| + |state|) — one
map-side-combined aggregation of the batch plus a state-sized merge;
base rows are never rescanned. State is |groups| (or 256 CMS cells)
regardless of stream length.

Replay idempotence: replay_fold keys both per-batch sinks on
batch_id, so a re-delivered batch rewrites what its first delivery
wrote (see streaming/replay.py). The engine's own stateful streaming
path is covered for crash recovery too:
tests/test_streaming_semantics.py kills a windowed-agg query
mid-stream and proves exactly-once on resume from checkpoint.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.streaming.replay import replay_fold

BATCH_SHARDS = 4


def merge_refresh(
    spark: SparkSession,
    source: DataFrame,
    build_state: Callable[[DataFrame], DataFrame],
    merge_states: Callable[[DataFrame, DataFrame], DataFrame],
    finalize: Callable[[DataFrame], DataFrame],
    prefix: str,
    shard_key: str = "event_id",
) -> DataFrame:
    """replay_fold over ``source`` in BATCH_SHARDS micro-batches: each
    batch's ``build_state`` merges into the persisted state via
    ``merge_states``; the result is ``finalize`` of the final state.
    Every mergeable-state streaming refresh query supplies only these
    three parts."""

    def step(batch: DataFrame, _batch_id: int, state):
        new = build_state(batch)
        return (new if state is None else merge_states(state, new)), None

    return replay_fold(
        spark, source, BATCH_SHARDS, shard_key, step,
        lambda state, _emitted: finalize(state), prefix,
    )


def streaming_dedup_index_refresh(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Streaming INGEST-GATE dedup with a standing index: documents
    replay as BATCH_SHARDS micro-batches (shard = doc_id %
    BATCH_SHARDS, arrival order = shard order); each batch probes the
    persistent ADMITTED-DOCS index (band table + shingle store — the
    two tables a production near-dup index actually persists), and a
    doc is REJECTED iff it exact-verifies (Jaccard >= 0.5) against an
    admitted doc from an earlier batch OR a smaller-doc_id doc in its
    OWN batch (first-occurrence-wins within a batch, non-recursive by
    design: if the earlier twin was itself rejected against the index,
    the newcomer is transitively a duplicate of the same corpus
    content). Admitted docs append their bands and shingles to the
    index; decisions accumulate per batch. Returns one row per doc:
    (doc_id, batch_id, admitted, n_conflicts).

    The batch-mode sibling (plans/extensions.py::dedup_delta_vs_corpus)
    is one probe against a static corpus; this is the loop that KEEPS
    the corpus deduped as batches arrive. The oracle unrolls all
    BATCH_SHARDS admission steps as CTEs over the global verified-pair
    relation — green only if the sequential index semantics hold at
    every batch boundary.

    Scale: per batch the probe is the delta-vs-index band equi-join
    (batch bands broadcastable), verification touches only colliding
    docs' shingles, and the index grows only by admitted rows — the
    corpus is never rescanned and never self-joined."""
    from env_data_pipeline_spark.extensions import dedup as D

    def step(batch_docs: DataFrame, batch_id: int, index):
        sigs = D.minhash_signatures(D.shingles(batch_docs, distinct=False))
        bands_b = D.band_table(sigs)
        sh_b = D.shingles(batch_docs, distinct=True)
        # the persisted index: (band table, shingle store)
        idx_bands, idx_sh = index or (bands_b.limit(0), sh_b.limit(0))
        probe = bands_b.select(
            F.col("doc_id").alias("d"), "band", "band_key"
        )
        cand_idx = (
            idx_bands.join(F.broadcast(probe), ["band", "band_key"])
            .select("d", F.col("doc_id").alias("a"))
            .distinct()
        )
        cand_in = (
            probe.hint("merge")
            .join(
                bands_b.select(F.col("doc_id").alias("a"), "band", "band_key"),
                ["band", "band_key"],
            )
            .filter(F.col("a") < F.col("d"))
            .select("d", "a")
            .distinct()
        )
        # lineage cut (b): the a-side filter, the intersection and the verdict read it
        cand = cand_idx.unionByName(cand_in).distinct().localCheckpoint()
        # restrict the a-side (index + batch) shingles to CANDIDATE
        # participants BEFORE sizing or joining: the admitted index is
        # corpus-sized at scale and must never broadcast or shuffle
        # whole — only colliding docs' shingles move
        cand_a = cand.select(F.col("a").alias("doc_id")).distinct()
        a_sh = idx_sh.unionByName(sh_b).join(
            F.broadcast(cand_a), "doc_id", "left_semi"
        )
        d_sizes = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd"))
        a_sizes = a_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
        inter = (
            sh_b.select(F.col("doc_id").alias("d"), "shingle")
            .join(F.broadcast(cand), "d")
            .join(
                a_sh.select(F.col("doc_id").alias("a"), "shingle"),
                ["a", "shingle"],
            )
            .groupBy("d", "a")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        verified = (
            cand.join(F.broadcast(d_sizes.withColumnRenamed("doc_id", "d")), "d")
            .join(F.broadcast(a_sizes.withColumnRenamed("doc_id", "a")), "a")
            .join(F.broadcast(inter), ["d", "a"], "left")
            .filter(
                F.coalesce(F.col("i"), F.lit(0)) * 2
                >= F.col("nd") + F.col("na") - F.coalesce(F.col("i"), F.lit(0))
            )
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("n_conflicts"))
        )
        decisions = (
            batch_docs.select("doc_id")
            .join(
                F.broadcast(verified.withColumnRenamed("d", "doc_id")),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                F.col("n_conflicts").isNull().alias("admitted"),
                F.coalesce(F.col("n_conflicts"), F.lit(0))
                .cast("bigint")
                .alias("n_conflicts"),
            )
            # lineage cut (b): the new index state and the emitted rows both read it
            .localCheckpoint()
        )
        admitted_ids = decisions.filter("admitted").select("doc_id")
        index = (
            idx_bands.unionByName(
                bands_b.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
            ),
            idx_sh.unionByName(
                sh_b.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
            ),
        )
        return index, decisions

    return replay_fold(
        spark, docs.select("doc_id", "text"), BATCH_SHARDS, "doc_id", step,
        lambda _index, decisions: decisions.orderBy("doc_id"),
        "stream_dedup_index_",
    )
