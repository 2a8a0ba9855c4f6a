"""Streaming standing-aggregate maintenance (O6 background execution
x X7 incremental algebra): a foreachBatch sink that merges each
micro-batch's partial-aggregate state into a persistent parquet state
table — the streaming form of a nightly-refresh materialized
aggregate, and the engine making the reference's background-worker
promise (`containers/orchestrator/orchestrator.py:960-986`) concrete.

Mechanics proven here, not merely claimed (the replay itself is
streaming/replay.py::replay_fold, shared by every foreachBatch
refresher):
- the events table is split into BATCH_SHARDS delta files and
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

from env_data_pipeline_spark.operators import incremental as INC
from env_data_pipeline_spark.streaming.replay import replay_fold

BATCH_SHARDS = 4
_KEYS = ["event_type"]


def _merge_refresh(
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
    The mergeable-state refreshers below are thin bodies over this."""

    def step(batch: DataFrame, _batch_id: int, state):
        new = build_state(batch)
        return (new if state is None else merge_states(state, new)), None

    return replay_fold(
        spark, source, BATCH_SHARDS, shard_key, step,
        lambda state, _emitted: finalize(state), prefix,
    )


def streaming_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as BATCH_SHARDS micro-batches; foreachBatch
    merges each batch's count/sum/min/max partial state into the
    persistent state table. Returns the final state with avg derived
    at read time."""
    from env_data_pipeline_spark.catalog import table

    # table() normalized ts already; the deltas stream with the
    # normalized schema, no vintage handling needed
    events = table(spark, sf_dir, "events")

    def finalize(state: DataFrame) -> DataFrame:
        return state.select(
            "event_type",
            "n_rows",
            F.round(F.col("sum_value"), 4).alias("total_value"),
            F.round(F.col("sum_value") / F.col("n_rows"), 6).alias("avg_value"),
            F.round(F.col("min_value"), 4).alias("min_value"),
            F.round(F.col("max_value"), 4).alias("max_value"),
        )

    return _merge_refresh(
        spark,
        events,
        lambda batch: INC.partial_aggs(batch, _KEYS, "value"),
        lambda cur, new: INC.refresh_partial_aggs(cur, new, _KEYS),
        finalize,
        "stream_agg_refresh_",
    )


def streaming_cms_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance: replay events as BATCH_SHARDS
    real micro-batches; foreachBatch builds each batch's 256-cell CMS
    (extensions/sketches.py — the same build the batch query uses) and
    merges it into the persistent cell state by CELL-WISE ADDITION,
    the sketch's defining algebra. The final state is probed exactly
    like the one-shot batch sketch and must hash-equal it — which
    holds only if the merge is associative across every batch
    boundary. This is how a 100 TB stream serves approximate
    frequencies: constant-size state, O(|batch|) work per trigger,
    never a rescan of history.

    The replay (sharding, persisted state, idempotent batches) is
    streaming/replay.py::replay_fold."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.extensions import sketches as SK

    events = table(spark, sf_dir, "events")

    def finalize(cells: DataFrame) -> DataFrame:
        return SK.cms_probe(cells, SK.cms_probe_sample(events))

    return _merge_refresh(
        spark,
        events,
        lambda batch: SK.cms_cells(batch.select("user_id")),
        SK.cms_merge,
        finalize,
        "stream_cms_refresh_",
    )


def streaming_hll_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog maintenance: replay events as
    BATCH_SHARDS real micro-batches; foreachBatch builds each batch's
    per-type register table (extensions/sketches.py — the same build
    the batch query uses) and merges it into the persistent register
    state by register-wise MAX, the sketch's defining algebra. The
    final state finalizes through the SAME report path as the batch
    query and must hash-equal it — which holds only if the max-merge
    is associative across every batch boundary. Alongside the CMS
    (ADD-merge) refresh this completes the streaming sketch-algebra
    matrix; state is |types| * 64 rows forever.

    The replay (sharding, persisted state, idempotent batches) is
    streaming/replay.py::replay_fold."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.extensions import sketches as SK

    events = table(spark, sf_dir, "events")

    def finalize(regs: DataFrame) -> DataFrame:
        return SK.hll_report_from_registers(
            spark, regs, events.select("event_type", "user_id")
        )

    return _merge_refresh(
        spark,
        events,
        lambda batch: SK.hll_registers(
            batch.select("event_type", "user_id"), "user_id", "event_type"
        ),
        SK.hll_merge,
        finalize,
        "stream_hll_refresh_",
    )


def streaming_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a materialized JOIN view: the lineitem
    FACT STREAM replays as BATCH_SHARDS real micro-batches, each batch
    equi-joins the static orders dimension (the classic stream-static
    enrich), reduces to count/sum/min/max partial states of half-up
    1e-4-unit line revenue, and merges into the persistent view state.
    The final state must hash-equal a FULL RECOMPUTE over the complete
    join (the same oracle as the batch three-term refresh,
    plans/incremental.py::orders_join_view_incremental_refresh) —
    which holds only if join-then-partial-aggregate commutes with
    batching across every boundary.

    Scale posture: per trigger the work is O(|batch| join fan-out +
    |state|); the dimension is scanned per batch (broadcast in
    production when it fits, key-partitioned join otherwise) and
    history is never rescanned. The replay (sharding, persisted
    state, idempotent batches) is streaming/replay.py::replay_fold."""
    from env_data_pipeline_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # shared view definition (operators/incremental.py) — the batch
    # three-term refresh, this stream, and the oracle use ONE
    # projection/finalize, so the pairing cannot drift
    li = INC.jv_lineitem(table(spark, sf_dir, "lineitem"))

    def build(batch: DataFrame) -> DataFrame:
        rows = batch.join(
            orders, batch["l_orderkey"] == orders["o_orderkey"]
        ).select("o_orderpriority", "rev_units")
        return INC.partial_aggs(rows, INC.JV_KEYS, "rev_units")

    return _merge_refresh(
        spark,
        li,
        build,
        lambda cur, new: INC.refresh_partial_aggs(cur, new, INC.JV_KEYS),
        INC.jv_finalize,
        "stream_join_view_refresh_",
        shard_key="l_orderkey",
    )


def streaming_backlog_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the order-backlog time series: order
    open/close interval DELTAS (+1 at open day, -1 the day after last
    ship) are themselves mergeable state — per-day delta counts merge
    by addition across micro-batches, and the backlog is derived at
    read time as the running sum over the calendar-bounded day grain
    (the same read-time-derivation rule as avg over partial aggs). The
    lineitem stream replays as BATCH_SHARDS micro-batches; each batch
    recomputes ONLY its own orders' close days... which is exactly the
    subtlety this query exists to prove wrong-or-right: a naive
    per-batch MAX(l_shipdate) is NOT mergeable by addition — two
    batches carrying the same order would each emit a close delta. So
    the state is (order -> open_day, close_day) maintained by a
    mergeable MAX on close_day, and the day-grain deltas + running sum
    are derived at read time from that standing state. Final output
    must hash-equal the one-shot batch query's oracle.

    Scale posture: per trigger O(|batch| + |state|) — like the sibling
    refreshes, the full per-order state table is read, merged by MAX,
    and rewritten each trigger (a table format with MERGE would touch
    only the batch's keys); history rows are never rescanned. The
    read-time day-grain derivation is calendar-bounded.
    """
    from env_data_pipeline_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("open_day")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").cast("date").alias("ship_day")
    )

    def build(batch: DataFrame) -> DataFrame:
        # per-batch partial state: one row per order seen in the batch
        return batch.groupBy("l_orderkey").agg(
            F.max("ship_day").alias("close_day")
        )

    def merge(cur: DataFrame, new: DataFrame) -> DataFrame:
        # mergeable MAX algebra on the per-order close day
        return (
            cur.unionByName(new)
            .groupBy("l_orderkey")
            .agg(F.max("close_day").alias("close_day"))
        )

    def finalize(state: DataFrame) -> DataFrame:
        spans = orders.join(
            state, orders["o_orderkey"] == state["l_orderkey"]
        ).select(
            "open_day", F.date_add(F.col("close_day"), 1).alias("after_close")
        )
        # shared series derivation (operators/incremental.py) — the
        # batch query and this refresh publish ONE definition
        return INC.backlog_series(spans)

    return _merge_refresh(
        spark,
        li,
        build,
        merge,
        finalize,
        "stream_backlog_refresh_",
        # shard by LINE NUMBER, not order key: an order's lines then
        # SPAN batches, so the cross-batch MAX merge is genuinely
        # exercised (orderkey-sharding would confine each order to one
        # batch and the merge would be vacuously correct)
        shard_key="l_linenumber",
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


def _add_daily(old: DataFrame, new: DataFrame) -> DataFrame:
    """ADD-merge of the (event_type, day) -> (su, cnt) partial state
    shared by the CUSUM, Mann-Kendall and Holt refreshes."""
    return (
        old.unionByName(new)
        .groupBy("event_type", "day")
        .agg(F.sum("su").alias("su"), F.sum("cnt").alias("cnt"))
    )


def streaming_cusum_state_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM control-chart maintenance (see
    plans/statmining.py::streaming_cusum_refresh for the contract):
    state is the (event_type, day) -> (su, cnt) partial frame; batches
    ADD-merge exact BIGINT value-unit sums; finalize is the shared
    cusum_report."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.statmining import (
        _daily_partials,
        cusum_report,
    )

    events = table(spark, sf_dir, "events")

    return _merge_refresh(
        spark, events, _daily_partials, _add_daily, cusum_report,
        "stream_cusum_refresh_",
    )


def streaming_skyline_state_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Pareto-frontier maintenance (see
    plans/statmining.py::streaming_skyline_refresh for the contract):
    state is the current (p_partkey, cents, p_size) frontier; each
    batch folds in via the shared skyline kernel over the union."""
    from env_data_pipeline_spark.plans.statmining import (
        _format_skyline,
        skyline_frame,
        skyline_source,
    )

    part = skyline_source(spark, sf_dir)

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return skyline_frame(old.unionByName(new))

    return _merge_refresh(
        spark, part, skyline_frame, merge, _format_skyline,
        "stream_skyline_refresh_",
        shard_key="p_partkey",
    )


def streaming_mann_kendall_state_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Mann-Kendall maintenance (see plans/statmining.py::
    streaming_mann_kendall_refresh for the contract): the SAME
    (event_type, day) -> (su, cnt) add-merge state as the CUSUM
    refresh, finalized through the shared mann_kendall_report."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.statmining import (
        _daily_partials,
        mann_kendall_report,
    )

    events = table(spark, sf_dir, "events")

    def finalize(state: DataFrame) -> DataFrame:
        return mann_kendall_report(
            state.select(
                "event_type", "day", F.expr("(su * 1000) div cnt").alias("m")
            )
        )

    return _merge_refresh(
        spark, events, _daily_partials, _add_daily, finalize,
        "stream_mk_refresh_",
    )


def streaming_hhi_state_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming supplier-HHI maintenance (see plans/statmining.py::
    streaming_hhi_refresh for the contract): state is the
    (nation, suppkey) -> su revenue-partial frame; batches stream-
    static join the broadcast dims and ADD-merge exact BIGINT unit
    sums; finalize is the shared hhi_report."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.statmining import (
        _REV_UNITS_SQL,
        hhi_report,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def build(batch: DataFrame) -> DataFrame:
        return (
            batch.join(
                F.broadcast(sup), batch["l_suppkey"] == F.col("s_suppkey")
            )
            .join(
                F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
            )
            .groupBy(
                F.col("n_name").alias("nation"),
                F.col("l_suppkey").alias("suppkey"),
            )
            .agg(F.sum(F.expr(_REV_UNITS_SQL)).alias("su"))
        )

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("nation", "suppkey")
            .agg(F.sum("su").alias("su"))
        )

    return _merge_refresh(
        spark, li, build, merge, hhi_report, "stream_hhi_refresh_",
        shard_key="l_orderkey",
    )


def streaming_paragraph_state_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming paragraph-duplication monitoring (r10, paired with
    plans/extensions.py::dedup_paragraph_exact): state is the
    (source, paragraph-hash) -> count frame — a MERGEABLE additive
    algebra, so the final report is batch-order-independent and must
    hash-equal the one-shot batch computation the oracle runs.
    Batches contribute their window counts; finalize computes each
    source's share of window instances whose text occurs more than
    once ANYWHERE in the corpus (the cross-source boilerplate
    monitor a crawl ingest dashboard actually shows).

    Scale: state is distinct-(source, window)-sized — the paragraph
    vocabulary, Heaps-sublinear in the corpus; merge is one additive
    groupBy per batch; finalize is one window-hash-keyed aggregate +
    a source-grain rollup. Only 16-byte digests ever sit in state."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.extensions import paragraph_hashes

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def build(batch: DataFrame) -> DataFrame:
        return (
            paragraph_hashes(batch, "source")
            .groupBy("source", "ph")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("source", "ph")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def finalize(state: DataFrame) -> DataFrame:
        g = state.groupBy("ph").agg(F.sum("cnt").alias("gcnt"))
        return (
            state.join(g.hint("shuffle_hash"), "ph")
            .groupBy("source")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_windows"),
                F.sum(F.when(F.col("gcnt") > 1, F.col("cnt")).otherwise(0))
                .cast("bigint")
                .alias("n_dup_windows"),
            )
            .select(
                "source",
                "n_windows",
                "n_dup_windows",
                F.expr("1000 * n_dup_windows div n_windows")
                .cast("bigint")
                .alias("dup_permille"),
            )
            .orderBy("source")
        )

    return _merge_refresh(
        spark, docs, build, merge, finalize, "stream_para_refresh_",
        shard_key="doc_id",
    )


def streaming_holt_state_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-forecast maintenance (see plans/statmining.py::
    streaming_holt_refresh for the contract): the SAME
    (event_type, day) -> (su, cnt) add-merge state as the CUSUM and
    Mann-Kendall refreshes, finalized through the shared
    holt_report."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.statmining import (
        _daily_partials,
        holt_report,
    )

    events = table(spark, sf_dir, "events")

    def finalize(state: DataFrame) -> DataFrame:
        return holt_report(
            state.select(
                "event_type", "day", F.expr("(su * 1000) div cnt").alias("m")
            )
        )

    return _merge_refresh(
        spark, events, _daily_partials, _add_daily, finalize,
        "stream_holt_refresh_",
    )
