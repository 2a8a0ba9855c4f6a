"""Query registrations for incremental maintenance
(operators/incremental.py): key-based upsert merge and partial-
aggregate refresh. Both derive their "delta" deterministically from
the testdata so the oracle can rebuild the identical scenario.

The refresh oracle is the strongest statement available: the
incremental path (base partial state + delta partial state, merged)
must hash-equal a FULL RECOMPUTE over all rows — proving the merge
algebra, not just reproducing it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import sketches as SK
from env_data_pipeline_spark.operators import incremental as INC
from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.streaming.incremental_refresh import merge_refresh

# deterministic delta derivation: every 7th doc gets a revision,
# every 11th spawns a brand-new doc at doc_id + NEW_OFFSET
_REV_MOD = 7
_NEW_MOD = 11
_NEW_OFFSET = 1_000_000


def _doc_updates(docs: DataFrame) -> DataFrame:
    revised = docs.filter(F.col("doc_id") % _REV_MOD == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" rev2")).alias("text"),
        "lang",
        "source",
        (F.length(F.col("text")) + F.lit(5)).alias("n_chars"),
    )
    fresh_text = F.concat(F.lit("fresh revision of document "), F.col("doc_id").cast("string"))
    fresh = docs.filter(F.col("doc_id") % _NEW_MOD == 0).select(
        (F.col("doc_id") + _NEW_OFFSET).alias("doc_id"),
        fresh_text.alias("text"),
        "lang",
        "source",
        F.length(fresh_text).alias("n_chars"),
    )
    return revised.unionByName(fresh)


@query(
    "documents_upsert_merge",
    oracle=f"""
    WITH updates AS (
      SELECT doc_id, text || ' rev2' AS text, lang, source,
             length(text) + 5 AS n_chars
      FROM documents WHERE doc_id % {_REV_MOD} = 0
      UNION ALL
      SELECT doc_id + {_NEW_OFFSET} AS doc_id,
             'fresh revision of document ' || CAST(doc_id AS VARCHAR) AS text,
             lang, source,
             length('fresh revision of document ' || CAST(doc_id AS VARCHAR))
                 AS n_chars
      FROM documents WHERE doc_id % {_NEW_MOD} = 0
    )
    SELECT COALESCE(u.doc_id, b.doc_id) AS doc_id,
           CASE WHEN u.doc_id IS NOT NULL THEN u.text ELSE b.text END AS text,
           CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE b.lang END AS lang,
           CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE b.source END AS source,
           CAST(CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars
                     ELSE b.n_chars END AS BIGINT) AS n_chars,
           CASE WHEN b.doc_id IS NULL THEN 'insert'
                WHEN u.doc_id IS NULL THEN 'unchanged'
                ELSE 'update' END AS op
    FROM documents b FULL OUTER JOIN updates u USING (doc_id)
    """,
)
def documents_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics without a table format: one full-outer
    shuffle join on the key; update rows win, unmatched updates
    insert, base rows carry through, and every output row records its
    op. With both sides bucketed by doc_id (operators/bucketing.py)
    the exchange disappears — the physical design for a nightly-merged
    corpus."""
    docs = table(spark, sf_dir, "documents")
    return INC.merge_upsert(docs, _doc_updates(docs), key="doc_id")


# delta = every 10th event; base = the rest. The incremental path may
# only aggregate each side separately and merge states.
_DELTA_MOD = 10


@query(
    "events_incremental_agg_refresh",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           ROUND(SUM(value), 4) AS total_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY 1
    """,
)
def events_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance, proven: per-type
    count/sum/min/max partial states computed SEPARATELY over the
    base (90%) and the delta (10%) slices, merged with the mergeable
    algebra (operators/incremental.py), derived avg at read time —
    and the oracle is a FULL RECOMPUTE over all rows, so the hash
    equality proves the refresh, not merely mirrors it. Refresh cost
    is O(|delta| + |groups|), independent of the base row count."""
    events = table(spark, sf_dir, "events")
    base = events.filter(F.col("event_id") % _DELTA_MOD != 0)
    delta = events.filter(F.col("event_id") % _DELTA_MOD == 0)
    state = INC.refresh_partial_aggs(
        INC.partial_aggs(base, ["event_type"], "value"),
        INC.partial_aggs(delta, ["event_type"], "value"),
        ["event_type"],
    )
    return state.select(
        "event_type",
        "n_rows",
        F.round(F.col("sum_value"), 4).alias("total_value"),
        F.round(F.col("sum_value") / F.col("n_rows"), 6).alias("avg_value"),
        F.round(F.col("min_value"), 4).alias("min_value"),
        F.round(F.col("max_value"), 4).alias("max_value"),
    )


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 20  # width 25.0, exact double


@query(
    "events_incremental_histogram",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             CAST(LEAST({_HIST_BINS - 1},
                        GREATEST(0, floor(value / 25.0))) AS INT) AS bin
      FROM events
    )
    SELECT event_type, bin,
           CAST(bin * 25.0 AS DOUBLE) AS bin_lo,
           CAST((bin + 1) * 25.0 AS DOUBLE) AS bin_hi,
           COUNT(*) AS n_rows
    FROM binned GROUP BY 1, 2
    """,
)
def events_incremental_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram maintenance, proven like the agg refresh:
    fixed-bin (20 x 25.0-wide) value histograms per event_type built
    SEPARATELY over the base (90%) and delta (10%) slices and merged
    by per-bin addition (operators/incremental.py::histogram_state /
    refresh_histogram) — the oracle is a full recompute, so hash
    equality proves the merge algebra. This is the distribution
    counterpart of count/sum/min/max state: percentile dashboards at
    100 TB refresh from O(|groups| x bins) counts, never a rescan.
    Bin edges are exact doubles (integral width), so both engines
    floor identically — the same grid discipline as the money sums."""
    events = table(spark, sf_dir, "events")
    base = events.filter(F.col("event_id") % _DELTA_MOD != 0)
    delta = events.filter(F.col("event_id") % _DELTA_MOD == 0)
    state = INC.refresh_histogram(
        INC.histogram_state(base, ["event_type"], "value", _HIST_LO, _HIST_HI, _HIST_BINS),
        INC.histogram_state(delta, ["event_type"], "value", _HIST_LO, _HIST_HI, _HIST_BINS),
        ["event_type"],
    )
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    return state.select(
        "event_type",
        "bin",
        (F.col("bin") * width).cast("double").alias("bin_lo"),
        ((F.col("bin") + 1) * width).cast("double").alias("bin_hi"),
        "n_rows",
    )


@query(
    "events_percentiles_from_histogram",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             CAST(LEAST({_HIST_BINS - 1},
                        GREATEST(0, floor(value / 25.0))) AS INT) AS bin
      FROM events
    ),
    h AS (SELECT event_type, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
    c AS (
      SELECT event_type, bin, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM h
    )
    SELECT event_type,
           CAST(SUM(total) / COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(CASE WHEN 2 * cum >= total THEN bin END) * 25.0 AS DOUBLE)
               AS p50_lo,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN bin END) * 25.0 AS DOUBLE)
               AS p90_lo,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * total THEN bin END) * 25.0 AS DOUBLE)
               AS p99_lo
    FROM c GROUP BY event_type
    """,
)
def events_percentiles_from_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the mergeable histogram is FOR: bin-resolution p50/p90/p99
    per event_type read straight from the maintained counts — the
    percentile lookup is O(groups x bins), never a rescan or a global
    sort of raw values (percentile_approx at 100 TB still scans; this
    reads standing state). Thresholds are pure integer comparisons
    (2*cum >= total etc.), so no float can straddle a rank boundary
    between engines; the emitted estimate is the bin's exact-double
    lower edge. Oracle recomputes from raw rows — proving the
    histogram state answers the same question the full scan would."""
    from pyspark.sql.window import Window as W

    events = table(spark, sf_dir, "events")
    base = events.filter(F.col("event_id") % _DELTA_MOD != 0)
    delta = events.filter(F.col("event_id") % _DELTA_MOD == 0)
    state = INC.refresh_histogram(
        INC.histogram_state(base, ["event_type"], "value", _HIST_LO, _HIST_HI, _HIST_BINS),
        INC.histogram_state(delta, ["event_type"], "value", _HIST_LO, _HIST_HI, _HIST_BINS),
        ["event_type"],
    )
    wc = W.partitionBy("event_type").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wt = W.partitionBy("event_type")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    c = state.withColumn("cum", F.sum("n_rows").over(wc)).withColumn(
        "total", F.sum("n_rows").over(wt)
    )

    def _p(num: int, den: int, name: str):
        return (
            F.min(
                F.when(den * F.col("cum") >= num * F.col("total"), F.col("bin"))
            )
            * width
        ).cast("double").alias(name)

    return c.groupBy("event_type").agg(
        (F.sum("total") / F.count("*")).cast("bigint").alias("n_rows"),
        _p(1, 2, "p50_lo"),
        _p(9, 10, "p90_lo"),
        _p(99, 100, "p99_lo"),
    )


# SCD2 scenario: every 5th customer changes (balance +100, segment
# re-labelled); every 7th-but-not-5th gets a NO-OP update (same attrs)
# proving idempotence — a re-delivered unchanged row must not fork
# history. Snapshot valid since _SCD_BASE; batch effective _SCD_BATCH.
# ONE oracle string and ONE update-set builder shared by the batch and
# streaming registrations: the "streaming hash-equals batch" claim is
# only meaningful while both sides describe the identical scenario.
_SCD_BASE = "2024-01-01"
_SCD_BATCH = "2024-06-01"
_SCD_ATTRS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_SCD_ORACLE = f"""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           DATE '{_SCD_BASE}' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, true AS is_current
    FROM customer WHERE c_custkey % 5 <> 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           DATE '{_SCD_BASE}', DATE '{_SCD_BATCH}', false
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
           'UPD:' || c_mktsegment,
           DATE '{_SCD_BATCH}', CAST(NULL AS DATE), true
    FROM customer WHERE c_custkey % 5 = 0
    """


def _scd_updates(cust: DataFrame) -> DataFrame:
    changed = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.concat(F.lit("UPD:"), F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    noop = cust.filter(
        (F.col("c_custkey") % 7 == 1) & (F.col("c_custkey") % 5 != 0)
    ).select("c_custkey", *_SCD_ATTRS)
    return changed.unionByName(noop)


@query("customer_scd2_history", oracle=_SCD_ORACLE)
def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/incremental.py::
    scd2_apply): one update batch applied to the customer dimension —
    changed keys close their old row at the batch date and open a new
    current one; unchanged keys (including deliberately re-delivered
    NO-OP updates) keep a single open row. One key join + map-side
    fan-out; the oracle rebuilds the full history relationally."""
    cust = table(spark, sf_dir, "customer")
    return INC.scd2_apply(
        cust,
        _scd_updates(cust),
        key="c_custkey",
        attrs=_SCD_ATTRS,
        base_date=_SCD_BASE,
        batch_date=_SCD_BATCH,
    )


@query("streaming_scd2_refresh", oracle=_SCD_ORACLE)
def streaming_scd2_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of customer_scd2_history: the same update
    set (shared builder _scd_updates, shared oracle) replayed as 2
    real micro-batches (split by key parity, maxFilesPerTrigger=1), a
    foreachBatch sink applying each batch to a persistent parquet
    history table (streaming/scd2_refresh.py). The oracle is the
    one-shot batch SCD2 result — hash equality proves closing/opening
    validity intervals composes across micro-batch boundaries."""
    from env_data_pipeline_spark.streaming.scd2_refresh import (
        streaming_scd2_refresh as _run,
    )

    cust = table(spark, sf_dir, "customer")
    return _run(
        spark,
        _scd_updates(cust),
        cust,
        key="c_custkey",
        attrs=_SCD_ATTRS,
        base_date=_SCD_BASE,
        batch_date=_SCD_BATCH,
    )


@query(
    "streaming_incremental_agg_refresh",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           ROUND(SUM(value), 4) AS total_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY 1
    """,
)
def streaming_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-aggregate form of the refresh: events replayed as
    4 real micro-batches (maxFilesPerTrigger=1), a foreachBatch sink
    merging each batch's count/sum/min/max partial state into a
    persistent parquet state table (streaming/incremental_refresh.py::
    merge_refresh), avg derived at read time, final state checked
    against a full recompute — O6 background maintenance made
    provable."""
    # table() normalized ts already; the deltas stream with the
    # normalized schema, no vintage handling needed
    events = table(spark, sf_dir, "events")
    keys = ["event_type"]

    def finalize(state: DataFrame) -> DataFrame:
        return state.select(
            "event_type",
            "n_rows",
            F.round(F.col("sum_value"), 4).alias("total_value"),
            F.round(F.col("sum_value") / F.col("n_rows"), 6).alias("avg_value"),
            F.round(F.col("min_value"), 4).alias("min_value"),
            F.round(F.col("max_value"), 4).alias("max_value"),
        )

    return merge_refresh(
        spark,
        events,
        lambda batch: INC.partial_aggs(batch, keys, "value"),
        lambda cur, new: INC.refresh_partial_aggs(cur, new, keys),
        finalize,
        "stream_agg_refresh_",
    )


@query(
    "streaming_cms_sketch_refresh",
    oracle=SK.cms_oracle_sql(),
)
def streaming_cms_sketch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch as STANDING STATE: events replayed as 4 real
    micro-batches; foreachBatch builds each batch's 256-cell CMS
    (extensions/sketches.py — the same build the batch query uses) and
    merges it into the persistent cell table by CELL-WISE ADDITION,
    the sketch's defining algebra. The final state is probed exactly
    like the one-shot batch sketch and checked against the SAME
    oracle — green only if the merge is associative across every
    batch boundary. The streaming face of events_cms_user_counts, and
    how a 100 TB stream serves approximate frequencies: constant-size
    state, O(|batch|) work per trigger, never a rescan of history."""
    events = table(spark, sf_dir, "events")

    def finalize(cells: DataFrame) -> DataFrame:
        return SK.cms_probe(cells, SK.cms_probe_sample(events))

    return merge_refresh(
        spark,
        events,
        lambda batch: SK.cms_cells(batch.select("user_id")),
        SK.cms_merge,
        finalize,
        "stream_cms_refresh_",
    )


@query(
    "streaming_hll_sketch_refresh",
    oracle=SK.hll_oracle_sql(),
)
def streaming_hll_sketch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers as STANDING STATE: events replayed as 4
    real micro-batches; foreachBatch builds each batch's per-type
    register table (extensions/sketches.py — the same build the batch
    query uses) and merges it into the persistent state by
    register-wise MAX, the sketch's defining algebra. Finalized
    through the same report as events_hll_distinct_by_type and checked
    against the SAME oracle — green only if the max-merge is
    associative across every batch boundary. The third merge algebra
    (after ADD and partial-agg) the replay exercises; state is
    |types| * 64 rows forever."""
    events = table(spark, sf_dir, "events")

    def finalize(regs: DataFrame) -> DataFrame:
        return SK.hll_report_from_registers(
            spark, regs, events.select("event_type", "user_id")
        )

    return merge_refresh(
        spark,
        events,
        lambda batch: SK.hll_registers(
            batch.select("event_type", "user_id"), "user_id", "event_type"
        ),
        SK.hll_merge,
        finalize,
        "stream_hll_refresh_",
    )


# --------------------------------------------------------------------------
# Incremental JOIN-view maintenance: dV = dA|><|B u A|><|dB u dA|><|dB
# --------------------------------------------------------------------------

# deterministic two-sided delta: 5% of orders and ~1/13 of lineitems
# arrive "late"; the stored view was built from everything else
_JV_A_MOD = 20
_JV_B_MOD = 13


@query(
    "orders_join_view_incremental_refresh",
    # FULL RECOMPUTE over the complete join — hash equality proves the
    # three-term delta decomposition, not merely mirrors it. One
    # shared definition (operators/incremental.py) serves this, the
    # streaming refresh, and the oracle.
    oracle=INC.jv_oracle(),
)
def orders_join_view_incremental_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view, proven by
    the classic three-term delta algebra: with late arrivals dA
    (orders) and dB (lineitems),
        d(A |><| B) = dA |><| B_old  u  A_old |><| dB  u  dA |><| dB,
    each term reduced to mergeable partial states (count/sum/min/max
    of half-up 1e-4-unit line revenue — the engine's money grid) and
    merged onto the stored view state with refresh_partial_aggs. The
    oracle is a FULL RECOMPUTE over the complete join, so hash
    equality proves the decomposition misses and double-counts
    nothing.

    Scale: the stored view state (a table in production) is
    |groups|-sized; every delta term joins a DELTA side against a base
    side on the join key — none of the three terms ever
    rejoins base-with-base, so refresh cost is O(|dA| + |dB| + join
    fan-out of the deltas), independent of |A |><| B|. The two
    delta-vs-base joins shuffle only the (already key-partitioned)
    delta rows against a key-partitioned base scan.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = INC.jv_lineitem(table(spark, sf_dir, "lineitem"))
    a_delta = F.col("o_orderkey") % _JV_A_MOD == 0
    b_delta = (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % _JV_B_MOD == 0
    a_old, da = orders.filter(~a_delta), orders.filter(a_delta)
    b_old, db = li.filter(~b_delta), li.filter(b_delta)

    def view_rows(a: DataFrame, b: DataFrame) -> DataFrame:
        # merge-hinted: every term has at least one corpus-proportional
        # side, so AQE must not data-size-broadcast it at test SF
        # (memory: AQE hazard). A production refresh with a BOUNDED
        # delta would broadcast the delta side instead — drop the hint
        # there; the algebra is join-strategy-agnostic.
        return a.hint("merge").join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderpriority", "rev_units"
        )

    # the stored artifact: view state as of the last refresh
    state_old = INC.partial_aggs(
        view_rows(a_old, b_old), INC.JV_KEYS, "rev_units"
    )
    delta_rows = (
        view_rows(da, b_old)
        .unionByName(view_rows(a_old, db))
        .unionByName(view_rows(da, db))
    )
    state_new = INC.refresh_partial_aggs(
        state_old,
        INC.partial_aggs(delta_rows, INC.JV_KEYS, "rev_units"),
        INC.JV_KEYS,
    )
    return INC.jv_finalize(state_new)


# --------------------------------------------------------------------------
# Snapshot diff: derive the CDC stream between two table versions
# --------------------------------------------------------------------------

# deterministic two-version scenario with precedence insert > delete >
# update so the classes stay disjoint even when mods coincide
_SD_INS, _SD_DEL, _SD_UPD = 17, 19, 23


@query(
    "orders_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS price_units
        FROM orders WHERE o_orderkey % {_SD_INS} <> 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % {_SD_INS} <> 0
                       AND o_orderkey % {_SD_DEL} <> 0
                       AND o_orderkey % {_SD_UPD} = 0
                      THEN 10000 ELSE 0 END AS price_units
        FROM orders
        WHERE o_orderkey % {_SD_INS} = 0 OR o_orderkey % {_SD_DEL} <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           o.price_units AS old_price_units,
           n.price_units AS new_price_units
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.price_units IS DISTINCT FROM n.price_units
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot differencing: given two versions of a table, derive
    the CDC stream (insert / delete / update rows, unchanged rows
    dropped) with one full-outer join on the key and a column-level
    change predicate — the complement of
    ``lineitem_partition_fingerprints``: fingerprints find WHICH
    bucket diverged, the diff derives WHAT to replay. The two versions
    are deterministic slices of orders (insert/delete/update mods with
    explicit precedence), so the oracle rebuilds the identical
    scenario.

    Scale: one key-partitioned full-outer shuffle join; with both
    snapshots bucketed by key the exchange disappears (the same
    bucketed-MERGE physical design as documents_upsert_merge). The
    change predicate runs in the join projection — no second pass. At
    100 TB you run fingerprints first and diff only the dirty key
    ranges; the operator is unchanged, just filtered.
    """
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("bigint")
        .alias("price_units"),
    )
    is_ins = F.col("o_orderkey") % _SD_INS == 0
    is_del = F.col("o_orderkey") % _SD_DEL == 0
    is_upd = F.col("o_orderkey") % _SD_UPD == 0
    old = base.filter(~is_ins)
    new = base.filter(is_ins | ~is_del).withColumn(
        "price_units",
        F.col("price_units")
        + F.when(~is_ins & ~is_del & is_upd, F.lit(10000)).otherwise(F.lit(0)),
    )
    # classify on ROW PRESENCE markers, exactly like the oracle's
    # key-nullity test — classifying on a value column's nullity would
    # silently diverge the day a snapshot carries a legitimate NULL
    o = old.select(
        F.col("o_orderkey"),
        F.lit(True).alias("in_old"),
        F.col("o_orderstatus").alias("st_o"),
        F.col("o_orderpriority").alias("pr_o"),
        F.col("price_units").alias("old_price_units"),
    )
    n = new.select(
        F.col("o_orderkey"),
        F.lit(True).alias("in_new"),
        F.col("o_orderstatus").alias("st_n"),
        F.col("o_orderpriority").alias("pr_n"),
        F.col("price_units").alias("new_price_units"),
    )
    joined = o.join(n, "o_orderkey", "full_outer")
    changed = (
        F.col("in_old").isNull()
        | F.col("in_new").isNull()
        | ~F.col("old_price_units").eqNullSafe(F.col("new_price_units"))
        | ~F.col("st_o").eqNullSafe(F.col("st_n"))
        | ~F.col("pr_o").eqNullSafe(F.col("pr_n"))
    )
    return joined.filter(changed).select(
        "o_orderkey",
        F.when(F.col("in_old").isNull(), F.lit("insert"))
        .when(F.col("in_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        "old_price_units",
        "new_price_units",
    )


@query(
    "streaming_join_view_refresh",
    # THE SAME shared full-recompute oracle as the batch three-term
    # refresh: the streamed state must land on the identical view
    oracle=INC.jv_oracle(),
)
def streaming_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of the materialized JOIN view: the lineitem FACT
    STREAM replays as 4 real micro-batches; each batch equi-joins the
    static orders dimension (the classic stream-static enrich),
    reduces to count/sum/min/max partial states of half-up
    1e-4-unit line revenue, and merges into the persistent view
    state. The final state must hash-equal a FULL RECOMPUTE over the
    complete join (the same oracle as the batch three-term refresh) —
    which holds only if join-then-partial-aggregate commutes with
    batching across every boundary.

    Scale posture: per trigger the work is O(|batch| join fan-out +
    |state|); the dimension is scanned per batch (broadcast in
    production when it fits, key-partitioned join otherwise) and
    history is never rescanned."""
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

    return merge_refresh(
        spark,
        li,
        build,
        lambda cur, new: INC.refresh_partial_aggs(cur, new, INC.JV_KEYS),
        INC.jv_finalize,
        "stream_join_view_refresh_",
        shard_key="l_orderkey",
    )


@query(
    "streaming_backlog_refresh",
    # THE SAME shared oracle as the one-shot batch backlog query: the
    # streamed per-order MAX state must serve the identical series
    oracle=INC.backlog_oracle(),
)
def streaming_backlog_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of orders_backlog_over_time: the lineitem stream
    (sharded by LINE NUMBER so one order's lines span batches) feeds a
    per-order close-day state merged by MAX across micro-batches; the
    day-grain deltas and running backlog derive at read time (the same
    read-time-derivation rule as avg over partial aggs). Final series
    hash-equals the one-shot batch oracle — proving MAX-state
    maintenance commutes with batching even when an entity's rows
    arrive split across triggers.

    Why MAX state: order open/close deltas (+1 at the open day, -1 the
    day after the last ship) are not mergeable by addition when
    computed per batch — two batches carrying the same order would
    each emit a close delta. So the state is order -> close_day under
    a mergeable MAX, and the deltas derive from the standing state.

    Scale posture: per trigger O(|batch| + |state|) — the full
    per-order state table is read, merged by MAX, and rewritten each
    trigger (a table format with MERGE would touch only the batch's
    keys); history rows are never rescanned. The read-time day-grain
    derivation is calendar-bounded."""
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

    return merge_refresh(
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
