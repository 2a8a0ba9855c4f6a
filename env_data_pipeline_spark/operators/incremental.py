"""Incremental maintenance operators: key-based upsert merge and
mergeable partial-aggregate refresh.

The reference pipeline recollects from scratch per request
(`containers/orchestrator/orchestrator.py:569-618`, no incremental
path); at 100 TB a corpus is maintained, not rebuilt — nightly deltas
merge into the base by key, and standing aggregates refresh from
partial states instead of rescanning history.

Scale posture:
- merge_upsert is ONE shuffle join on the merge key; with both sides
  written bucketed by that key (operators/bucketing.py) the exchange
  disappears entirely — the standard physical design for a
  repeatedly-merged table.
- refresh_partial_aggs never touches base ROWS: it combines
  base-side partial states (count/sum/min/max, the mergeable algebra)
  with the delta's partials — the same re-aggregation Spark itself
  performs between map-side and final aggregation, lifted to
  pipeline granularity. The refresh cost is O(|delta| + |groups|),
  independent of |base|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame, updates: DataFrame, key: str, op_col: str = "op"
) -> DataFrame:
    """SQL MERGE semantics without a table format: full-outer join on
    ``key``; update rows win over base rows, unmatched updates insert,
    unmatched base rows carry through. Adds ``op_col`` recording what
    happened per row ('insert' / 'update' / 'unchanged').

    Columns are taken pairwise-coalesced (update side first), so both
    inputs must share a schema."""
    cols = [c for c in base.columns if c != key]
    if set(cols) != {c for c in updates.columns if c != key}:
        raise ValueError(
            f"merge_upsert: schema mismatch {base.columns} vs {updates.columns}"
        )
    b = base.alias("b")
    u = updates.alias("u")
    joined = b.join(u, F.col(f"b.{key}") == F.col(f"u.{key}"), "full_outer")
    has_b = F.col(f"b.{key}").isNotNull()
    has_u = F.col(f"u.{key}").isNotNull()
    merged: list[Column] = [
        F.coalesce(F.col(f"u.{key}"), F.col(f"b.{key}")).alias(key)
    ]
    merged += [
        F.when(has_u, F.col(f"u.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
        for c in cols
    ]
    op = (
        F.when(~has_b, "insert")
        .when(~has_u, "unchanged")
        .otherwise("update")
    )
    return joined.select(*merged, op.alias(op_col))


def scd2_init(dim: DataFrame, key: str, attrs: list[str], base_date: str) -> DataFrame:
    """Expand a current-only dimension snapshot into its trivial SCD2
    history: every row open since ``base_date``."""
    return dim.select(
        key,
        *attrs,
        F.to_date(F.lit(base_date)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply_history(
    hist: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    batch_date: str,
) -> DataFrame:
    """Apply one update batch (effective ``batch_date``) to an SCD2
    HISTORY table (columns: key, attrs, valid_from/valid_to/
    is_current). Closed rows pass through untouched; a current row
    whose attributes changed is CLOSED at batch_date (keeping its own
    valid_from) and a new current row opens; a current row with no
    update — or a NO-OP redelivery — stays open unchanged.

    An update whose key is absent from the history INSERTS a new open
    row at batch_date; an update for a key whose history rows are ALL
    closed (no is_current row — a previously ended key) REOPENS it:
    the closed rows pass through and one new current row opens at
    batch_date, hosted on the latest closed row so it fires exactly
    once per key. Preconditions: at most one update row per key (the
    SQL MERGE contract — duplicate keys in one batch would fan the
    join out and corrupt the history), and batches apply in
    effective-date order — a batch_date behind an existing validity
    boundary raises a NAMED error instead of minting an inverted
    interval (shuffled delivery must sort by effective date first;
    tests/test_incremental.py::test_scd2_out_of_order_batch_rejected).

    Plan shape: ONE full-outer shuffle join of the history on ``key``
    (bucket-elidable like merge_upsert), then a map-side per-row
    fan-out via an inline array — a changed key emits both its history
    rows from the same joined row, so there is no second scan of
    either input and no union of re-joined branches. The reopen branch
    adds two windows over the SAME key partitioning the join just
    shuffled on, so it costs a sort, never a new exchange. Repeated
    nightly application keeps cost O(|hist| + |updates|) per batch."""
    # explicit presence marker, NOT attribute-null sniffing: an update
    # legitimately setting attrs[0] to NULL must still count as present
    u_attrs = [F.col(f"u.{c}").alias(f"u_{c}") for c in attrs]
    joined = hist.alias("b").join(
        updates.alias("u").select(
            F.col(key), *u_attrs, F.lit(True).alias("u_present")
        ),
        key,
        "full_outer",
    )
    has_hist = F.col("b.is_current").isNotNull()
    changed = (
        has_hist
        & F.coalesce(F.col("b.is_current"), F.lit(False))
        & F.coalesce(F.col("u_present"), F.lit(False))
        & (
            ~F.struct(*[F.col(f"b.{c}") for c in attrs]).eqNullSafe(
                F.struct(*[F.col(f"u_{c}").alias(c) for c in attrs])
            )
        )
    )
    inserted = ~has_hist & F.coalesce(F.col("u_present"), F.lit(False))
    # reopen: key has history but NO current row (all closed) and an
    # update arrived — without this branch the update would vanish
    # (neither `changed` nor `inserted` fires). Both windows share the
    # join's hash(key) partitioning, so no extra exchange.
    from pyspark.sql.window import Window

    joined = joined.withColumn(
        "_any_current",
        F.max(F.coalesce(F.col("b.is_current"), F.lit(False))).over(
            Window.partitionBy(key)
        ),
    ).withColumn(
        "_host_rn",
        F.row_number().over(
            Window.partitionBy(key).orderBy(
                F.col("b.valid_to").desc_nulls_last(), F.col("b.valid_from").desc()
            )
        ),
    )
    reopened = (
        has_hist
        & ~F.col("_any_current")
        & F.coalesce(F.col("u_present"), F.lit(False))
        & (F.col("_host_rn") == 1)
    )

    def _row(
        cols: list[Column], valid_from: Column, valid_to: Column, current: Column
    ) -> Column:
        return F.struct(
            *[c.alias(a) for c, a in zip(cols, attrs)],
            valid_from.alias("valid_from"),
            valid_to.cast("date").alias("valid_to"),
            current.alias("is_current"),
        )

    old_cols = [F.col(f"b.{c}") for c in attrs]
    new_cols = [F.col(f"u_{c}") for c in attrs]
    batch = F.to_date(F.lit(batch_date))
    null_date = F.lit(None).cast("date")
    # OUT-OF-ORDER REJECTION (the chosen semantics, pinned by
    # tests/test_incremental.py): batches must apply in effective-date
    # order. A batch_date that precedes the open row's valid_from (or,
    # on reopen, the latest closed valid_to) would mint an inverted /
    # overlapping validity interval; that row raises a NAMED error at
    # execution instead of silently corrupting history. Shuffled
    # delivery must be sorted by effective date before application —
    # the reference's event path guarantees no ordering
    # (orchestrator.py:941-950), so the history operator has to.
    _ooo = (
        "scd2_apply_history: out-of-order batch_date "
        + batch_date
        + " precedes existing validity boundary "
    )

    def _guard(boundary: Column) -> Column:
        return F.when(batch >= boundary, batch).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(_ooo),
                    boundary.cast("string"),
                    F.lit(" — apply update batches in effective-date order"),
                )
            ).cast("date")
        )

    fanout = (
        F.when(
            changed,
            F.array(
                _row(
                    old_cols,
                    F.col("b.valid_from"),
                    _guard(F.col("b.valid_from")),
                    F.lit(False),
                ),
                _row(new_cols, batch, null_date, F.lit(True)),
            ),
        )
        .when(inserted, F.array(_row(new_cols, batch, null_date, F.lit(True))))
        .when(
            reopened,
            F.array(
                _row(
                    old_cols,
                    F.col("b.valid_from"),
                    F.col("b.valid_to"),
                    F.col("b.is_current"),
                ),
                _row(new_cols, _guard(F.col("b.valid_to")), null_date, F.lit(True)),
            ),
        )
        .otherwise(
            F.array(
                _row(
                    old_cols,
                    F.col("b.valid_from"),
                    F.col("b.valid_to"),
                    F.col("b.is_current"),
                )
            )
        )
    )
    return joined.select(F.col(key), F.explode(fanout).alias("r")).select(
        key, "r.*"
    )


def scd2_apply_batches(
    hist: DataFrame,
    batches: list[tuple[str, DataFrame]],
    key: str,
    attrs: list[str],
) -> DataFrame:
    """Apply several update batches in EFFECTIVE-DATE order regardless
    of delivery order — the correct-reordering complement to
    scd2_apply_history's out-of-order rejection: when all batches are
    in hand (a backfill, a replayed queue), sorting by effective date
    is the total fix; only a live stream that cannot wait needs the
    rejection to surface the violation. ``batches``: (effective_date,
    updates) pairs, any order; duplicate dates apply in input order
    (they must then touch disjoint keys, per the one-update-per-key
    precondition)."""
    import datetime

    def as_date(s: str) -> datetime.date:
        y, m, d = s.split("-")
        return datetime.date(int(y), int(m), int(d))

    out = hist
    # sort on the PARSED date, not the raw string: scd2_apply_history
    # accepts any to_date-parseable form (incl. non-zero-padded), and
    # a lexicographic sort of e.g. '2024-6-01' vs '2024-10-01' orders
    # them backwards; an unparseable date raises HERE, not as a
    # downstream out-of-order mystery
    for batch_date, updates in sorted(batches, key=lambda b: as_date(b[0])):
        out = scd2_apply_history(out, updates, key, attrs, batch_date)
    return out


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    base_date: str,
    batch_date: str,
) -> DataFrame:
    """Slowly-changing-dimension Type-2 maintenance from a
    current-only snapshot: expand to the trivial history (open since
    ``base_date``), then apply the batch — see scd2_apply_history.
    The reference pipeline has no dimension history at all (attribute
    CSVs are overwritten in place,
    `containers/landfire/landfire_container.py:54-84`); at 100 TB
    scale attribute changes must be auditable, so history is the
    maintained artifact."""
    return scd2_apply_history(
        scd2_init(dim, key, attrs, base_date), updates, key, attrs, batch_date
    )


def partial_aggs(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Per-group mergeable state: count/sum/min/max over ``value``.
    Everything derivable from these (avg = sum/count) is computed at
    read time, never stored — stored derived values cannot merge."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum(value).alias("sum_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    )


def histogram_state(
    df: DataFrame,
    keys: list[str],
    value: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-group fixed-bin histogram as MERGEABLE state: one
    (keys..., bin, n_rows) row per populated bin, bin =
    clamp(floor((v - lo)/width), 0, n_bins-1). The distribution
    analog of partial_aggs — percentile/shape dashboards refresh from
    these counts without rescanning history, and merging is plain
    per-bin addition. Bin edges must be exactly representable doubles
    (integral widths here) so both engines floor identically."""
    width = (hi - lo) / n_bins
    b = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor((F.col(value) - F.lit(lo)) / F.lit(width))),
        )
        .cast("int")
        .alias("bin")
    )
    return df.groupBy(*keys, b).agg(F.count("*").alias("n_rows"))


def refresh_histogram(
    base_state: DataFrame, delta_state: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge two histogram states: per-(keys, bin) count addition —
    associative/commutative like refresh_partial_aggs, so any delta
    batching yields the same state."""
    return (
        base_state.unionByName(delta_state)
        .groupBy(*keys, "bin")
        .agg(F.sum("n_rows").alias("n_rows"))
    )


def refresh_partial_aggs(base_state: DataFrame, delta_state: DataFrame, keys: list[str]) -> DataFrame:
    """Combine two partial states into the refreshed state — the
    count/sum/min/max merge algebra. Associative and commutative, so
    any delta batching (hourly, daily, replayed) yields the same
    state."""
    return (
        base_state.unionByName(delta_state)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# Shared join-view definition (batch three-term refresh AND streaming
# refresh land on THIS one view — one projection, one finalize, one
# oracle, so the pairing cannot drift; same single-module discipline
# as extensions/sketches.py)
# --------------------------------------------------------------------------

JV_REV_SQL = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"
)

JV_KEYS = ["o_orderpriority"]


def jv_oracle() -> str:
    """FULL RECOMPUTE over the complete join — the oracle both the
    batch and the streaming refresh must hash-equal."""
    return f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_join_rows,
           CAST(SUM({JV_REV_SQL}) AS BIGINT) AS revenue_units,
           CAST(MIN({JV_REV_SQL}) AS BIGINT) AS min_line_units,
           CAST(MAX({JV_REV_SQL}) AS BIGINT) AS max_line_units
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """


def jv_lineitem(li: DataFrame) -> DataFrame:
    """The lineitem projection of the view: join key, delta-derivation
    key, and line revenue on the half-up 1e-4 money grid."""
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_units"),
    )


def jv_finalize(state: DataFrame) -> DataFrame:
    """Read the mergeable partial state out as the published view."""
    return state.select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_join_rows"),
        F.col("sum_value").cast("bigint").alias("revenue_units"),
        F.col("min_value").cast("bigint").alias("min_line_units"),
        F.col("max_value").cast("bigint").alias("max_line_units"),
    )


# --------------------------------------------------------------------------
# Shared backlog-series definition (batch query AND streaming MAX-state
# refresh land on THIS one series — one derivation, one oracle)
# --------------------------------------------------------------------------


def backlog_oracle() -> str:
    """FULL RECOMPUTE of the open-order backlog time series — the
    oracle both the batch query and the streaming refresh must
    hash-equal."""
    return """
    WITH closes AS (
        SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS close_day
        FROM lineitem GROUP BY 1
    ),
    spans AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_day,
               c.close_day + 1 AS after_close
        FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
    ),
    opens AS (SELECT open_day AS day, COUNT(*) AS n_opened
              FROM spans GROUP BY 1),
    cls AS (SELECT after_close AS day, COUNT(*) AS n_closed
            FROM spans GROUP BY 1)
    SELECT day,
           CAST(COALESCE(o.n_opened, 0) AS BIGINT) AS n_opened,
           CAST(COALESCE(c.n_closed, 0) AS BIGINT) AS n_closed,
           CAST(SUM(COALESCE(o.n_opened, 0) - COALESCE(c.n_closed, 0))
                OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM opens o FULL OUTER JOIN cls c USING (day)
    """


def backlog_series(spans: DataFrame) -> DataFrame:
    """Derive the day-grain delta counts and running backlog from the
    per-order interval spans (open_day, after_close). The running sum
    is over the CALENDAR-bounded day grain, not a data-bounded one."""
    from pyspark.sql.window import Window

    opens = spans.groupBy(F.col("open_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    cls = spans.groupBy(F.col("after_close").alias("day")).agg(
        F.count(F.lit(1)).alias("n_closed")
    )
    days = opens.join(cls, "day", "full_outer").select(
        "day",
        F.coalesce(F.col("n_opened"), F.lit(0)).cast("bigint").alias("n_opened"),
        F.coalesce(F.col("n_closed"), F.lit(0)).cast("bigint").alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return days.withColumn(
        "backlog",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("bigint"),
    )
