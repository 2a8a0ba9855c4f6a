"""Statistical mining: the hypothesis-shaped questions a warehouse
gets asked that the aggregate/window surface didn't yet answer
directly.

- ``events_cusum_changepoint`` / ``streaming_cusum_refresh``: CUSUM
  chart change-point per event type (argmax |cumsum(daily mean -
  grand mean)|, Taylor's method), batch + streaming-state forms.
- ``events_ab_test_zstat``: deterministic hash-split A/B assignment +
  two-proportion pooled z statistic.
- ``part_price_size_skyline``: Pareto frontier (skyline) on
  (price, size) via a bucketed running-min plan — no self-join.
- ``orders_ship_survival_km``: Kaplan-Meier time-to-first-shipment
  with staggered-entry right-censoring at a calendar cutoff.
- ``nation_parttype_entropy`` / ``nation_supplier_hhi``: Shannon
  diversity of each nation's revenue mix; Herfindahl-Hirschman
  supplier concentration in integer ppm arithmetic.
- ``streaming_skyline_refresh``: the frontier maintained as
  mergeable streaming state (skyline(A∪B) = skyline(skyline(A)∪B)).

Engine-native (no reference counterpart — the reference has no
analytics surface); SURVEY §2.12 spirit.

Float discipline (memory: float-grid parity): every quantity that
feeds an ORDER BY, argmax, or comparison lives on an exact integer
grid (1e-4 units x1000 for daily means, cents for prices); doubles
appear only in final ROUND(...,4) projections of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import text as TX
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA, query
from env_data_pipeline_spark.streaming.incremental_refresh import merge_refresh

# daily mean grid: value -> 1e-4 round-half-up units, then the
# per-day mean keeps 3 more digits via *1000 before the integer
# divide, so m sits on a value*1e7 grid. Exact BIGINT throughout.
_VAL_UNITS_SQL = "CAST(floor(value * 10000 + 0.5) AS BIGINT)"
_M_GRID = 10_000_000.0  # m units per 1.0 of value

# A/B: a user "converts" when they make >= _AB_MIN_PURCHASES purchase
# events — calibrated so both shipped SFs land mid-range (neither 0%
# nor 100%, keeping the pooled z well-defined and meaningful).
_AB_MIN_PURCHASES = 12
_AB_Z_CRIT = 1.96

# skyline price buckets: $5-wide cents ranges. Bucket count is
# (price spread / $5) — tens to hundreds — so the bucket-summary
# frame is always tiny relative to the part table.
_SKY_BUCKET_CENTS = 500


# THE daily-mean grid, one home for both engines: (event_type, day)
# value-unit sums -> integer m on the value*1e7 grid. CUSUM and
# Mann-Kendall both consume it; change it in one place only.
_DAILY_M_CTE = f"""daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             (SUM({_VAL_UNITS_SQL}) * 1000) // COUNT(*) AS m
      FROM events GROUP BY 1, 2
    )"""


def _daily_partials(ev: DataFrame) -> DataFrame:
    """(event_type, day, su, cnt) partial-aggregate frame — the Spark
    side of _DAILY_M_CTE before the m projection (streaming keeps the
    partials mergeable; cusum_report/_daily_m derive m)."""
    return ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.expr(_VAL_UNITS_SQL)).alias("su"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _add_daily(old: DataFrame, new: DataFrame) -> DataFrame:
    """ADD-merge of the (event_type, day) -> (su, cnt) partial state
    shared by the CUSUM, Mann-Kendall and Holt streaming refreshes."""
    return (
        old.unionByName(new)
        .groupBy("event_type", "day")
        .agg(F.sum("su").alias("su"), F.sum("cnt").alias("cnt"))
    )


def _daily_m(partials: DataFrame) -> DataFrame:
    """(event_type, day, m) on the value*1e7 integer grid, from the
    (event_type, day, su, cnt) partials."""
    return partials.select(
        "event_type", "day", F.expr("(su * 1000) div cnt").alias("m")
    )


_CUSUM_ORACLE = f"""
    WITH {_DAILY_M_CTE},
    seq AS (
      SELECT event_type, day, m,
             ROW_NUMBER() OVER w AS i,
             SUM(m) OVER w AS cum
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT event_type, SUM(m) // COUNT(*) AS mbar,
             COUNT(*) AS n_days
      FROM daily GROUP BY 1
    ),
    s AS (
      SELECT q.event_type, q.day, q.i, q.m,
             q.cum - q.i * t.mbar AS s, t.n_days
      FROM seq q JOIN tot t USING (event_type)
    ),
    cp AS (
      SELECT event_type, day AS change_day, i AS days_before,
             ABS(s) AS s_max_units
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY ABS(s) DESC, day) AS rk FROM s)
      WHERE rk = 1
    )
    SELECT s.event_type,
           strftime(c.change_day, '%Y-%m-%d') AS change_day,
           CAST(c.s_max_units AS BIGINT) AS s_max_units,
           CAST(s.n_days AS INT) AS n_days,
           CAST(c.days_before AS INT) AS days_before,
           ROUND(SUM(CASE WHEN s.i <= c.days_before THEN s.m END)
                 / (c.days_before * {_M_GRID}), 4) AS mean_before,
           CASE WHEN s.n_days > c.days_before THEN
             ROUND(SUM(CASE WHEN s.i > c.days_before THEN s.m END)
                   / ((s.n_days - c.days_before) * {_M_GRID}), 4)
           END AS mean_after
    FROM s JOIN cp c USING (event_type)
    GROUP BY s.event_type, c.change_day, c.s_max_units, s.n_days,
             c.days_before
    ORDER BY s.event_type
    """


def cusum_report(daily: DataFrame) -> DataFrame:
    """CUSUM change-point report from a ``(event_type, day, su, cnt)``
    partial-aggregate frame — THE shared finalize: the batch query and
    the streaming state refresh both call this, so the two surfaces
    cannot drift (su = exact 1e-4-unit value sum, cnt = row count)."""
    daily = daily.select(
        "event_type", "day", F.expr("(su * 1000) div cnt").alias("m")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "m",
        F.row_number().over(w).alias("i"),
        F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = daily.groupBy("event_type").agg(
        F.expr("sum(m) div count(*)").alias("mbar"),
        F.count(F.lit(1)).alias("n_days"),
    )
    s = seq.join(F.broadcast(tot), "event_type").withColumn(
        "s", F.col("cum") - F.col("i") * F.col("mbar")
    )
    rk = Window.partitionBy("event_type").orderBy(F.abs("s").desc(), "day")
    cp = (
        s.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("i").alias("days_before"),
            F.abs("s").alias("s_max_units"),
        )
    )
    return (
        s.join(F.broadcast(cp), "event_type")
        .groupBy(
            "event_type", "change_day", "s_max_units", "n_days", "days_before"
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("i") <= F.col("days_before"), F.col("m")))
                / (F.col("days_before") * F.lit(_M_GRID)),
                4,
            ).alias("mean_before"),
            F.when(
                F.col("n_days") > F.col("days_before"),
                F.round(
                    F.sum(F.when(F.col("i") > F.col("days_before"), F.col("m")))
                    / ((F.col("n_days") - F.col("days_before")) * F.lit(_M_GRID)),
                    4,
                ),
            ).alias("mean_after"),
        )
        .select(
            "event_type",
            F.date_format("change_day", "yyyy-MM-dd").alias("change_day"),
            F.col("s_max_units").cast("bigint").alias("s_max_units"),
            F.col("n_days").cast("int").alias("n_days"),
            F.col("days_before").cast("int").alias("days_before"),
            "mean_before",
            "mean_after",
        )
        .orderBy("event_type")
    )


@query("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-chart change-point detection per event type: the day d
    maximizing |S_d|, S_d = cumsum over days of (daily mean - grand
    mean of daily means) — Taylor's cumulative-sum method. Emits the
    split day, |S| magnitude, and the before/after segment means whose
    gap is the detected shift.

    Exactness: daily means live on an integer value*1e7 grid (integer
    div), S is integer cumsum in day order, the argmax compares exact
    BIGINTs with an earliest-day tiebreak — no float enters until the
    final ROUND projections, so both engines pick the same day on the
    same arithmetic.

    Scale: one groupBy(type, day) partial-agg shuffle over the fact
    table, then everything downstream is days x types sized (~10^3
    rows per year per type); the per-type windows partition on
    event_type so no global-order bottleneck. At 100 TB the heavy
    stage is the first agg — exactly the stage Spark map-side
    combines."""
    return cusum_report(_daily_partials(table(spark, sf_dir, "events")))


@query("streaming_cusum_refresh", oracle=_CUSUM_ORACLE)
def streaming_cusum_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM maintenance: replay events as real
    micro-batches; foreachBatch folds each batch's (type, day)
    value-unit sums into the persistent daily-partial state (exact
    BIGINT add-merge), then the final state finalizes through the
    SAME cusum_report the batch query uses — so the result must
    hash-equal the full recompute (this oracle IS the batch oracle),
    which holds only if partial-sum merging commutes with batching
    across every boundary. The monitoring shape: a control chart that
    stays current as data lands, with |types| x |days| rows of state
    forever.

    The replay (sharding, persisted state, idempotent batches) is
    streaming/replay.py::replay_fold, shared with every foreachBatch
    refresher."""
    return merge_refresh(
        spark, table(spark, sf_dir, "events"), _daily_partials, _add_daily,
        cusum_report, "stream_cusum_refresh_",
    )


@query(
    "events_ab_test_zstat",
    oracle=f"""
    WITH u AS MATERIALIZED (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 2 AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                                ELSE 0 END) >= {_AB_MIN_PURCHASES}
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT
        SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_control,
        SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_control,
        SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_treatment,
        SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_treatment
      FROM u
    )
    SELECT CAST(n_control AS BIGINT) AS n_control,
           CAST(conv_control AS BIGINT) AS conv_control,
           CASE WHEN n_control > 0 THEN
             ROUND(CAST(conv_control AS DOUBLE) / n_control, 4)
           END AS rate_control,
           CAST(n_treatment AS BIGINT) AS n_treatment,
           CAST(conv_treatment AS BIGINT) AS conv_treatment,
           CASE WHEN n_treatment > 0 THEN
             ROUND(CAST(conv_treatment AS DOUBLE) / n_treatment, 4)
           END AS rate_treatment,
           CASE WHEN n_control > 0 AND n_treatment > 0
                 AND conv_control + conv_treatment > 0
                 AND conv_control + conv_treatment
                     < n_control + n_treatment THEN
           ROUND(
             (CAST(conv_treatment AS DOUBLE) / n_treatment
              - CAST(conv_control AS DOUBLE) / n_control)
             / sqrt(
                 (CAST(conv_control + conv_treatment AS DOUBLE)
                  / (n_control + n_treatment))
                 * (1.0 - CAST(conv_control + conv_treatment AS DOUBLE)
                        / (n_control + n_treatment))
                 * (1.0 / n_control + 1.0 / n_treatment)
               ), 4)
           END AS z_stat,
           CASE WHEN n_control > 0 AND n_treatment > 0
                 AND conv_control + conv_treatment > 0
                 AND conv_control + conv_treatment
                     < n_control + n_treatment THEN
           ABS(
             (CAST(conv_treatment AS DOUBLE) / n_treatment
              - CAST(conv_control AS DOUBLE) / n_control)
             / sqrt(
                 (CAST(conv_control + conv_treatment AS DOUBLE)
                  / (n_control + n_treatment))
                 * (1.0 - CAST(conv_control + conv_treatment AS DOUBLE)
                        / (n_control + n_treatment))
                 * (1.0 / n_control + 1.0 / n_treatment)
               )) > {_AB_Z_CRIT}
           END AS significant,
           NOT (n_control > 0 AND n_treatment > 0
                AND conv_control + conv_treatment > 0
                AND conv_control + conv_treatment
                    < n_control + n_treatment) AS degenerate
    FROM agg
    """,
)
def events_ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test: users hash-split 50/50 by the
    engine-wide md5-prefix convention (deterministic, replayable —
    the assignment a real experimentation system derives from a user
    id + salt), conversion = at least 12 (_AB_MIN_PURCHASES) purchase events, pooled
    two-proportion z statistic with the 1.96 two-sided verdict.

    Exactness: counts are exact integers; the z expression is a single
    identical double formula over those integers on both engines
    (IEEE-correctly-rounded ops), rounded at 4.

    Scale: one user-keyed partial agg over the fact table, then a
    single global 4-counter agg — the textbook map-side-combine
    shape; nothing downstream exceeds one row."""
    ev = table(spark, sf_dir, "events")
    from env_data_pipeline_spark.extensions import text as TX

    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= _AB_MIN_PURCHASES,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select(
        (TX.md5_prefix_hash(F.col("user_id").cast("string")) % 2).alias(
            "variant"
        ),
        "conv",
    )
    agg = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_control"
        ),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias(
            "n_treatment"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_treatment"
        ),
    )
    pc = F.col("conv_control").cast("double") / F.col("n_control")
    pt = F.col("conv_treatment").cast("double") / F.col("n_treatment")
    pool = (F.col("conv_control") + F.col("conv_treatment")).cast("double") / (
        F.col("n_control") + F.col("n_treatment")
    )
    z = (pt - pc) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_control") + F.lit(1.0) / F.col("n_treatment"))
    )
    # Degenerate-input guard (mirrored in the oracle): an empty arm or
    # a zero pooled variance (all-convert / none-convert) has no
    # defined z — emit NULL stats plus an explicit verdict flag rather
    # than NULL/NaN leaking out of a division by zero, matching the
    # discipline of Mann-Kendall ('degenerate') and the Zipf fit.
    conv_total = F.col("conv_control") + F.col("conv_treatment")
    n_total = F.col("n_control") + F.col("n_treatment")
    z_ok = (
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & (conv_total > 0)
        & (conv_total < n_total)
    )
    return agg.select(
        F.col("n_control").cast("bigint").alias("n_control"),
        F.col("conv_control").cast("bigint").alias("conv_control"),
        F.when(F.col("n_control") > 0, F.round(pc, 4)).alias("rate_control"),
        F.col("n_treatment").cast("bigint").alias("n_treatment"),
        F.col("conv_treatment").cast("bigint").alias("conv_treatment"),
        F.when(F.col("n_treatment") > 0, F.round(pt, 4)).alias(
            "rate_treatment"
        ),
        F.when(z_ok, F.round(z, 4)).alias("z_stat"),
        F.when(z_ok, F.abs(z) > _AB_Z_CRIT).alias("significant"),
        (~z_ok).alias("degenerate"),
    )


_SKYLINE_ORACLE = """
    WITH p AS MATERIALIZED (
      SELECT p_partkey, p_size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    )
    SELECT a.p_partkey AS partkey,
           ROUND(a.cents / 100.0, 2) AS price,
           CAST(a.p_size AS INT) AS size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p q
      WHERE (q.cents < a.cents AND q.p_size <= a.p_size)
         OR (q.cents = a.cents AND q.p_size < a.p_size)
    )
    ORDER BY price, size, partkey
    """


@query("part_price_size_skyline", oracle=_SKYLINE_ORACLE)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) on (retail price, size), both
    minimized: parts no other part beats on one dimension without
    losing the other — the classic multi-objective shortlist.

    Plan (the 100 TB story): the textbook skyline is a quadratic
    NOT-EXISTS self-join — the oracle runs THAT, as independent
    evidence. The engine instead sorts once on exact integer cents,
    bucketed: a window partitioned by $5 cents bucket computes each
    row's min-size-among-strictly-cheaper within its bucket (parallel
    across buckets), a bucket-level summary frame (tens-to-hundreds
    of rows — explicitly tiny, the ONLY global-ordered window) carries
    the running min across earlier buckets, and a per-cents partition
    handles equal-price dominance. Total cost: two fact-sized
    window shuffles + one broadcast of the bucket summary —
    O(n log n), no self-join at any scale.

    Exactness: dominance compares integer cents/sizes only; price is
    a final ROUND projection of cents."""
    return _format_skyline(skyline_frame(skyline_source(spark, sf_dir)))


def skyline_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (p_partkey, cents, p_size) projection both skyline surfaces
    start from — ONE home for the cents-grid rule, so the batch query
    and the streaming state builder cannot drift onto different
    grids."""
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )


def skyline_frame(p: DataFrame) -> DataFrame:
    """Non-dominated subset of a (p_partkey, cents, p_size) frame —
    THE shared skyline kernel: the batch query runs it once over the
    part table; the streaming refresh runs it per batch AND as the
    merge (skyline is a mergeable algebra: skyline(A ∪ B) =
    skyline(skyline(A) ∪ B), because a dominated point can never
    re-enter)."""
    p = p.withColumn("bucket", F.expr(f"cents div {_SKY_BUCKET_CENTS}"))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("cents")
    big = F.lit(2_147_483_647)
    scored = p.select(
        "p_partkey",
        "p_size",
        "cents",
        "bucket",
        F.coalesce(F.min("p_size").over(w_in), big).alias("min_cheaper_in"),
        F.min("p_size").over(w_eq).alias("min_same_cents"),
    )
    buckets = p.groupBy("bucket").agg(F.min("p_size").alias("bmin"))
    w_run = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prev = buckets.select(
        "bucket", F.coalesce(F.min("bmin").over(w_run), big).alias("prev_min")
    )
    return (
        scored.join(F.broadcast(prev), "bucket")
        .filter(
            ~(
                (F.col("prev_min") <= F.col("p_size"))
                | (F.col("min_cheaper_in") <= F.col("p_size"))
                | (F.col("min_same_cents") < F.col("p_size"))
            )
        )
        .select("p_partkey", "cents", "p_size")
    )


def _format_skyline(sky: DataFrame) -> DataFrame:
    return sky.select(
        F.col("p_partkey").alias("partkey"),
        F.round(F.col("cents") / 100.0, 2).alias("price"),
        F.col("p_size").cast("int").alias("size"),
    ).orderBy("price", "size", "partkey")


# ---------------------------------------------------------------------------
# orders_ship_survival_km — Kaplan-Meier time-to-first-shipment with
# staggered-entry right-censoring at a calendar cutoff
# ---------------------------------------------------------------------------

_KM_CUTOFF = "1998-01-01 00:00:00"


@query(
    "orders_ship_survival_km",
    oracle=f"""
    WITH s AS MATERIALIZED (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             o.o_orderdate AS od, MIN(l.l_shipdate) AS ship
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2, 3
    ),
    obs AS (
      SELECT priority,
             CASE WHEN ship <= TIMESTAMP '{_KM_CUTOFF}'
                  THEN date_diff('day', od, ship)
                  ELSE date_diff('day', od, TIMESTAMP '{_KM_CUTOFF}') END AS t,
             CASE WHEN ship <= TIMESTAMP '{_KM_CUTOFF}' THEN 1 ELSE 0 END AS ev
      FROM s
      WHERE od <= TIMESTAMP '{_KM_CUTOFF}' AND ship >= od
    ),
    grp AS (
      SELECT priority, t, SUM(ev) AS d, COUNT(*) - SUM(ev) AS c
      FROM obs GROUP BY 1, 2
    ),
    tot AS (SELECT priority, COUNT(*) AS n_total FROM obs GROUP BY 1),
    risk AS (
      SELECT g.priority, g.t, g.d,
             t2.n_total
               - COALESCE(SUM(g2.d + g2.c) OVER (
                   PARTITION BY g.priority ORDER BY g.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM grp g
      JOIN tot t2 USING (priority)
      -- window over the grp rows themselves
      , LATERAL (SELECT g.d AS d, g.c AS c) g2
    ),
    km AS (
      SELECT priority, t, d, n_risk,
             MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w AS hit_zero,
             SUM(CASE WHEN d > 0 AND d < n_risk
                      THEN CAST(floor(ln(1 - d * 1.0 / n_risk) * 1000000000)
                                AS BIGINT)
                      ELSE 0 END) OVER w AS logsurv_u
      FROM risk
      WINDOW w AS (PARTITION BY priority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT priority, CAST(t AS INT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(exp(logsurv_u / 1000000000.0), 4) END AS survival
    FROM km
    WHERE d > 0
    ORDER BY priority, t_days
    """,
)
def orders_ship_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-first-shipment per order
    priority, right-censored at the 1998-01-01 (_KM_CUTOFF) observation date: orders
    still unshipped at cutoff contribute follow-up time without an
    event (staggered entry gives genuinely interior censoring, so
    this is true KM, not an ECDF). The curve answers "what fraction
    of URGENT orders are still unshipped k days after ordering?" —
    the SLA survival question — with the censoring handled the way a
    naive drop-the-open-orders average gets wrong.

    Exactness: event/censor times are integer day diffs; risk sets
    are exact integer cumulative counts; the product-limit estimate
    folds as exp(sum(ln(1 - d/n))) over a window ordered by the
    integer time, so both engines add the same doubles in the same
    order; d = n_risk sends the curve exactly to 0 via the hit_zero
    flag (never ln(0) — which Spark nulls and DuckDB -infs).

    Scale: one orderkey groupBy (first shipdate), one (priority, t)
    groupBy, then windows over |distinct times| rows per priority —
    the heavy stages are the two fact-sized partial aggs. Orders
    with shipdate noise (ship < order date, present in the synthetic
    data) are excluded as incoherent."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_KM_CUTOFF).cast("timestamp")
    s = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("ship"))
    )
    obs = s.filter(
        (F.col("o_orderdate") <= cutoff) & (F.col("ship") >= F.col("o_orderdate"))
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(
            F.col("ship") <= cutoff,
            F.datediff(F.col("ship"), F.col("o_orderdate")),
        )
        .otherwise(F.datediff(cutoff, F.col("o_orderdate")))
        .alias("t"),
        F.when(F.col("ship") <= cutoff, 1).otherwise(0).alias("ev"),
    )
    grp = obs.groupBy("priority", "t").agg(
        F.sum("ev").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("c"),
    )
    tot = obs.groupBy("priority").agg(F.count(F.lit(1)).alias("n_total"))
    wprev = (
        Window.partitionBy("priority")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcur = (
        Window.partitionBy("priority")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grp.join(F.broadcast(tot), "priority").withColumn(
        "n_risk",
        F.col("n_total")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)),
    )
    km = risk.select(
        "priority",
        "t",
        "d",
        "n_risk",
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
        .over(wcur)
        .alias("hit_zero"),
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.floor(
                    F.log(F.lit(1.0) - F.col("d") * F.lit(1.0) / F.col("n_risk"))
                    * F.lit(1_000_000_000)
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .over(wcur)
        .alias("logsurv_u"),
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            "priority",
            F.col("t").cast("int").alias("t_days"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("n_events"),
            F.when(F.col("hit_zero") == 1, 0.0)
            .otherwise(
                F.round(F.exp(F.col("logsurv_u") / F.lit(1_000_000_000.0)), 4)
            )
            .alias("survival"),
        )
        .orderBy("priority", "t_days")
    )


# ---------------------------------------------------------------------------
# diversity / concentration indices: Shannon entropy of each nation's
# revenue mix over part types, and supplier HHI per nation
# ---------------------------------------------------------------------------

_REV_UNITS_SQL = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"
)
# p*ln(p) terms land on this grid before the entropy sum
_ENT_GRID = 1_000_000_000


@query(
    "nation_parttype_entropy",
    oracle=f"""
    WITH rev AS MATERIALIZED (
      SELECT n.n_name AS nation, p.p_type AS ptype,
             SUM({_REV_UNITS_SQL}) AS su
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, SUM(su) AS t, COUNT(*) AS n_types
            FROM rev GROUP BY 1),
    terms AS (
      SELECT r.nation, t.n_types,
             CAST(floor((CAST(r.su AS DOUBLE) / t.t)
                        * ln(CAST(r.su AS DOUBLE) / t.t)
                        * {_ENT_GRID}) AS BIGINT) AS term_u
      FROM rev r JOIN tot t USING (nation)
    )
    SELECT nation, CAST(n_types AS INT) AS n_types,
           ROUND(-SUM(term_u) / {_ENT_GRID}.0, 4) AS entropy_nats,
           CASE WHEN n_types > 1 THEN
             ROUND((-SUM(term_u) / {_ENT_GRID}.0) / ln(n_types), 4)
           END AS entropy_norm
    FROM terms
    GROUP BY nation, n_types
    ORDER BY nation
    """,
)
def nation_parttype_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each nation's revenue mix across
    part types, plus the 0-1 normalized form (H / ln(k)): the
    assortment-diversity index — a nation near 0 concentrates its
    spend in few product types, near 1 spreads evenly. The
    diversity complement of part_supplier_concentration's top-share
    view.

    Exactness: revenue shares come from exact half-up 1e-4-unit
    BIGINT sums; each p*ln(p) term is floor-quantized onto a 1e9
    integer grid BEFORE the entropy sum, so aggregation order cannot
    move the result. ln is the one non-correctly-rounded op here;
    quantizing its per-row output bounds libm's 1-ulp slack to a
    ~1e-9-wide knife-edge per term that also needs the final ROUND
    to sit within 1e-9 of a half boundary — the same accepted risk
    class as the Kaplan-Meier and Zipf grids.

    Scale: lineitem⋈orders co-partitions on orderkey (sort-merge —
    both are fact tables, never broadcast); customer/nation/part are
    true dimensions and broadcast; then one (nation, type) partial
    agg and nation-sized frames."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(p.select("p_partkey", "p_type")),
              li["l_partkey"] == F.col("p_partkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("p_type").alias("ptype"))
        .agg(F.sum(F.expr(_REV_UNITS_SQL)).alias("su"))
    )
    tot = rev.groupBy("nation").agg(
        F.sum("su").alias("t"), F.count(F.lit(1)).alias("n_types")
    )
    pr = F.col("su").cast("double") / F.col("t")
    terms = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        "n_types",
        F.floor(pr * F.log(pr) * F.lit(_ENT_GRID)).cast("bigint").alias("term_u"),
    )
    h = -F.sum("term_u") / F.lit(float(_ENT_GRID))
    return (
        terms.groupBy("nation", "n_types")
        .agg(
            F.round(h, 4).alias("entropy_nats"),
            F.when(
                F.col("n_types") > 1, F.round(h / F.log(F.col("n_types")), 4)
            ).alias("entropy_norm"),
        )
        .select(
            "nation",
            F.col("n_types").cast("int").alias("n_types"),
            "entropy_nats",
            "entropy_norm",
        )
        .orderBy("nation")
    )


_HHI_ORACLE = f"""
    WITH rev AS MATERIALIZED (
      SELECT n.n_name AS nation, l.l_suppkey AS suppkey,
             SUM({_REV_UNITS_SQL}) AS su
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, SUM(su) AS t, COUNT(*) AS n_suppliers
            FROM rev GROUP BY 1),
    shares AS (
      SELECT r.nation, t.n_suppliers,
             (r.su * 1000000) // t.t AS share_ppm
      FROM rev r JOIN tot t USING (nation)
    )
    SELECT nation, CAST(n_suppliers AS INT) AS n_suppliers,
           CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_e12,
           ROUND(SUM(share_ppm * share_ppm) / 1000000000000.0, 4) AS hhi
    FROM shares
    GROUP BY nation, n_suppliers
    ORDER BY nation
    """


def hhi_report(rev: DataFrame) -> DataFrame:
    """HHI report from a (nation, suppkey, su) revenue-partial frame —
    THE shared finalize for the batch query and the streaming state
    refresh (su = exact 1e-4-unit revenue sum per supplier)."""
    tot = rev.groupBy("nation").agg(
        F.sum("su").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shares = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        "n_suppliers",
        F.expr("(su * 1000000) div t").alias("share_ppm"),
    )
    return (
        shares.groupBy("nation", "n_suppliers")
        .agg(
            F.sum(F.col("share_ppm") * F.col("share_ppm"))
            .cast("bigint")
            .alias("hhi_e12")
        )
        .select(
            "nation",
            F.col("n_suppliers").cast("int").alias("n_suppliers"),
            "hhi_e12",
            F.round(F.col("hhi_e12") / 1_000_000_000_000.0, 4).alias("hhi"),
        )
        .orderBy("nation")
    )


def supplier_revenue_partials(
    li: DataFrame, sup: DataFrame, n: DataFrame
) -> DataFrame:
    """(nation, suppkey, su) exact revenue partials of lineitem rows
    ``li`` — the shared kernel of both HHI surfaces: the batch query
    runs it once over the fact table, the streaming refresh per batch
    (its add-merge state)."""
    return (
        li.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
                li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(F.expr(_REV_UNITS_SQL)).alias("su"))
    )


@query("nation_supplier_hhi", oracle=_HHI_ORACLE)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supply revenue per
    supplier nation: the sum of squared supplier revenue shares —
    1/n for perfect competition, 1.0 for a monopoly supplier. The
    antitrust-style screen over the supply base; pairs with
    part_supplier_concentration (per-part top share) and
    nation_parttype_entropy (demand-side diversity).

    Exactness: fully integer — shares on an exact 1e6 ppm grid via
    BIGINT floor division, HHI as the exact sum of squared ppm
    (< 1e12, inside BIGINT); the double form is one final ROUND.

    Scale: one fact-sized partial agg keyed (nation, supplier) with
    two broadcast dims, then supplier-count-sized frames."""
    return hhi_report(
        supplier_revenue_partials(
            table(spark, sf_dir, "lineitem"),
            table(spark, sf_dir, "supplier"),
            table(spark, sf_dir, "nation"),
        )
    )


@query("streaming_hhi_refresh", oracle=_HHI_ORACLE)
def streaming_hhi_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming supplier-concentration maintenance: the lineitem
    fact stream replays as real micro-batches; foreachBatch enriches
    each batch with the broadcast supplier/nation dims, reduces to
    (nation, suppkey) exact revenue-unit partials, and ADD-merges
    them into the persistent state; the final state finalizes through
    the SHARED hhi_report — hash-equal to the batch query (this
    oracle IS the batch oracle). The antitrust screen kept current as
    sales land; state is |suppliers| rows forever.

    The replay is streaming/replay.py::replay_fold, shared with
    every foreachBatch refresher (sharded on l_orderkey)."""
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("nation", "suppkey")
            .agg(F.sum("su").alias("su"))
        )

    return merge_refresh(
        spark, table(spark, sf_dir, "lineitem"),
        lambda batch: supplier_revenue_partials(batch, sup, nat),
        merge, hhi_report, "stream_hhi_refresh_",
        shard_key="l_orderkey",
    )


@query("streaming_skyline_refresh", oracle=_SKYLINE_ORACLE)
def streaming_skyline_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Pareto-frontier maintenance: the part table replays
    as real micro-batches; foreachBatch computes each batch's local
    skyline and merges it into the persistent frontier state by
    running the SAME skyline kernel over (state ∪ batch-skyline) —
    sound because dominance is monotone: a point dominated by any
    prefix stays dominated by every superset, so
    skyline(A ∪ B) = skyline(skyline(A) ∪ B). The final frontier
    must hash-equal the batch query (this oracle IS the batch
    oracle). State is frontier-sized — typically tiny — forever; the
    continuous form of the "current best tradeoffs" board.

    The replay is streaming/replay.py::replay_fold, shared with
    every foreachBatch refresher (sharded on p_partkey)."""

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return skyline_frame(old.unionByName(new))

    return merge_refresh(
        spark, skyline_source(spark, sf_dir), skyline_frame, merge,
        _format_skyline, "stream_skyline_refresh_",
        shard_key="p_partkey",
    )


_MK_ORACLE = f"""
    WITH {_DAILY_M_CTE},
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.m > a.m THEN 1
                  WHEN b.m < a.m THEN -1 ELSE 0 END AS sg
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    sstat AS (SELECT event_type, SUM(sg) AS s FROM pairs GROUP BY 1),
    nn AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
    ties AS (
      SELECT event_type,
             SUM(t * (t - 1) * (2 * t + 5)) AS tie_adj
      FROM (SELECT event_type, m, COUNT(*) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY 1
    ),
    v AS (
      -- LEFT join: a type whose days produce zero (da < db) pairs
      -- (all events on one day) has no sstat row but must still
      -- surface as 'degenerate', not vanish
      SELECT n.event_type, COALESCE(s.s, 0) AS s, n.n,
             CAST(n.n AS BIGINT) * (n.n - 1) * (2 * n.n + 5)
               - COALESCE(t.tie_adj, 0) AS var18
      FROM nn n
      LEFT JOIN sstat s USING (event_type)
      LEFT JOIN ties t USING (event_type)
    )
    SELECT event_type,
           CAST(s AS BIGINT) AS s_stat,
           CAST(n AS INT) AS n_days,
           CASE WHEN var18 > 0 THEN
             ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
                        WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
                        ELSE 0.0 END, 4)
           END AS z_stat,
           CASE WHEN var18 <= 0 THEN 'degenerate'
                WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
                           WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
                           ELSE 0.0 END) > {_AB_Z_CRIT} THEN 'increasing'
                WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
                           WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
                           ELSE 0.0 END) < -{_AB_Z_CRIT} THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v
    ORDER BY event_type
    """


@query("events_mann_kendall_trend", oracle=_MK_ORACLE)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over the
    daily mean value series: S = sum over day pairs i<j of
    sign(m_j - m_i), variance with the standard tie correction,
    continuity-corrected z, and the increasing / decreasing /
    no_trend verdict at 1.96. The NONPARAMETRIC complement to
    events_cusum_changepoint — CUSUM locates a level SHIFT, MK
    detects a monotonic DRIFT without assuming any distribution.

    Exactness: daily means on the shared value*1e7 integer grid; S
    and the tie-corrected variance*18 are exact BIGINTs (signs via
    explicit CASE — Spark's signum returns a double, DuckDB's sign
    an integer, so neither is used); z is one identical double
    expression; zero variance (all days tied, or a type whose events
    all fall on one day — kept via a LEFT join, never dropped) yields
    NULL z and a 'degenerate' verdict, never a division error.

    Scale: the pair join is DAY-grain — (days choose 2) rows per
    type, bounded by the calendar (6.6M pairs for a decade), never
    by the fact table; the only fact-sized stage is the first
    groupBy, shared shape with CUSUM."""
    ev = table(spark, sf_dir, "events")
    return mann_kendall_report(_daily_m(_daily_partials(ev)))


def mann_kendall_report(daily: DataFrame) -> DataFrame:
    """Mann-Kendall report from an (event_type, day, m) daily-mean
    frame — THE shared finalize: the batch query and the streaming
    state refresh both call this, so the two surfaces cannot drift."""
    a = daily.select("event_type", F.col("day").alias("da"), F.col("m").alias("ma"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("m").alias("mb"))
    pairs = a.join(b, "event_type").filter(F.col("da") < F.col("db"))
    sstat = pairs.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("mb") > F.col("ma"), 1)
            .when(F.col("mb") < F.col("ma"), -1)
            .otherwise(0)
        ).alias("s")
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "m")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_adj")
        )
    )
    v = (
        nn.join(sstat, "event_type", "left")
        .join(ties, "event_type", "left")
        .withColumn("s", F.coalesce("s", F.lit(0)))
        .withColumn(
            "var18",
            F.col("n").cast("bigint") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.coalesce("tie_adj", F.lit(0)),
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var18") / 18.0))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var18") / 18.0))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        F.col("s").cast("bigint").alias("s_stat"),
        F.col("n").cast("int").alias("n_days"),
        F.when(F.col("var18") > 0, F.round(z, 4)).alias("z_stat"),
        F.when(F.col("var18") <= 0, F.lit("degenerate"))
        .when(z > _AB_Z_CRIT, F.lit("increasing"))
        .when(z < -_AB_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    ).orderBy("event_type")


@query("streaming_mann_kendall_refresh", oracle=_MK_ORACLE)
def streaming_mann_kendall_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Mann-Kendall maintenance: the same (event_type, day)
    value-unit partial state the CUSUM refresh merges (exact BIGINT
    add-merge across real micro-batches), finalized through the
    SHARED mann_kendall_report — so the drift verdict stays current
    as data lands and must hash-equal the batch query (this oracle IS
    the batch oracle). One state table now serves BOTH control
    charts; the day-grain pair scan runs only at read time.

    The replay is streaming/replay.py::replay_fold, shared with
    every foreachBatch refresher."""
    return merge_refresh(
        spark, table(spark, sf_dir, "events"), _daily_partials, _add_daily,
        lambda state: mann_kendall_report(_daily_m(state)),
        "stream_mk_refresh_",
    )


# ---------------------------------------------------------------------------
# events_holt_trend_forecast — Holt double exponential smoothing over
# the shared daily-mean grid (r10): level + trend + 7-day forecast
# ---------------------------------------------------------------------------

# forecast horizon (days past the last observation)
_HOLT_H = 7

_HOLT_ORACLE = f"""
    WITH RECURSIVE {_DAILY_M_CTE},
    seq AS MATERIALIZED (
      SELECT event_type, m,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                 AS rn
      FROM daily
    ),
    nd AS (SELECT event_type, MAX(rn) AS nd FROM seq GROUP BY 1),
    hw AS (
      SELECT event_type, 1 AS rn, m AS l, CAST(0 AS BIGINT) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT h.event_type, h.rn + 1,
             (s.m + h.l + h.b) // 2,
             (((s.m + h.l + h.b) // 2) - h.l + h.b) // 2
      FROM hw h JOIN seq s
        ON s.event_type = h.event_type AND s.rn = h.rn + 1
    )
    SELECT h.event_type, CAST(n.nd AS BIGINT) AS n_days,
           ROUND(h.l / 10000000.0, 4) AS level,
           ROUND(h.b / 10000000.0, 4) AS trend_per_day,
           ROUND((h.l + {_HOLT_H} * h.b) / 10000000.0, 4)
               AS forecast_{_HOLT_H}d
    FROM hw h JOIN nd n
      ON n.event_type = h.event_type AND h.rn = n.nd
    ORDER BY h.event_type
    """


def holt_report(daily: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing (alpha = beta = 1/2) over a
    (event_type, day, m) frame — THE shared kernel: the batch query
    and the streaming refresh both finalize through it.

    With alpha = beta = 1/2 every update is a dyadic rational, so the
    whole recursion stays on the exact 1e7 integer grid: l_t =
    (m_t + l_(t-1) + b_(t-1)) div 2 and b_t = (l_t - l_(t-1) +
    b_(t-1)) div 2, init l_1 = m_1, b_1 = 0. Spark's `div` and
    DuckDB's `//` BOTH truncate toward zero (verified on negatives —
    the trend term can dip below zero), so the fold is bit-identical;
    doubles appear only in the final ROUND projections.

    Scale: one groupBy per type collecting the day-ordered mean array
    (calendar-bounded — days, not events), one O(days) fold per type;
    the fact table is touched only by the daily partial aggregate."""
    arr = F.array_sort(F.collect_list(F.struct("day", "m")))
    fold = F.expr(
        "aggregate(slice(arr, 2, size(arr) - 1), "
        "named_struct('l', arr[0].m, 'b', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        "'l', (x.m + acc.l + acc.b) div 2, "
        "'b', (((x.m + acc.l + acc.b) div 2) - acc.l + acc.b) div 2))"
    )
    return (
        daily.groupBy("event_type")
        .agg(arr.alias("arr"))
        .select(
            "event_type",
            F.size("arr").cast("bigint").alias("n_days"),
            fold.alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.col("st.l") / 1e7, 4).alias("level"),
            F.round(F.col("st.b") / 1e7, 4).alias("trend_per_day"),
            F.round(
                (F.col("st.l") + _HOLT_H * F.col("st.b")) / 1e7, 4
            ).alias(f"forecast_{_HOLT_H}d"),
        )
        .orderBy("event_type")
    )


@query("events_holt_trend_forecast", oracle=_HOLT_ORACLE)
def events_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast per event type: smoothed level,
    per-day trend, and the 7-day-ahead point forecast over
    the SHARED daily-mean grid (the same _DAILY_M_CTE frame CUSUM and
    Mann-Kendall consume — change the grid in one place only). The
    operational reading: Mann-Kendall says WHETHER a metric drifts,
    CUSUM says WHEN it broke, Holt says WHERE it is heading — the
    three views a capacity/quality dashboard runs side by side.

    A single-day type degenerates cleanly: level = its one mean,
    trend = 0, forecast = level (the fold runs over an empty tail).

    Exactness/scale: holt_report. The oracle replays the identical
    recursion as a recursive CTE over the row-numbered day sequence."""
    ev = table(spark, sf_dir, "events")
    return holt_report(_daily_m(_daily_partials(ev)))


@query("streaming_holt_refresh", oracle=_HOLT_ORACLE)
def streaming_holt_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt maintenance: the SAME (event_type, day)
    value-unit partial state the CUSUM and Mann-Kendall refreshes
    add-merge across real micro-batches now also serves the forecast
    — three standing control charts off one state table, finalized
    through the shared holt_report, hash-equal to the batch query by
    construction (this oracle IS the batch oracle).

    The replay is streaming/replay.py::replay_fold, shared with
    every foreachBatch refresher."""
    return merge_refresh(
        spark, table(spark, sf_dir, "events"), _daily_partials, _add_daily,
        lambda state: holt_report(_daily_m(state)),
        "stream_holt_refresh_",
    )


# ---------------------------------------------------------------------------
# promo_did_uplift — difference-in-differences promo effect (r10)
# ---------------------------------------------------------------------------

# policy date splitting the panel into pre/post periods (TPC-H ship
# dates span 1992-1998; mid-1995 splits the mass roughly in half)
_DID_CUTOFF = "1995-06-01"
_REV_1E4_SQL = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"
)


@query(
    "promo_did_uplift",
    oracle=f"""
    WITH cells AS (
      SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treat,
             CASE WHEN l.l_shipdate >= TIMESTAMP '{_DID_CUTOFF} 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             {_REV_1E4_SQL} AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    agg AS (
      SELECT
        SUM(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS n_t_pre,
        SUM(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS n_t_post,
        SUM(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS n_c_pre,
        SUM(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS n_c_post,
        SUM(CASE WHEN treat = 1 AND post = 0 THEN rev ELSE 0 END)
            // NULLIF(SUM(CASE WHEN treat = 1 AND post = 0 THEN 1
                              ELSE 0 END), 0) AS m_t_pre,
        SUM(CASE WHEN treat = 1 AND post = 1 THEN rev ELSE 0 END)
            // NULLIF(SUM(CASE WHEN treat = 1 AND post = 1 THEN 1
                              ELSE 0 END), 0) AS m_t_post,
        SUM(CASE WHEN treat = 0 AND post = 0 THEN rev ELSE 0 END)
            // NULLIF(SUM(CASE WHEN treat = 0 AND post = 0 THEN 1
                              ELSE 0 END), 0) AS m_c_pre,
        SUM(CASE WHEN treat = 0 AND post = 1 THEN rev ELSE 0 END)
            // NULLIF(SUM(CASE WHEN treat = 0 AND post = 1 THEN 1
                              ELSE 0 END), 0) AS m_c_post
      FROM cells
    )
    SELECT CAST(n_t_pre AS BIGINT) AS n_treat_pre,
           CAST(n_t_post AS BIGINT) AS n_treat_post,
           CAST(n_c_pre AS BIGINT) AS n_control_pre,
           CAST(n_c_post AS BIGINT) AS n_control_post,
           ROUND(m_t_pre / 10000.0, 4) AS mean_treat_pre,
           ROUND(m_t_post / 10000.0, 4) AS mean_treat_post,
           ROUND(m_c_pre / 10000.0, 4) AS mean_control_pre,
           ROUND(m_c_post / 10000.0, 4) AS mean_control_post,
           ROUND(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                 / 10000.0, 4) AS did_uplift
    FROM agg
    """,
)
def promo_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the PROMO part-type
    effect on per-lineitem revenue: treatment = PROMO-type parts,
    control = everything else, pre/post split at the 1995-06-01
    policy date — DiD = (treat-post − treat-pre) − (control-post −
    control-pre), the standard panel estimator that nets out both the
    level difference between the groups and the common time trend
    (the causal-reading companion to the purely descriptive A/B
    z-test above).

    Exactness: revenue folds on the exact 1e-4 unit grid; cell means
    are integer division of non-negative sums; the DiD combines the
    four exact means by subtraction only. NULLIF guards an empty cell
    (NULL mean + NULL uplift rather than a division error).

    Scale: one broadcast of the part dim's (key, treat) projection
    onto the fact scan, then a single 8-counter global aggregate —
    map-side combined, nothing downstream exceeds one row."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").startswith("PROMO").cast("int").alias("treat"),
    )
    cells = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    ).select(
        "treat",
        (F.col("l_shipdate") >= F.lit(f"{_DID_CUTOFF} 00:00:00").cast(
            "timestamp"
        ))
        .cast("int")
        .alias("post"),
        F.expr(_REV_1E4_SQL).alias("rev"),
    )

    def n_of(t: int, s: int):
        return F.sum(
            F.when((F.col("treat") == t) & (F.col("post") == s), 1).otherwise(0)
        )

    def sum_of(t: int, s: int):
        return F.sum(
            F.when(
                (F.col("treat") == t) & (F.col("post") == s), F.col("rev")
            ).otherwise(0)
        )

    agg = cells.agg(
        n_of(1, 0).alias("n_t_pre"),
        n_of(1, 1).alias("n_t_post"),
        n_of(0, 0).alias("n_c_pre"),
        n_of(0, 1).alias("n_c_post"),
        sum_of(1, 0).alias("s_t_pre"),
        sum_of(1, 1).alias("s_t_post"),
        sum_of(0, 0).alias("s_c_pre"),
        sum_of(0, 1).alias("s_c_post"),
    ).select(
        "*",
        F.expr("s_t_pre div nullif(n_t_pre, 0)").alias("m_t_pre"),
        F.expr("s_t_post div nullif(n_t_post, 0)").alias("m_t_post"),
        F.expr("s_c_pre div nullif(n_c_pre, 0)").alias("m_c_pre"),
        F.expr("s_c_post div nullif(n_c_post, 0)").alias("m_c_post"),
    )
    return agg.select(
        F.col("n_t_pre").cast("bigint").alias("n_treat_pre"),
        F.col("n_t_post").cast("bigint").alias("n_treat_post"),
        F.col("n_c_pre").cast("bigint").alias("n_control_pre"),
        F.col("n_c_post").cast("bigint").alias("n_control_post"),
        F.round(F.col("m_t_pre") / 1e4, 4).alias("mean_treat_pre"),
        F.round(F.col("m_t_post") / 1e4, 4).alias("mean_treat_post"),
        F.round(F.col("m_c_pre") / 1e4, 4).alias("mean_control_pre"),
        F.round(F.col("m_c_post") / 1e4, 4).alias("mean_control_post"),
        F.round(
            (
                (F.col("m_t_post") - F.col("m_t_pre"))
                - (F.col("m_c_post") - F.col("m_c_pre"))
            )
            / 1e4,
            4,
        ).alias("did_uplift"),
    )


# ---------------------------------------------------------------------------
# part_price_elasticity — per-brand log-log demand curve (r10):
# ln(total qty) ~ ln(avg price) OLS across a brand's parts
# ---------------------------------------------------------------------------

# ln values floor-quantize onto a 1e5 integer grid before any sum:
# x, y < ~2.8e6 (ln of cent/qty magnitudes), x*y < ~8e12, and the
# per-brand sums stay inside BIGINT up to ~1e6 parts per brand
# (sf ~100+); past that the grid must shrink a decade (documented
# bound, same pattern as the Zipf grid).
_ELAS_LN_GRID = 100_000


def _elasticity_oracle() -> str:
    from env_data_pipeline_spark.plans.textstats import (
        _OLS_DEN_SQL,
        _OLS_NUM_SQL,
    )

    return f"""
    WITH pp AS (
      SELECT p.p_brand AS brand,
             SUM(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS q,
             SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                 // COUNT(*) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_partkey, p.p_brand
    ),
    pts AS (
      SELECT brand,
             CAST(floor(ln(cents) * {_ELAS_LN_GRID}) AS BIGINT) AS x,
             CAST(floor(ln(q) * {_ELAS_LN_GRID}) AS BIGINT) AS y
      FROM pp WHERE q > 0 AND cents > 0
    ),
    sums AS (
      SELECT brand, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n_parts,
           CASE WHEN {_OLS_DEN_SQL} <> 0
                THEN ROUND({_OLS_NUM_SQL} / {_OLS_DEN_SQL}, 4)
           END AS elasticity,
           CASE WHEN ({_OLS_DEN_SQL} <> 0)
                 AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <> 0)
                THEN ROUND(({_OLS_NUM_SQL} * {_OLS_NUM_SQL})
                     / ({_OLS_DEN_SQL}
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 4)
           END AS r_squared
    FROM sums
    ORDER BY brand
    """


@query("part_price_elasticity", oracle=_elasticity_oracle())
def part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: OLS slope of
    ln(total quantity sold) against ln(average unit price in cents)
    across each brand's parts, with r-squared — the log-log demand
    curve a pricing team fits before a discount policy; slope near
    -1 reads "revenue-neutral repricing band". Reuses the engine-wide
    log-log OLS-from-exact-sums machinery (textstats._ols_cols /
    _OLS_NUM_SQL): ln values floor-quantize onto the 1e5 integer grid
    BEFORE the sums, so Sx/Sxy/... are exact BIGINTs and the slope is
    one identical double expression per engine; degenerate brands
    (zero variance) yield NULL.

    Scale: one fact-side partial agg keyed on (partkey, brand) — the
    broadcast-dim top-supplier shape — then 25 brand-grain OLS sums;
    the regression never sees more than |parts| rows and the grid
    bound is documented at the constant."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pp = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_partkey", F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "sum(CAST(floor(l_quantity + 0.5) AS BIGINT))"
            ).alias("q"),
            F.expr(
                "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " div count(1)"
            ).alias("cents"),
        )
    )
    pts = pp.filter((F.col("q") > 0) & (F.col("cents") > 0)).select(
        "brand",
        F.floor(F.log("cents") * _ELAS_LN_GRID).cast("bigint").alias("x"),
        F.floor(F.log("q") * _ELAS_LN_GRID).cast("bigint").alias("y"),
    )
    sums = pts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    from env_data_pipeline_spark.plans.textstats import _ols_cols

    num, den = _ols_cols(sums)
    deny = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return sums.select(
        "brand",
        F.col("n").cast("bigint").alias("n_parts"),
        F.when(den != 0, F.round(num / den, 4)).alias("elasticity"),
        F.when(
            (den != 0) & (deny != 0),
            F.round((num * num) / (den * deny), 4),
        ).alias("r_squared"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# lineitem_priority_sample_estimate — Duffield-Lund-Thorup priority
# sampling (r10): weighted sample + unbiased subset-sum estimator
# ---------------------------------------------------------------------------

_PRI_K = 1_000
_PRI_U_GRID = 1_000_000  # md5-derived uniform on a 1e-6 integer grid


@query(
    "lineitem_priority_sample_estimate",
    oracle=f"""
    WITH w AS (
      SELECT l_orderkey * 10 + l_linenumber AS item_id,
             {_REV_1E4_SQL} AS wt,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                           AS VARCHAR)), 1, 12)) AS BIGINT)
                 % {_PRI_U_GRID} + 1 AS u
      FROM lineitem
    ),
    q AS (SELECT item_id, wt, (wt * {_PRI_U_GRID}) // u AS pri FROM w),
    ranked AS (
      SELECT wt, pri, ROW_NUMBER() OVER (ORDER BY pri DESC, item_id) AS rk
      FROM q
    ),
    tau AS (SELECT pri AS tau FROM ranked WHERE rk = {_PRI_K} + 1),
    est AS (
      SELECT SUM(CASE WHEN wt > (SELECT tau FROM tau) THEN wt
                      ELSE (SELECT tau FROM tau) END) AS est_units
      FROM ranked WHERE rk <= {_PRI_K}
    ),
    exact AS (SELECT SUM(wt) AS total_units FROM w)
    SELECT {_PRI_K} AS k,
           CAST(exact.total_units AS BIGINT) AS exact_units,
           CAST(est.est_units AS BIGINT) AS estimate_units,
           CAST(ABS(est.est_units - exact.total_units) * 1000
                // exact.total_units AS BIGINT) AS err_permille
    FROM est, exact
    """,
)
def lineitem_priority_sample_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007): a k-item
    weighted sample that supports UNBIASED subset-sum estimation —
    the sampling primitive a 100 TB pipeline uses to audit revenue
    totals without scanning everything twice. Each lineitem gets
    priority w/u (u a deterministic md5-derived uniform on the 1e-6
    grid — replayable, like every engine sampler); the top-k by
    priority form the sample, tau is the (k+1)-th priority, and the
    estimator sums max(w, tau) over the sample. The query reports the
    estimate NEXT TO the exact total as its own error exhibit (same
    pattern as the KMV set-ops query).

    Exactness: weights are exact 1e-4 revenue units; priorities are
    integer division of BIGINT-safe products (w <= ~1e9 units times
    1e6 grid < 2^63); tau/top-k tie-break on (priority, item_id) is
    total; the estimator is a conditional integer sum.

    Scale: priorities are per-row projections; the top-(k+1) is one
    TakeOrdered pass (k+1 rows kept per partition, no global sort);
    the exact total is the map-side-combined scan the estimator is
    meant to replace — shipped here only as the accuracy exhibit."""
    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("item_id"),
        F.expr(_REV_1E4_SQL).alias("wt"),
    ).select(
        "item_id",
        "wt",
        (
            TX.md5_prefix_hash(F.col("item_id").cast("string"))
            % _PRI_U_GRID
            + 1
        ).alias("u"),
    )
    q = w.select(
        "item_id", "wt", F.expr(f"(wt * {_PRI_U_GRID}) div u").alias("pri")
    )
    topk1 = q.orderBy(F.desc("pri"), "item_id").limit(_PRI_K + 1)
    wnd = Window.orderBy(F.desc("pri"), "item_id")
    ranked = topk1.withColumn("rk", F.row_number().over(wnd))
    tau = ranked.filter(F.col("rk") == _PRI_K + 1).select(
        F.col("pri").alias("tau")
    )
    est = (
        ranked.filter(F.col("rk") <= _PRI_K)
        .crossJoin(F.broadcast(tau))
        .agg(
            F.sum(
                F.when(F.col("wt") > F.col("tau"), F.col("wt")).otherwise(
                    F.col("tau")
                )
            ).alias("est_units")
        )
    )
    exact = w.agg(F.sum("wt").alias("total_units"))
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(_PRI_K).alias("k"),
        F.col("total_units").cast("bigint").alias("exact_units"),
        F.col("est_units").cast("bigint").alias("estimate_units"),
        F.expr("abs(est_units - total_units) * 1000 div total_units")
        .cast("bigint")
        .alias("err_permille"),
    )


# ---------------------------------------------------------------------------
# events_daily_fano_burstiness — dispersion of daily event counts (r10)
# ---------------------------------------------------------------------------


@query(
    "events_daily_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
      FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s1 AS BIGINT) AS total_events,
           CAST(1000 * (n * s2 - s1 * s1) // (n * s1) AS BIGINT)
               AS fano_permille,
           1000 * (n * s2 - s1 * s1) // (n * s1) > 1000 AS overdispersed
    FROM s ORDER BY event_type
    """,
)
def events_daily_fano_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of DAILY event counts per
    type, in exact integer permille — the burstiness screen next to
    the CUSUM/Mann-Kendall/Holt charts: a Poisson-like arrival stream
    reads ~1000; materially above means bursty/clumped traffic (an
    incident pattern), materially below means rate-limited or
    synthetic-uniform traffic. Identity used: F = (n*S2 - S1^2) /
    (n*S1) with S1 = sum of daily counts, S2 = sum of squares — all
    exact BIGINTs, truncating division identical in both engines.
    BIGINT bound: the widest term is s1*s1 on a type's total event
    count, so each event_type must stay under ~3e9 events; past that
    pre-scale the daily counts a decade (c div 10 on both sides) —
    the same documented-bound convention as the Pareto/Zipf grids.

    Scale: one (type, day) partial-agg shuffle (calendar-bounded
    output), then a per-type 3-counter fold. Nothing downstream of
    the daily grain."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    fano = F.expr("1000 * (n * s2 - s1 * s1) div (n * s1)")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s1").cast("bigint").alias("total_events"),
        fano.cast("bigint").alias("fano_permille"),
        (fano > 1000).alias("overdispersed"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# customer_pareto_8020 — revenue-concentration threshold (r10)
# ---------------------------------------------------------------------------

_PARETO_NUM = 4  # the 80% threshold as the exact fraction 4/5
_PARETO_DEN = 5
# BIGINT bound: the widest products are 1000 * cum and cum * 5 on
# cumulative revenue in 1e-4 units, so total corpus revenue must stay
# under ~9.2e15 units (~$920B, roughly sf<4 for TPC-H orders). Past
# that, shrink the revenue grid a decade (1e-3 units) — the same
# documented-bound convention as the Zipf/elasticity ln grids.


@query(
    "customer_pareto_8020",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS ru
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT ru,
             ROW_NUMBER() OVER (ORDER BY ru DESC, o_custkey) AS rk,
             SUM(ru) OVER (ORDER BY ru DESC, o_custkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM rev
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(ru) AS t FROM rev),
    hit AS (
      SELECT MIN(rk) AS k FROM ranked, tot
      WHERE cum * {_PARETO_DEN} >= t * {_PARETO_NUM}
    )
    SELECT CAST(tot.n AS BIGINT) AS n_customers,
           CAST(hit.k AS BIGINT) AS top_k,
           CAST(1000 * hit.k // tot.n AS BIGINT) AS top_k_permille,
           CAST((SELECT 1000 * cum // tot.t FROM ranked
                 WHERE rk = hit.k) AS BIGINT) AS share_permille
    FROM tot, hit
    """,
)
def customer_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration threshold: the smallest top-k customer
    set (by order revenue) whose cumulative share reaches 80% of the
    total, with k as a permille of the customer base — the "does the
    80/20 rule hold here" number an account team reads next to the
    Gini and HHI screens. The threshold test is the exact integer
    cross-multiply cum*5 >= total*4; ranking ties break on custkey.

    Exactness: revenue folds on the 1e-4 unit grid; cumulative sums,
    the threshold, and both permilles are exact BIGINT arithmetic.

    Scale: the fact table reduces to CUSTOMER grain first (the only
    fact-sized shuffle); the ordered cumulative window runs on the
    dimension-scale customer frame — the same deliberate single-sort
    class as customer_revenue_concentration's Lorenz machinery, never
    on raw orders.

    r12 shape (guide §2.4): the old assembly re-derived rev/ranked for
    tot, hit and share and glued four 1-row frames with broadcast
    crossJoins — 11 driver jobs for 0.2 s of compute. Because cum is
    MONOTONE in rk, every output is a plain aggregate of the ranked
    frame: t = max(cum), n = max(rk), k = min rk among threshold hits,
    and the share numerator = min cum among hits (the first hit row's
    cum). One window pass carries the total to each row; one global
    aggregation replaces all three broadcast singletons. Values are
    identical — same grid, same integer compares."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)")
        ).alias("ru")
    )
    w = Window.orderBy(F.desc("ru"), "o_custkey")
    ww = Window.partitionBy()  # same single post-sort partition; no new exchange
    ranked = rev.select(
        F.row_number().over(w).alias("rk"),
        F.sum("ru").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    ).withColumn("t", F.max("cum").over(ww))
    is_hit = F.col("cum") * _PARETO_DEN >= F.col("t") * _PARETO_NUM
    return ranked.agg(
        F.max("rk").alias("n"),
        F.min(F.when(is_hit, F.col("rk"))).alias("k"),
        F.min(F.when(is_hit, F.col("cum"))).alias("hc"),
        F.max("t").alias("tt"),
    ).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("k").cast("bigint").alias("top_k"),
        F.expr("1000 * k div n").cast("bigint").alias("top_k_permille"),
        F.expr("1000 * hc div tt").cast("bigint").alias("share_permille"),
    )


BENCH_EXTRA.add("orders_ship_survival_km")
# the two r10 late-round additions, promoted into the measured set
# (VERDICT r10 item 6): they landed after that round's clean bench so
# they carried stamps but no recorded timing
BENCH_EXTRA.add("events_daily_fano_burstiness")
BENCH_EXTRA.add("customer_pareto_8020")


# ---------------------------------------------------------------------------
# orders_monthly_seasonality — month-of-year revenue index (r11)
# ---------------------------------------------------------------------------


@query(
    "orders_monthly_seasonality",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS INT) AS month,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS ru
      FROM orders
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ru) AS BIGINT) AS revenue_units,
           CAST(12 * 1000 * SUM(ru) // SUM(SUM(ru)) OVER () AS BIGINT)
               AS seasonality_permille
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's revenue
    against the uniform-month expectation (1000 = a flat year; 1200 =
    that month runs 20% hot) — the demand-planning profile read
    before staffing/inventory decisions. Exactness: revenue on the
    1e-4 unit grid, the index an exact cross-multiplied integer
    division. BIGINT bound: the widest term is 12000 * SUM(ru), so a
    month's revenue must stay under ~7.7e14 1e-4 units (~$77B, about
    TPC-H sf30); past that shrink the revenue grid a decade — the
    Pareto-grid convention. Scale: one 12-key partial aggregate with
    map-side combine; the window total runs over 12 rows."""
    o = table(spark, sf_dir, "orders")
    m = o.select(
        F.month("o_orderdate").cast("int").alias("month"),
        F.expr("CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)").alias(
            "ru"
        ),
    )
    g = m.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("ru").cast("bigint").alias("revenue_units"),
    )
    return g.select(
        "month",
        "n_orders",
        "revenue_units",
        F.expr("12 * 1000 * revenue_units div sum(revenue_units) over ()")
        .cast("bigint")
        .alias("seasonality_permille"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# events_interarrival_profile — exact inter-arrival tail per type (r11)
# ---------------------------------------------------------------------------


@query(
    "events_interarrival_profile",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS gap_us,
             event_id
      FROM events
    ),
    gg AS (SELECT event_type, gap_us, event_id FROM g
           WHERE gap_us IS NOT NULL),
    ranked AS (
      SELECT event_type, gap_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap_us, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM gg
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                AS BIGINT) AS median_gap_us,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
                AS BIGINT) AS p90_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inter-arrival profile per event type: lower-median, p90,
    and max gap in microseconds between consecutive events (ordered
    by (ts, event_id) — the deterministic stream order). The
    capacity-planning companion to the Fano burstiness screen: Fano
    says WHETHER arrivals clump, the gap tail says by HOW MUCH.
    Exactness: gaps are exact epoch-microsecond differences; both
    percentiles are rank-pinned ((n+1) div 2 and ceil(0.9n)), never
    interpolated. Scale: one type-keyed window over the fact stream,
    then a type-grain fold — the same single-partitioning class as
    the sessionizer."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        "event_id",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    ranked = g.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_us")
                )
            )
            .cast("bigint")
            .alias("median_gap_us"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"),
                    F.col("gap_us"),
                )
            )
            .cast("bigint")
            .alias("p90_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# part_brand_share_shift — first-vs-last-year brand share drift (r11)
# ---------------------------------------------------------------------------


@query(
    "part_brand_share_shift",
    oracle="""
    WITH yr AS (
      SELECT p.p_brand AS brand,
             CAST(year(l.l_shipdate) AS INT) AS y,
             CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    bounds AS (SELECT MIN(y) AS y0, MAX(y) AS y1 FROM yr),
    per AS (
      SELECT brand,
             SUM(CASE WHEN y = (SELECT y0 FROM bounds) THEN cents ELSE 0 END)
                 AS c0,
             SUM(CASE WHEN y = (SELECT y1 FROM bounds) THEN cents ELSE 0 END)
                 AS c1
      FROM yr GROUP BY 1
    )
    SELECT brand,
           CAST((SELECT y0 FROM bounds) AS INT) AS first_year,
           CAST((SELECT y1 FROM bounds) AS INT) AS last_year,
           CAST(1000 * c0 // NULLIF(SUM(c0) OVER (), 0) AS BIGINT)
               AS first_share_permille,
           CAST(1000 * c1 // NULLIF(SUM(c1) OVER (), 0) AS BIGINT)
               AS last_share_permille,
           CAST(1000 * c1 // NULLIF(SUM(c1) OVER (), 0)
                - 1000 * c0 // NULLIF(SUM(c0) OVER (), 0) AS BIGINT)
               AS shift_permille
    FROM per ORDER BY brand
    """,
)
def part_brand_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue-share drift between the corpus's first and last
    shipping years: each brand's permille of first-year revenue, of
    last-year revenue, and the signed shift — the market-share
    movement table a category manager reads. Exactness: cent-grid
    revenue, exact integer share divisions (NULLIF-guarded empty
    years). Scale: one brand-grain partial aggregate after the
    broadcast part join; the year bounds are scalar aggregates
    broadcast into the projection; windows run over 25 brands."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.year("l_shipdate").cast("int").alias("y"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    bounds = yr.agg(
        F.min("y").alias("y0"), F.max("y").alias("y1")
    )
    per = (
        yr.crossJoin(F.broadcast(bounds))
        .groupBy("brand", "y0", "y1")
        .agg(
            F.sum(F.when(F.col("y") == F.col("y0"), F.col("cents")).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("y") == F.col("y1"), F.col("cents")).otherwise(0)).alias("c1"),
        )
    )
    s0 = F.expr("1000 * c0 div nullif(sum(c0) over (), 0)")
    s1 = F.expr("1000 * c1 div nullif(sum(c1) over (), 0)")
    return per.select(
        "brand",
        F.col("y0").cast("int").alias("first_year"),
        F.col("y1").cast("int").alias("last_year"),
        s0.cast("bigint").alias("first_share_permille"),
        s1.cast("bigint").alias("last_share_permille"),
        (s1 - s0).cast("bigint").alias("shift_permille"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# customer_rfm_threshold_matrix — fixed-cutoff RFM cells (r11; the
# quantile-scored sibling is relational_ext.customer_rfm_segments)
# ---------------------------------------------------------------------------

# business-rule cutoffs (threshold segmentation, not data-dependent
# quantiles — the variant that stays meaningful as the corpus grows):
_RFM_R_DAYS = 180  # active = ordered within 180 days of corpus end
_RFM_F_MIN = 8  # frequent = at least 8 lifetime orders
_RFM_M_UNITS = 1_200_000_0000  # high value = >= $1.2M lifetime (1e-4 units)


@query(
    "customer_rfm_threshold_matrix",
    oracle=f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS r FROM orders),
    cust AS (
      SELECT o_custkey,
             datediff('day', MAX(o_orderdate), (SELECT r FROM ref))
                 AS rec_days,
             COUNT(*) AS freq,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS mon
      FROM orders GROUP BY 1
    )
    SELECT CASE WHEN rec_days <= {_RFM_R_DAYS} THEN 'active'
                ELSE 'lapsed' END AS recency_seg,
           CASE WHEN freq >= {_RFM_F_MIN} THEN 'frequent'
                ELSE 'occasional' END AS frequency_seg,
           CASE WHEN mon >= {_RFM_M_UNITS} THEN 'high_value'
                ELSE 'standard' END AS monetary_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon) AS BIGINT) AS revenue_units,
           CAST(1000 * SUM(mon) // SUM(SUM(mon)) OVER () AS BIGINT)
               AS revenue_permille
    FROM cust GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def customer_rfm_threshold_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer bucketed by recency of last
    order (vs the corpus's final order date), lifetime order count,
    and lifetime revenue on the 1e-4 grid — the 8-cell segment matrix
    with each cell's customer count and exact revenue permille (the
    'how much of revenue do lapsed high-value customers hold' view a
    retention team starts from). Threshold cutoffs, documented at the
    constants, not data quantiles — segment meanings stay fixed as
    the corpus grows. BIGINT bound: the widest term is
    1000 * SUM(revenue_units), so total corpus revenue must stay
    under ~9.2e15 1e-4 units (~$920B, roughly sf<4) — the same bound
    and grid-shrink escape hatch as customer_pareto_8020. Scale: the
    fact table reduces to customer grain in one partial aggregate;
    the 8-key fold and its window total are constant-size."""
    o = table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("r"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "r")
        .agg(
            F.max("o_orderdate").alias("last_o"),
            F.count(F.lit(1)).alias("freq"),
            F.expr(
                "sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))"
            ).alias("mon"),
        )
        .select(
            F.datediff("r", "last_o").alias("rec_days"), "freq", "mon"
        )
    )
    seg = cust.select(
        F.when(F.col("rec_days") <= _RFM_R_DAYS, "active")
        .otherwise("lapsed")
        .alias("recency_seg"),
        F.when(F.col("freq") >= _RFM_F_MIN, "frequent")
        .otherwise("occasional")
        .alias("frequency_seg"),
        F.when(F.col("mon") >= _RFM_M_UNITS, "high_value")
        .otherwise("standard")
        .alias("monetary_seg"),
        "mon",
    )
    g = seg.groupBy("recency_seg", "frequency_seg", "monetary_seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("mon").cast("bigint").alias("revenue_units"),
    )
    return g.select(
        "recency_seg",
        "frequency_seg",
        "monetary_seg",
        "n_customers",
        "revenue_units",
        F.expr("1000 * revenue_units div sum(revenue_units) over ()")
        .cast("bigint")
        .alias("revenue_permille"),
    ).orderBy("recency_seg", "frequency_seg", "monetary_seg")


# ---------------------------------------------------------------------------
# events_hourly_peak_profile — hour-of-day load shape per type (r11)
# ---------------------------------------------------------------------------


@query(
    "events_hourly_peak_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    pk AS (
      SELECT event_type, hr, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c DESC, hr) AS rn,
             SUM(c) OVER (PARTITION BY event_type) AS total,
             COUNT(*) OVER (PARTITION BY event_type) AS hours_active
      FROM h
    )
    SELECT event_type,
           CAST(total AS BIGINT) AS n_events,
           CAST(hours_active AS BIGINT) AS hours_active,
           CAST(hr AS INT) AS peak_hour,
           CAST(1000 * c // total AS BIGINT) AS peak_permille,
           CAST(24 * 1000 * c // total AS BIGINT) AS peak_vs_flat_permille
    FROM pk WHERE rn = 1 ORDER BY event_type
    """,
)
def events_hourly_peak_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load shape per event type: the peak hour (ties to
    the earliest hour), its exact share of the type's traffic, and
    the peak-vs-flat ratio in permille (1000 = perfectly flat load,
    3000 = the peak hour runs 3x a uniform profile) — the capacity
    number an autoscaler is provisioned against. Scale: one
    (type, hour) partial aggregate (<= 24 rows per type), windows
    over that bounded frame only."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("event_type")
    pk = (
        h.withColumn(
            "rn",
            F.row_number().over(wt.orderBy(F.desc("c"), F.asc("hr"))),
        )
        .withColumn("total", F.sum("c").over(wt))
        .withColumn("hours_active", F.count(F.lit(1)).over(wt))
        .filter(F.col("rn") == 1)
    )
    return pk.select(
        "event_type",
        F.col("total").cast("bigint").alias("n_events"),
        F.col("hours_active").cast("bigint"),
        F.col("hr").cast("int").alias("peak_hour"),
        F.expr("1000 * c div total").cast("bigint").alias("peak_permille"),
        F.expr("24 * 1000 * c div total")
        .cast("bigint")
        .alias("peak_vs_flat_permille"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# events_markov_transitions — user-journey transition matrix (r11)
# ---------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    t AS (SELECT cur, nxt, COUNT(*) AS c FROM s
          WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT cur AS from_type, nxt AS to_type,
           CAST(c AS BIGINT) AS n_transitions,
           CAST(1000 * c // SUM(c) OVER (PARTITION BY cur) AS BIGINT)
               AS p_permille
    FROM t ORDER BY 1, 2
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream (ordered by (ts, event_id) — the deterministic journey
    order): transition counts and exact row-permille probabilities —
    the "what do users do next" table product analytics builds
    funnels from, and the generator a session simulator would sample.
    Scale: ONE user-keyed window over the fact stream (the
    sessionizer's partitioning class), then a |types|^2-key aggregate;
    the normalizing window runs over the bounded type vocabulary."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    t = s.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    return t.select(
        F.col("cur").alias("from_type"),
        F.col("nxt").alias("to_type"),
        F.col("c").cast("bigint").alias("n_transitions"),
        F.expr("1000 * c div sum(c) over (partition by cur)")
        .cast("bigint")
        .alias("p_permille"),
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# events_daily_mad_anomalies — robust day-level anomaly screen (r11)
# ---------------------------------------------------------------------------

_MAD_K = 5  # flag days with count > median + 5 * MAD


@query(
    "events_daily_mad_anomalies",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, c AS med FROM (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT d.event_type, d.day, d.c, m.med, abs(d.c - m.med) AS ad
      FROM d JOIN med m ON m.event_type = d.event_type
    ),
    mad AS (
      SELECT event_type, ad AS mad FROM (
        SELECT event_type, ad,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ad, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(v.med) AS BIGINT) AS median_daily,
           CAST(MAX(a.mad) AS BIGINT) AS mad_daily,
           CAST(SUM(CASE WHEN v.c > v.med + {_MAD_K} * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
           CAST(MAX(v.c) AS BIGINT) AS max_daily
    FROM dev v JOIN mad a ON a.event_type = v.event_type
    GROUP BY 1 ORDER BY 1
    """,
)
def events_daily_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust day-level anomaly screen per event type: lower-median
    daily count, lower-median absolute deviation (MAD), and the count
    of days exceeding median + 5*MAD — the outlier detector that a
    single incident day cannot poison (a mean/stddev screen moves
    with its own outliers; the median/MAD pair does not). The robust
    sibling of the CUSUM chart: CUSUM finds persistent level shifts,
    this flags isolated spikes. Exactness: counts, both rank-pinned
    medians, and the integer threshold compare are exact — no float
    anywhere. Scale: everything downstream of the (type, day) partial
    aggregate is calendar-bounded."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("event_type")

    def _lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        ranked = df.withColumn(
            "rn", F.row_number().over(wt.orderBy(val, "day"))
        ).withColumn("n", F.count(F.lit(1)).over(wt))
        return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
            "event_type", F.col(val).alias(out)
        )

    med = _lower_median(d, "c", "med")
    dev = d.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("c") - F.col("med"))
    )
    mad = _lower_median(dev, "ad", "mad")
    v = dev.join(mad, "event_type")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("med").cast("bigint").alias("median_daily"),
            F.max("mad").cast("bigint").alias("mad_daily"),
            F.sum(
                F.when(
                    F.col("c") > F.col("med") + _MAD_K * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalous"),
            F.max("c").cast("bigint").alias("max_daily"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# lineitem_discount_response — discount-band volume/revenue curve (r11)
# ---------------------------------------------------------------------------


@query(
    "lineitem_discount_response",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT) AS net_cents
      FROM lineitem
    )
    SELECT disc_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(q) AS BIGINT) AS total_qty,
           CAST(SUM(q) * 100 // COUNT(*) AS BIGINT) AS qty_per_100_lines,
           CAST(SUM(net_cents) AS BIGINT) AS net_revenue_cents,
           CAST(1000 * SUM(net_cents) // SUM(SUM(net_cents)) OVER ()
                AS BIGINT) AS revenue_permille
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def lineitem_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-response curve: per whole-percent discount band, line
    count, total quantity, quantity intensity (units per 100 lines —
    the "do discounts move volume" read), exact net revenue on the
    cent grid, and each band's revenue permille. The aggregate behind
    a markdown policy: if qty_per_100_lines is flat across bands, the
    discounts are giving margin away. Exactness: the discount lands
    on a whole-percent integer band via half-up rounding; net revenue
    applies (1 - discount) BEFORE the single grid rounding so both
    engines round the identical double product once. Scale: one
    ~11-key partial aggregate with map-side combine."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_pct"
        ),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("q"),
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("net_cents"),
    )
    g = b.groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("q").cast("bigint").alias("total_qty"),
        F.sum("net_cents").cast("bigint").alias("net_revenue_cents"),
    )
    return g.select(
        "disc_pct",
        "n_lines",
        "total_qty",
        F.expr("total_qty * 100 div n_lines")
        .cast("bigint")
        .alias("qty_per_100_lines"),
        "net_revenue_cents",
        F.expr(
            "1000 * net_revenue_cents div sum(net_revenue_cents) over ()"
        )
        .cast("bigint")
        .alias("revenue_permille"),
    ).orderBy("disc_pct")


# ---------------------------------------------------------------------------
# events_daily_acf — autocorrelation diagnostic of the daily series
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 7)


def _acf_oracle() -> str:
    lags_sql = ", ".join(str(lag) for lag in _ACF_LAGS)
    return f"""
    WITH {_DAILY_M_CTE},
    d4 AS (SELECT event_type, day, m // 1000 AS m4 FROM daily),
    st AS (SELECT event_type, COUNT(*) AS n_days,
                  SUM(m4) // COUNT(*) AS mbar
           FROM d4 GROUP BY 1),
    c AS (SELECT d4.event_type, day,
                 CAST(m4 - mbar AS BIGINT) AS c
          FROM d4 JOIN st USING (event_type)),
    den AS (SELECT event_type, SUM(c * c) AS den FROM c GROUP BY 1),
    grid AS (SELECT st.event_type, st.n_days, l.lag
             FROM st, unnest([{lags_sql}]) AS l(lag)),
    num AS (
      SELECT a.event_type, (b.day - a.day) AS lag,
             COUNT(*) AS n_pairs, SUM(a.c * b.c) AS num
      FROM c a JOIN c b
        ON b.event_type = a.event_type
       AND b.day - a.day IN ({lags_sql})
      GROUP BY 1, 2
    )
    SELECT g.event_type, CAST(g.lag AS INT) AS lag,
           CAST(g.n_days AS BIGINT) AS n_days,
           CAST(COALESCE(n.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(n.num, 0) AS BIGINT) AS acf_num_units,
           CAST(d.den AS BIGINT) AS acf_den_units,
           CASE WHEN d.den > 0 AND n.num IS NOT NULL
                THEN ROUND(CAST(n.num AS DOUBLE) / d.den, 6)
           END AS acf
    FROM grid g
    JOIN den d USING (event_type)
    LEFT JOIN num n ON n.event_type = g.event_type AND n.lag = g.lag
    """


@query("events_daily_acf", oracle=_acf_oracle())
def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's daily-mean series at lags
    1/2/3/7 — the PERSISTENCE diagnostic beside the level-shift
    (CUSUM), drift (Mann-Kendall), and dispersion (Fano) charts: high
    lag-1 flags a sticky metric, a lag-7 spike flags weekly
    seasonality the hourly profile can't see.

    Exactness: the shared value*1e7 daily means drop to a value*1e4
    grid, centering subtracts the floor-mean (BIGINT), and both the
    lag products and the variance are exact BIGINT sums (bounded well
    inside 64 bits: |c| <= range*1e4, squared and summed over a
    decade of days stays < 1e17); the single num/den double division
    is rounded last. Gap days simply produce no pair at that lag —
    deterministic on both engines.

    Scale: pairs join DAY-grain on (type, day+lag) — an equi-join
    bounded by the calendar, never the fact table; the only
    fact-sized stage is the shared daily groupBy. The lag fan-out is
    an explode on the day frame (4x calendar rows), not a cross
    join."""
    daily = _daily_m(_daily_partials(table(spark, sf_dir, "events")))
    d4 = daily.select(
        "event_type", "day", F.expr("m div 1000").alias("m4")
    )
    st = d4.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("sum(m4) div count(1)").alias("mbar"),
    )
    c = d4.join(F.broadcast(st), "event_type").select(
        "event_type", "day", (F.col("m4") - F.col("mbar")).cast("bigint").alias("c")
    )
    den = c.groupBy("event_type").agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    lag_arr = F.array(*[F.lit(lag) for lag in _ACF_LAGS])
    # probe side: each day row fans out to its 4 lag targets, turning
    # the lag match into a pure (type, day) equi-join
    a = c.select(
        "event_type",
        F.col("c").alias("ca"),
        F.explode(lag_arr).alias("lag"),
        "day",
    ).select(
        "event_type", "ca", "lag", F.date_add("day", F.col("lag")).alias("day")
    )
    b = c.select("event_type", "day", F.col("c").alias("cb"))
    num = (
        a.join(b, ["event_type", "day"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb")).alias("num"),
        )
    )
    grid = st.select(
        "event_type", "n_days", F.explode(lag_arr).alias("lag")
    )
    return (
        grid.join(F.broadcast(den), "event_type")
        .join(num, ["event_type", "lag"], "left")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n_days").cast("bigint"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("num", F.lit(0)).cast("bigint").alias("acf_num_units"),
            F.col("den").cast("bigint").alias("acf_den_units"),
            F.when(
                (F.col("den") > 0) & F.col("num").isNotNull(),
                F.round(F.col("num").cast("double") / F.col("den"), 6),
            ).alias("acf"),
        )
    )
