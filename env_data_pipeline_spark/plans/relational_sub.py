"""Subquery-family relational analogs: the remaining classic
decision-support shapes (TPC-H Q2/Q6/Q11/Q12/Q15/Q16/Q20 analogs,
adapted to the TESTDATA schema — no partsupp/shipmode/comment columns,
so each keeps the original's PLAN character and swaps in available
predicates).

The point of this family is Catalyst's subquery handling: correlated
scalar subqueries (Q2/Q20) decorrelate into aggregate + self-join,
global-scalar HAVING thresholds (Q11/Q15) become one-row broadcast
joins, and NOT-IN exclusion (Q16) becomes a null-safe anti join. Each
query is written in the decorrelated DataFrame form directly — the
shape Catalyst would produce — so the physical plan is explicit and
pinned rather than left to rewrite rules.

Float discipline (memory: float-grid parity): money folds as
round-half-up 1e-4 fixed-point units before SUM on both engines;
ratios/averages ROUND(...,4) at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.plans.relational_ext import _REV_UNITS_SQL, _units


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(floor(l_extendedprice / l_quantity * 10000 + 0.5)
                        AS BIGINT)) AS offer_units
        FROM lineitem
        GROUP BY 1, 2
    )
    SELECT o.l_suppkey AS suppkey,
           s.s_name AS supplier_name,
           n.n_name AS nation,
           o.l_partkey AS partkey,
           p.p_name AS part_name,
           ROUND(o.offer_units / 10000.0, 4) AS best_unit_price,
           ROUND(s.s_acctbal, 4) AS acctbal
    FROM offers o
    JOIN (SELECT l_partkey, MIN(offer_units) AS min_units
          FROM offers GROUP BY 1) m
      ON o.l_partkey = m.l_partkey AND o.offer_units = m.min_units
    JOIN part p     ON o.l_partkey = p.p_partkey
    JOIN supplier s ON o.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'ECONOMY' AND p.p_size <= 5
    ORDER BY acctbal DESC, partkey, suppkey
    LIMIT 25
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: for each qualifying part, the supplier(s)
    offering the minimum unit price, richest suppliers first.

    The original's correlated scalar subquery (``ps_supplycost =
    (SELECT MIN(...) WHERE ps_partkey = p_partkey)``) is written in
    its decorrelated form: one (partkey, suppkey) offer aggregate,
    then a partkey-window MIN + equality filter — a single pass over
    the aggregate, no re-aggregate/self-join pair that would scan
    lineitem twice. Unit price folds to round-half-up 1e-4 integer
    units BEFORE MIN so the min and the equality predicate are exact
    on both engines.

    Scale: the part filter broadcasts and SEMI-prunes the offer
    aggregate before the window, so the window's partkey exchange
    carries only qualifying parts; supplier/nation broadcast; final
    top-25 is TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 5)
    )
    offers = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                _units(F.col("l_extendedprice") / F.col("l_quantity"))
            ).alias("offer_units")
        )
    )
    w = Window.partitionBy("l_partkey")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        offers.withColumn("min_units", F.min("offer_units").over(w))
        .filter(F.col("offer_units") == F.col("min_units"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.round(F.col("offer_units") / 10000.0, 4).alias("best_unit_price"),
            F.round("s_acctbal", 4).alias("acctbal"),
        )
        .orderBy(F.desc("acctbal"), "partkey", "suppkey")
        .limit(25)
    )


@query(
    "discount_revenue_opportunity",
    oracle="""
    SELECT ROUND(SUM(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                          AS BIGINT)) / 10000.0, 4) AS discount_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discount_revenue_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: revenue that would be recovered by dropping
    mid-range discounts on small orders for one year.

    Scale: the whole query is one scan + one partial/final agg — every
    predicate (date range, discount band, quantity cap) pushes to the
    parquet scan, the ReadSchema carries only the four referenced
    columns, and no shuffle moves more than one row per task. The
    canonical scan-throughput probe.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(_units(F.col("l_extendedprice") * F.col("l_discount")))
            / 10000.0,
            4,
        ).alias("discount_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "top_value_partkeys",
    oracle=f"""
    WITH v AS (
        SELECT l.l_partkey, SUM({_REV_UNITS_SQL}) AS value_units
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY 1
    )
    SELECT l_partkey AS partkey,
           ROUND(value_units / 10000.0, 4) AS value
    FROM v
    WHERE value_units > (SELECT CAST(SUM(value_units) * 0.001 AS BIGINT) FROM v)
    ORDER BY value DESC, partkey
    LIMIT 25
    """,
)
def top_value_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: parts whose stocked value through one
    nation's suppliers exceeds 0.1% of that nation's total value.

    The original's HAVING-vs-global-scalar subquery becomes an
    explicit one-row broadcast: the per-part aggregate is computed
    once (a localCheckpoint truncates the lineage so the
    threshold branch and the filter branch share ONE lineitem scan —
    the 100 TB mistake would be two full scans), its global SUM
    reduces to a single row, and the threshold filter is a broadcast
    against that row.

    The threshold folds to BIGINT on both engines so the comparison
    is integer-exact; ORDER BY the integer-derived value with partkey
    tie-break keeps the LIMIT deterministic.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        li.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
                li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("value_units")
        )
        # lineage cut (d): the shared-scan plan pin asserts it
        .localCheckpoint()
    )
    threshold = v.agg(
        (F.sum("value_units") * 0.001).cast("bigint").alias("threshold_units")
    )
    return (
        v.join(F.broadcast(threshold))
        .filter(F.col("value_units") > F.col("threshold_units"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("value_units") / 10000.0, 4).alias("value"),
        )
        .orderBy(F.desc("value"), "partkey")
        .limit(25)
    )


@query(
    "late_shipment_priority_counts",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: of the lines shipped >90 days after order
    placement in one year, how many belonged to urgent orders vs not,
    per line status.

    Scale: the year filter pushes to the lineitem scan; the lateness
    predicate is a join-time comparison (cannot push — it correlates
    the two tables), so the only shuffle is the orderkey equi-join;
    the priority CASE folds map-side into the tiny final aggregate.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


@query(
    "top_revenue_supplier",
    oracle=f"""
    WITH r AS (
        SELECT l_suppkey, SUM({_REV_UNITS_SQL}) AS rev_units
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT r.l_suppkey AS suppkey,
           s.s_name AS supplier_name,
           n.n_name AS nation,
           ROUND(r.rev_units / 10000.0, 4) AS total_revenue
    FROM r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE r.rev_units = (SELECT MAX(rev_units) FROM r)
    ORDER BY suppkey
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: the supplier(s) with the maximum revenue in
    one quarter (the original's revenue VIEW + scalar-MAX subquery).

    The revenue view is built once; the MAX reduces it to one row
    that broadcasts back as the equality filter — integer units make
    the cross-engine equality exact (a double MAX could differ in the
    last bit and drop the winner). Ties all surface, ordered by
    suppkey, exactly like the original's spec.

    Scale: one suppkey aggregate (map-side combined), a one-row
    broadcast, and dimension broadcasts — the localCheckpoint on
    the revenue view means the MAX branch and the equality branch
    share one lineitem scan.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    # lineage cut (d): the shared-scan plan pin asserts it
    r = li.groupBy("l_suppkey").agg(
        F.sum(
            _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("rev_units")
    ).localCheckpoint()
    mx = r.agg(F.max("rev_units").alias("max_units"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        r.join(F.broadcast(mx))
        .filter(F.col("rev_units") == F.col("max_units"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            F.round(F.col("rev_units") / 10000.0, 4).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


@query(
    "supplier_variety_by_part_attrs",
    oracle="""
    SELECT p.p_brand AS brand,
           p.p_type AS type,
           p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 19, 25, 36, 49)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, brand, type, size
    LIMIT 20
    """,
)
def supplier_variety_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: how many distinct suppliers can furnish each
    (brand, type, size) combination, excluding negative-balance
    suppliers (the original's complaint exclusion).

    The NOT-IN subquery is the interesting bit: because s_suppkey is
    non-null here, it is exactly a LEFT ANTI join, and the excluded
    set (negative-balance suppliers) is tiny, so it broadcasts —
    NOT-IN costs one broadcast probe, not a shuffle.

    Scale: part attr filters push to the part scan; part broadcasts
    into lineitem; COUNT(DISTINCT suppkey) shuffles (attrs, suppkey)
    once for the distinct then re-aggregates — Spark's standard
    two-phase distinct, skew-free because the attr grid is uniform.
    """
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 19, 25, 36, 49)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = table(spark, sf_dir, "lineitem").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
        .limit(20)
    )


@query(
    "excess_shipping_suppliers",
    oracle="""
    WITH pq AS (
        SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%gear%'
          AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY 1, 2
    ),
    shares AS (
        SELECT l_suppkey, l_partkey, qty,
               SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
        FROM pq
    ),
    excess AS (
        SELECT l_suppkey, COUNT(*) AS n_dominated_parts
        FROM shares
        WHERE qty > 0.2 * part_total
        GROUP BY 1
    )
    SELECT e.l_suppkey AS suppkey,
           s.s_name AS supplier_name,
           n.n_name AS nation,
           e.n_dominated_parts
    FROM excess e
    JOIN supplier s ON e.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    ORDER BY suppkey
    """,
)
def excess_shipping_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog: suppliers who dominated shipment volume
    (>20% of a part's yearly total) for any 'gear' part.

    The original's nested IN-subqueries (partkeys for a name pattern,
    then suppkeys whose availqty beats a correlated half-sum) are
    written decorrelated: a (partkey, suppkey) quantity aggregate, a
    partkey-window total, a share filter, then a per-supplier count.
    Quantities are exact in DOUBLE (integer-valued source), so the
    share predicate multiplies — never divides — to stay exact on
    both engines.

    Scale: the name pattern prunes part before its broadcast; the
    (partkey, suppkey) aggregate shuffles once; the window reuses the
    partkey prefix rather than re-shuffling a second aggregate; final
    supplier/nation joins broadcast.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    pq = (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        pq.withColumn("part_total", F.sum("qty").over(w))
        .filter(F.col("qty") > 0.2 * F.col("part_total"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        excess.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            F.col("n_dominated_parts"),
        )
        .orderBy("suppkey")
    )
