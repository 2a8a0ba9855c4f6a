"""Extended relational surface: the classic decision-support shapes
(TPC-H-style analogs adapted to the TESTDATA schema — it carries no
partsupp/shipmode/commitdate columns, so each analog keeps the
original's PLAN shape and swaps in available predicates).

Why these exist: SURVEY.md §2's reference inventory is fully covered
by plans/envpipe|raster|collect; this module widens the engine the
way a user coming from any warehouse expects — top-k over star joins,
outer-join distributions, decorrelated scalar subqueries, disjunctive
pushdown, EXISTS/NOT-EXISTS, CUBE, window navigation — each with a
DuckDB oracle and a scale note.

Float discipline (memory: float-grid parity): any money sum compared
cross-engine folds as round-half-up 1e-4 integer units
(``floor(x*10000 + 0.5)``) before SUM on BOTH engines; averages and
ratios ROUND(...,4) at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import text as TX
from env_data_pipeline_spark.operators import incremental as INC
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA, query

# round-half-up 1e-4 fixed-point units for a money expression
def _units(col):
    return F.floor(col * 10000 + F.lit(0.5)).cast("bigint")


_REV_UNITS_SQL = "CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)"


@query(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate, orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: unshipped-revenue top-10 for one market segment.

    Scale: the segment filter (1/5 of customers) and both date
    predicates push to the scans; customer broadcasts into orders, the
    orders⋈lineitem edge co-partitions on orderkey (sort-merge under
    AQE at real scale), and the global top-10 is a TakeOrderedAndProject
    — partial top-k per partition, never a full sort.
    Deterministic: ties broken by (orderdate, orderkey).
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev) / 10000.0, 4).alias("revenue"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .orderBy(F.desc("revenue"), "orderdate", "orderkey")
        .limit(10)
    )


@query(
    "returned_items_top_customers",
    oracle=f"""
    SELECT c.c_custkey AS custkey,
           c.c_name AS name,
           ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS revenue,
           ROUND(c.c_acctbal, 4) AS acctbal,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: customers who returned the most revenue in a
    6-month window.

    Scale: date window prunes orders at the scan; returnflag pushes to
    the lineitem scan; customer/nation broadcast, so the only big edge
    is lineitem⋈orders on orderkey; top-20 via TakeOrderedAndProject.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev) / 10000.0, 4).alias("revenue"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "revenue",
            F.round("c_acctbal", 4).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


@query(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: distribution of per-customer order counts,
    INCLUDING zero-order customers (the left-outer join is the point —
    an inner join silently drops the c_count=0 bucket).

    Scale: the non-equi part of the predicate lives in the JOIN
    condition, not a post-filter (a post-filter would turn the outer
    join inner); count per custkey is a shuffle on the join key the
    join already produced, and the second aggregation lands on a
    handful of c_count groups.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN {_REV_UNITS_SQL} ELSE 0 END)
                   / SUM({_REV_UNITS_SQL}), 4) AS promo_pct,
           ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                          THEN {_REV_UNITS_SQL} ELSE 0 END) / 10000.0, 4)
             AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: share of one month's revenue from PROMO parts.

    Scale: the one-month predicate prunes lineitem at the scan; part is
    a broadcast dim (only p_partkey/p_type read); conditional agg — one
    pass, no second join. The ratio is computed on exact integer
    units so both engines divide identical numerators/denominators.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.round(F.sum(promo) / 10000.0, 4).alias("promo_revenue"),
        )
    )


BENCH_EXTRA.update({"shipping_priority_topk", "customer_order_distribution"})


@query(
    "large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o.o_totalprice, 4) AS totalprice,
           b.sum_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    ORDER BY totalprice DESC, orderkey
    LIMIT 100
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: orders whose total quantity exceeds 150, with
    their customer — the IN-(grouped-HAVING-subquery) shape.

    Scale: the HAVING side is a map-side-combinable agg on the SAME
    key (orderkey) the subsequent join uses, so at real scale the agg
    output is already partitioned for the join (one exchange reused);
    customer broadcasts; top-100 is TakeOrderedAndProject. Unlike
    textbook Q18 there is no second re-aggregation — the per-order sum
    is carried through the join instead of recomputed.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    # filter on the RAW sum, exactly as the oracle's HAVING does —
    # filtering the rounded alias would evaluate a different predicate
    # near the threshold (lockstep discipline; review finding)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
        .select("l_orderkey", F.round("raw_qty", 4).alias("sum_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 4).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(100)
    )


@query(
    "disjunctive_brand_revenue",
    oracle=f"""
    SELECT ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: OR-of-conjunctions across both join sides.

    Scale: Catalyst factors the single-side conjuncts out of the OR —
    the part scan keeps only the three brands, the lineitem scan keeps
    only quantity 1..30 (visible as PushedFilters on both scans) —
    then the residual disjunction filters the broadcast join output.
    A naive engine evaluates the OR post-join over the full corpus.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & q.between(qlo, qhi)
    )
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 15, 1, 11)
            | arm("Brand#23", 25, 10, 20)
            | arm("Brand#34", 35, 20, 30)
        )
        .agg(
            F.round(F.sum(rev) / 10000.0, 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "sole_failed_supplier_lines",
    oracle="""
    WITH stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_linestatus = 'F'
                                 THEN l_suppkey END) AS n_fail
      FROM lineitem GROUP BY l_orderkey
    ),
    fail_lines AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_linestatus = 'F'
    )
    SELECT s.s_name AS supplier, COUNT(*) AS numwait
    FROM fail_lines f
    JOIN stats    ON stats.l_orderkey = f.l_orderkey
    JOIN orders o ON o.o_orderkey = f.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = f.l_suppkey
    WHERE stats.n_supp > 1 AND stats.n_fail = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, supplier
    LIMIT 20
    """,
)
def sole_failed_supplier_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (EXISTS + NOT-EXISTS over a self-join): for
    finalized orders, the supplier whose line is the ONLY failed line
    in a multi-supplier order. The textbook formulation is
    EXISTS(another supplier's line) AND NOT EXISTS(another supplier's
    failed line); both decorrelate into one per-order aggregate
    (n_supp > 1, distinct failing suppliers = 1) — the form used here
    on BOTH engines, so the oracle pins the decorrelation itself.

    Scale: ONE pass over lineitem per side, both keyed on orderkey
    (the stats agg and the failed-line distinct reuse the same hash
    partitioning); orders filter pushes to its scan; supplier (tiny)
    broadcasts; final agg lands on <=|supplier| groups.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_linestatus") == "F", F.col("l_suppkey"))
        ).alias("n_fail"),
    )
    fail_lines = (
        li.filter(F.col("l_linestatus") == "F")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        fail_lines.join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_fail") == 1))
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "supplier")
        .limit(20)
    )


@query(
    "idle_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(floor(c.c_acctbal * 10000 + 0.5) AS BIGINT))
                 / 10000.0, 4) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN pos
    WHERE CAST(floor(c.c_acctbal * 10000 + 0.5) AS BIGINT) * pos.n > pos.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: customers above the positive-balance average
    who never placed an order, counted per nation — global scalar
    subquery + ANTI join.

    Scale: the scalar is a one-row broadcast; the above-average test
    CROSS-MULTIPLIES in exact 1e-4 integer units (bal_u * n > sum_u) —
    no float division, so a balance one ulp from the mean can never
    split the engines (float-grid discipline, here with zero grid).
    The anti join hashes on custkey against orders' custkey projection
    (at 100 TB a Bloom-filter pre-prune applies; here the broadcast
    threshold keeps orders' distinct custkeys in-memory at test SF).
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    bal_u = _units(F.col("c_acctbal"))
    pos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal_u).alias("s"), F.count("*").alias("n"))
    )
    return (
        c.join(F.broadcast(pos))
        .filter(bal_u * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(bal_u) / 10000.0, 4).alias("total_acctbal"),
        )
        .orderBy("nation")
    )


@query(
    "nation_pair_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: shipping volume between a nation pair by year.
    The same dimension table (nation) joins the fact twice under two
    roles — supplier side and customer side.

    Scale: both nation copies and supplier broadcast; the pair
    disjunction is applied AFTER both role joins (it spans both
    sides); lineitem⋈orders stays the only large edge. The two-year
    shipdate window prunes the fact scan.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.round(F.sum(rev) / 10000.0, 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@query(
    "market_share_by_year",
    oracle=f"""
    WITH sales AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             {_REV_UNITS_SQL} AS rev_u,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT order_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_2'
                          THEN rev_u ELSE 0 END) * 1.0 / SUM(rev_u), 4)
             AS mkt_share,
           ROUND(SUM(rev_u) / 10000.0, 4) AS total_revenue
    FROM sales
    GROUP BY order_year
    ORDER BY order_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: one supplier nation's share of a region's
    revenue, per order year — conditional aggregation over a 6-way
    star join (nation again under two roles).

    Scale: every dimension broadcasts (the region filter prunes the
    customer side to 1/5 before the fact join under Catalyst's join
    reordering); the share divides exact integer units so both engines
    divide identical numbers.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    target = F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.round(F.sum(target) * 1.0 / F.sum(rev), 4).alias("mkt_share"),
            F.round(F.sum(rev) / 10000.0, 4).alias("total_revenue"),
        )
        .orderBy("order_year")
    )


@query(
    "product_profit_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%green%'
    GROUP BY nation, ship_year
    ORDER BY nation, ship_year DESC
    """,
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog: profit on one product family by supplier
    nation and ship year (the schema carries no partsupp, so profit is
    discounted revenue — the join/agg shape is the point).

    Scale: the LIKE '%green%' filter cannot push below the scan as a
    range, but it DOES prune the broadcast part build side before the
    join; supplier/nation broadcast; one fact pass, agg on
    25 nations x 8 years.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(F.round(F.sum(rev) / 10000.0, 4).alias("profit"))
        .orderBy("nation", F.desc("ship_year"))
    )


@query(
    "orders_cube_status_priority",
    oracle="""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                 / 10000.0, 4) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, status, priority
    """,
)
def orders_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with GROUPING flags — all four
    aggregation levels (detail, per-status, per-priority, grand total)
    in one pass. Complements revenue_rollup_region_nation (ROLLUP is
    the hierarchy subset; CUBE is the full lattice).

    Scale: Spark plans CUBE as a single Expand + hash agg — one fact
    scan for all 2^k level combinations; the GROUPING flags
    disambiguate a real NULL key from a rolled-up one.
    """
    o = table(spark, sf_dir, "orders")
    price_u = _units(F.col("o_totalprice"))
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n_orders"),
            F.round(F.sum(price_u) / 10000.0, 4).alias("total_price"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_price",
        )
        .orderBy("g_status", "g_priority", "status", "priority")
    )


@query(
    "customer_order_navigation",
    oracle="""
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           ROUND(o_totalprice, 4) AS totalprice,
           ROUND(LAG(o_totalprice) OVER w, 4) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 4) AS next_price,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn
    FROM orders
    WHERE o_custkey % 10 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY custkey, rn
    """,
)
def customer_order_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-navigation family in one pass: LAG/LEAD (NULL at the
    partition edges), NTILE quartiles, PERCENT_RANK, ROW_NUMBER over
    each customer's order timeline.

    Scale: one shuffle on custkey serves ALL window functions (same
    partition + order spec); the ordering key (orderdate, orderkey) is
    unique, so every navigation value is deterministic — a
    date-only ordering would make LAG/NTILE nondeterministic under
    ties and could never hash-match a second engine.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 4).alias("totalprice"),
            F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .orderBy("custkey", "rn")
    )


@query(
    "priority_distinct_profile",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
           COUNT(*) AS n_orders,
           ROUND(SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                 / 10000.0, 4) AS total_price
    FROM orders
    GROUP BY priority
    ORDER BY priority
    """,
)
def priority_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates beside plain ones in a single
    GROUP BY — the shape Catalyst rewrites with Expand (one input row
    fans out per distinct group, each partially aggregable).

    Scale: the Expand rewrite keeps everything map-side combinable —
    no per-group row buffering, no second pass over the fact; the
    alternative (self-join per distinct column) reads the table k
    times. Exact counts here; the approx_count_distinct variant trades
    this for a mergeable HLL sketch when exactness isn't required.
    """
    o = table(spark, sf_dir, "orders")
    price_u = _units(F.col("o_totalprice"))
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct(F.date_format("o_orderdate", "yyyy-MM")).alias(
                "n_months"
            ),
            F.count("*").alias("n_orders"),
            F.round(F.sum(price_u) / 10000.0, 4).alias("total_price"),
        )
        .orderBy("priority")
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           ROUND((SELECT COUNT(*) FROM c) * 1.0
                 / (SELECT COUNT(*) FROM v), 4) AS click_rate,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM c), 4) AS purchase_rate
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase with a 24 h step
    window: each step counts users whose step event follows THEIR
    previous step's first completion (the product-analytics staple a
    plain conditional count gets wrong — a click before the first
    view must not count).

    Scale: three conditional per-user MIN aggregates, each shuffling
    on user_id only; the step joins are user-key equi-joins against
    aggregates (at most one row per user), so the heavy events table
    is scanned per step but never self-joined row-to-row. Ratios
    divide exact integer counts.
    """
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )
    # NULL on an empty denominator, matching DuckDB (Spark doubles
    # would yield IEEE NaN for 0.0/0.0 — a cross-engine mismatch on
    # any tier where a funnel step goes dry; review finding)
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.when(
            F.col("n_view") > 0,
            F.round(F.col("n_click") * 1.0 / F.col("n_view"), 4),
        ).alias("click_rate"),
        F.when(
            F.col("n_click") > 0,
            F.round(F.col("n_purchase") * 1.0 / F.col("n_click"), 4),
        ).alias("purchase_rate"),
    )


@query(
    "events_weekly_cohort_retention",
    oracle="""
    WITH fw AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM fw GROUP BY cohort_week
    ),
    act AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS act_week
      FROM events e
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INTEGER)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active,
           s.cohort_size,
           ROUND(COUNT(DISTINCT a.user_id) * 1.0 / s.cohort_size, 4)
             AS retention
    FROM fw f
    JOIN act a   ON a.user_id = f.user_id
    JOIN sizes s ON s.cohort_week = f.cohort_week
    GROUP BY f.cohort_week, week_offset, s.cohort_size
    ORDER BY cohort_week, week_offset
    """,
)
def events_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen
    week, retention = share of the cohort active in week +k (Monday
    weeks on both engines).

    Scale: first-seen and activity both aggregate on user_id (one
    co-partitioned shuffle each); the cohort-size side is a
    broadcast (#weeks rows); the triangle is weeks x offsets — tiny
    output regardless of input size.
    """
    ev = table(spark, sf_dir, "events")
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = fw.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        fw.join(act, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff("act_week", "cohort_week") / 7).cast("int"),
        )
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "cohort_size",
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "revenue_grouping_sets",
    oracle=f"""
    SELECT r.r_name AS region_name,
           c.c_mktsegment AS segment,
           CAST(GROUPING(r.r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(c.c_mktsegment) AS INTEGER) AS g_segment,
           ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 4) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
    ORDER BY g_region, g_segment, region_name, segment
    """,
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the irregular-lattice form ROLLUP/CUBE
    can't express: per-region totals, per-segment totals, and the
    grand total, WITHOUT the (region, segment) detail level.

    Scale: one Expand over the joined fact feeds all three sets in a
    single aggregation pass; the GROUPING flags disambiguate rolled-up
    NULLs. Dims broadcast as in revenue_by_region.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupingSets(
            [[F.col("r_name")], [F.col("c_mktsegment")], []],
            F.col("r_name"),
            F.col("c_mktsegment"),
        )
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("c_mktsegment").cast("int").alias("g_segment"),
            F.round(F.sum(rev) / 10000.0, 4).alias("revenue"),
        )
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_mktsegment").alias("segment"),
            "g_region",
            "g_segment",
            "revenue",
        )
        .orderBy("g_region", "g_segment", "region_name", "segment")
    )


@query(
    "events_ohlc_6h",
    oracle="""
    SELECT event_type,
           strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS bucket,
           ROUND(arg_min(value, ts), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, ts), 4) AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_ohlc_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per event type and 6 h bucket, the opening
    (earliest-ts) and closing (latest-ts) values beside the high/low —
    the time-series resample shape, expressed with min_by/max_by
    ordered-selection aggregates instead of a window + row_number pass.

    Scale: a single partial/final hash aggregation; min_by/max_by
    carry one (value, ts) candidate per partition, so there is no
    per-bucket row buffering and no second window scan. Deterministic
    because event timestamps are unique (pinned by the testdata
    contract suite).
    """
    ev = table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / (6 * 3600)).cast("bigint") * (6 * 3600)
    )
    return (
        ev.groupBy(
            "event_type",
            F.date_format(bucket, "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        )
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "ts"), 4).alias("close"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "monthly_revenue_growth",
    oracle=f"""
    WITH m AS (
      SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
             SUM({_REV_UNITS_SQL}) AS rev_u
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY month
    )
    SELECT month,
           ROUND(rev_u / 10000.0, 4) AS revenue,
           ROUND((rev_u - LAG(rev_u) OVER (ORDER BY month)) * 1.0
                 / LAG(rev_u) OVER (ORDER BY month), 4) AS mom_growth
    FROM m
    ORDER BY month
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-intelligence: monthly revenue with month-over-month growth
    — a window function over an AGGREGATED series (LAG on the month
    grain, not the fact grain).

    Scale: the fact aggregates down to <=|months| rows before the
    window, so the window's total sort is trivially small no matter
    the input size; growth divides exact integer unit sums.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    m = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.sum(rev).alias("rev_u"))
    )
    w = Window.orderBy("month")
    return (
        m.select(
            "month",
            F.round(F.col("rev_u") / 10000.0, 4).alias("revenue"),
            F.round(
                (F.col("rev_u") - F.lag("rev_u").over(w))
                * 1.0
                / F.lag("rev_u").over(w),
                4,
            ).alias("mom_growth"),
        )
        .orderBy("month")
    )


@query(
    "lineitem_stat_aggregates",
    oracle="""
    SELECT l_returnflag AS returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           ROUND(stddev_samp(l_extendedprice), 4) AS price_stddev,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS price_intercept,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY returnflag
    ORDER BY returnflag
    """,
)
def lineitem_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: correlation, sample covariance,
    stddev, and least-squares regression slope/intercept per group —
    all mergeable moment sketches (sum, sum^2, sum xy), so they
    partial-aggregate map-side like any sum.

    Scale: one scan, one shuffle of 3 groups x constant-size moment
    state; no per-group row buffering. ROUND(4) on both engines
    absorbs summation-order ulp noise in the second moments.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("price_per_qty"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("price_intercept"),
            F.count("*").alias("n"),
        )
        .orderBy("returnflag")
    )


@query(
    "orders_column_profile",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(ROUND(MIN(o_totalprice), 4) AS VARCHAR),
           CAST(ROUND(MAX(o_totalprice), 4) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: null count, distinct count, min/max
    per column, emitted long-form (column_name, metrics) — the
    data-quality sweep every ingestion pipeline runs first.

    Scale: the ENGINE computes all columns' metrics in ONE scan (a
    single wide aggregate, then an unpivot of the one-row result); the
    oracle's UNION ALL form re-reads per column, which is fine for a
    referee but would be k full scans at 100 TB. Numeric min/max
    stringify through ROUND(4) so the text forms agree.
    """
    o = table(spark, sf_dir, "orders")
    wide = o.agg(
        (F.count("*") - F.count("o_custkey")).alias("custkey_nulls"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.min("o_custkey").cast("string").alias("custkey_min"),
        F.max("o_custkey").cast("string").alias("custkey_max"),
        (F.count("*") - F.count("o_orderstatus")).alias("status_nulls"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.min("o_orderstatus").alias("status_min"),
        F.max("o_orderstatus").alias("status_max"),
        (F.count("*") - F.count("o_orderpriority")).alias("prio_nulls"),
        F.countDistinct("o_orderpriority").alias("prio_distinct"),
        F.min("o_orderpriority").alias("prio_min"),
        F.max("o_orderpriority").alias("prio_max"),
        (F.count("*") - F.count("o_totalprice")).alias("price_nulls"),
        F.countDistinct("o_totalprice").alias("price_distinct"),
        F.round(F.min("o_totalprice"), 4).cast("string").alias("price_min"),
        F.round(F.max("o_totalprice"), 4).cast("string").alias("price_max"),
    )
    return (
        wide.select(
            F.expr(
                """stack(4,
                   'o_custkey', custkey_nulls, custkey_distinct,
                       custkey_min, custkey_max,
                   'o_orderstatus', status_nulls, status_distinct,
                       status_min, status_max,
                   'o_orderpriority', prio_nulls, prio_distinct,
                       prio_min, prio_max,
                   'o_totalprice', price_nulls, price_distinct,
                       price_min, price_max
                ) AS (column_name, n_nulls, n_distinct, min_value, max_value)"""
            )
        )
        .orderBy("column_name")
    )


@query(
    "events_error_bursts",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events WHERE event_type = 'error'
    ),
    m AS (
      SELECT user_id, ts,
             SUM(CASE WHEN pts IS NULL
                        OR epoch_us(ts) - epoch_us(pts) > 600000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS burst_id
      FROM e
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS burst_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS burst_end,
           COUNT(*) AS n_errors
    FROM m
    GROUP BY user_id, burst_id
    HAVING COUNT(*) >= 3
    ORDER BY user_id, burst_start
    """,
)
def events_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern detection (MATCH_RECOGNIZE-shaped, expressed as
    gaps-and-islands): runs of >= 3 error events per user where
    consecutive errors are <= 10 min apart — the alerting primitive
    'repeated failures in a short window'.

    Scale: one shuffle on user_id serves both the LAG and the
    running-sum island id (same window spec); bursts aggregate on the
    island key the window already produced. The error filter pushes to
    the scan, so only the error slice ever shuffles.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        F.sum(
            F.when(gap_us.isNull() | (gap_us > 600_000_000), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("burst_id"),
    )
    return (
        marked.groupBy("user_id", "burst_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("burst_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("burst_end"),
            F.count("*").alias("n_errors"),
        )
        .filter(F.col("n_errors") >= 3)
        .select("user_id", "burst_start", "burst_end", "n_errors")
        .orderBy("user_id", "burst_start")
    )


@query(
    "nation_revenue_share",
    oracle=f"""
    WITH nr AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             SUM({_REV_UNITS_SQL}) AS rev_u
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY region_name, nation_name
    )
    SELECT region_name, nation_name,
           ROUND(rev_u / 10000.0, 4) AS revenue,
           ROUND(rev_u * 1.0 / SUM(rev_u) OVER (PARTITION BY region_name), 4)
             AS share_of_region,
           CAST(RANK() OVER (PARTITION BY region_name ORDER BY rev_u DESC)
                AS INTEGER) AS rank_in_region
    FROM nr
    ORDER BY region_name, rank_in_region, nation_name
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (RATIO_TO_REPORT shape): each nation's share of
    its region's revenue plus in-region rank — a window aggregate OVER
    an aggregated grain.

    Scale: the fact collapses to 25 nation rows before the window;
    the share divides exact integer unit sums (identical numerator/
    denominator on both engines); rank ties are impossible on exact
    integers unless truly equal, and the output order carries a full
    tie-break anyway.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(rev).alias("rev_u"))
    )
    w = Window.partitionBy("region_name")
    return (
        nr.select(
            "region_name",
            "nation_name",
            F.round(F.col("rev_u") / 10000.0, 4).alias("revenue"),
            F.round(F.col("rev_u") * 1.0 / F.sum("rev_u").over(w), 4).alias(
                "share_of_region"
            ),
            F.rank()
            .over(w.orderBy(F.desc("rev_u")))
            .cast("int")
            .alias("rank_in_region"),
        )
        .orderBy("region_name", "rank_in_region", "nation_name")
    )


@query(
    "events_time_weighted_value",
    oracle="""
    WITH iv AS (
      SELECT event_type,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_u,
             epoch_us(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts))
               - epoch_us(ts) AS w_us,
             value
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           ROUND(CAST(SUM(CAST(v_u AS HUGEINT) * CAST(w_us AS HUGEINT))
                      AS DOUBLE)
                 / (CAST(SUM(w_us) AS DOUBLE) * 10000.0), 4) AS twap_value,
           ROUND(AVG(value), 4) AS plain_avg
    FROM iv
    WHERE w_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation weighted by how
    long it remained current (until the type's next event) — the
    time-series semantics a plain AVG silently gets wrong when
    sampling is irregular; both are reported for contrast.

    Exactness: value quantizes to 1e-4 integer units per row, the
    (value_units x duration_us) products sum in WIDE integers
    (decimal(38,0) / HUGEINT — products reach ~5e15, past safe int64
    headroom at high SF), and only the final exact-integer-to-double
    conversion feeds the division, so both engines divide identical
    numbers.

    Scale: a naive LEAD window partitioned by event_type alone has
    |types| = 5 partitions — one task per type at any data size. The
    engine instead windows within (event_type, day) buckets —
    parallelism = types x days — and repairs the bucket boundaries
    with a TINY per-(type, bucket) firsts table (broadcast back): each
    bucket's LAST event takes the next non-empty bucket's first
    timestamp as its successor. Result is row-for-row identical to
    the global per-type LEAD (the oracle computes that form).
    """
    ev = table(spark, sf_dir, "events")
    v_u = _units(F.col("value"))
    rows = ev.select(
        "event_type",
        "value",
        v_u.alias("v_u"),
        F.unix_micros("ts").alias("ts_us"),
        F.to_date("ts").alias("bucket"),
    )
    wb = Window.partitionBy("event_type", "bucket").orderBy("ts_us")
    # per-(type, bucket) firsts: #types x #days rows — broadcastable at
    # any corpus size; its own window is over that tiny table only
    firsts = rows.groupBy("event_type", "bucket").agg(
        F.min("ts_us").alias("first_us")
    )
    wf = Window.partitionBy("event_type").orderBy("bucket")
    nxt = firsts.select(
        "event_type",
        "bucket",
        F.lead("first_us").over(wf).alias("next_bucket_first_us"),
    )
    iv = (
        rows.withColumn("lead_us", F.lead("ts_us").over(wb))
        .join(F.broadcast(nxt), ["event_type", "bucket"])
        .select(
            "event_type",
            "value",
            "v_u",
            (
                F.coalesce("lead_us", "next_bucket_first_us") - F.col("ts_us")
            ).alias("w_us"),
        )
        .filter(F.col("w_us").isNotNull())
    )
    # widen BEFORE the multiply: a bigint*bigint product overflows
    # int64 for a sparse type with a multi-week gap (ANSI mode would
    # raise where the HUGEINT oracle returns the right answer)
    prod = F.col("v_u").cast("decimal(38,0)") * F.col("w_us").cast("decimal(38,0)")
    return (
        iv.groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(
                F.sum(prod).cast("double")
                / (F.sum("w_us").cast("double") * 10000.0),
                4,
            ).alias("twap_value"),
            F.round(F.avg("value"), 4).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


@query(
    "events_kmv_distinct_estimate",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    ),
    sk AS (
      SELECT event_type, COUNT(*) AS n_h, MAX(h) AS h_k
      FROM ranked WHERE rn <= 64 GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, COUNT(*) AS n_exact FROM d GROUP BY event_type
    )
    SELECT s.event_type,
           ex.n_exact,
           ROUND(CASE WHEN s.n_h < 64 THEN s.n_h * 1.0
                      ELSE 63.0 * 1152921504606846976 / s.h_k
                 END, 4) AS kmv_estimate
    FROM sk s JOIN ex USING (event_type)
    ORDER BY s.event_type
    """,
)
def events_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (k = 64): estimate the
    per-type distinct-user cardinality from the k smallest 60-bit
    hashes — (k-1) * 2^60 / h_k, exact below k. Unlike HLL, the
    sketch is an ORDER STATISTIC of a deterministic hash, so two
    engines (and two runs) produce bit-identical estimates — which is
    what makes it oracle-checkable, and what makes sketch unions
    auditable in production.

    Scale: the sketch is mergeable (union of k-smallest sets is the
    k-smallest of the union — same partial/final shape as any agg);
    the rank <= k filter compiles to WindowGroupLimit, so every
    partition keeps a 64-row heap, never the full distinct set. The
    exact count rides along here only to exhibit the error.
    """
    ev = table(spark, sf_dir, "events")
    h = TX.md5_prefix_hash(F.col("user_id").cast("string"), hex_chars=15).alias(
        "h"
    )
    d = ev.select("event_type", h).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_h"), F.max("h").alias("h_k"))
    )
    ex = d.groupBy("event_type").agg(F.count("*").alias("n_exact"))
    return (
        sk.join(ex, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(
                F.when(F.col("n_h") < 64, F.col("n_h") * 1.0).otherwise(
                    63.0 * F.lit(1152921504606846976) / F.col("h_k")
                ),
                4,
            ).alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


@query(
    "events_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
    ),
    per_day AS (
        SELECT first_day, COUNT(*) AS new_users
        FROM first_seen GROUP BY 1
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM per_day
    ORDER BY day
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative distinct users via the first-seen trick: the
    running COUNT(DISTINCT user) up to each day equals the count of
    users whose FIRST event is on or before it — one per-user MIN plus
    a day-grain running sum, O(users), instead of the quadratic
    re-count a naive cumulative distinct would do per day.

    Scale: the user MIN aggregate is the only data-sized shuffle
    (map-side combined); per_day is |days| rows, so the unpartitioned
    running-sum window is a few hundred rows on one task — bounded by
    calendar length, not data volume.
    """
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_day.withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("bigint")
        )
        .select(
            F.date_format("first_day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "cumulative_users",
        )
        .orderBy("day")
    )


@query(
    "market_basket_part_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, COUNT(*) AS pair_count
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_count DESC, part_a, part_b
    LIMIT 20
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    bought together in one order.

    The oracle writes the textbook self-join; the engine instead
    builds each order's sorted distinct part set ONCE and expands
    ordered pairs with nested array HOFs — the pair blow-up is
    bounded by basket size squared (baskets are small by nature), and
    the self-join's second shuffle of the order-part table disappears.
    Single-part orders map to an empty pair list (Spark's sequence()
    DESCENDS when stop < start, so the guard is load-bearing).

    Scale: one orderkey shuffle to build baskets, one pair-count
    shuffle (map-side combined, pairs ~ baskets * k^2/2), top-20 via
    TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("pk")
    )
    pairs = baskets.select(
        F.explode(
            F.when(
                F.size("pk") >= 2,
                F.expr(
                    """
                    flatten(transform(sequence(0, size(pk) - 2), i ->
                        transform(sequence(i + 1, size(pk) - 1), j ->
                            struct(pk[i] AS part_a, pk[j] AS part_b))))
                    """
                ),
            ).otherwise(
                F.array().cast("array<struct<part_a:bigint,part_b:bigint>>")
            )
        ).alias("pair")
    ).select("pair.part_a", "pair.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "events_rolling_7d_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
        SELECT DISTINCT ud.day + CAST(r.range AS INTEGER) AS w_day, ud.user_id
        FROM ud, range(7) r
    )
    SELECT strftime(c.w_day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS active_users_7d
    FROM contrib c JOIN days d ON c.w_day = d.day
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per calendar day (the WAU
    curve), via contribution expansion instead of a per-day re-count:
    each (user, active day) pair contributes membership to the seven
    windows it falls in, so the rolling distinct is an ordinary
    COUNT(*) after a (window_day, user) dedup — no day-by-day DISTINCT
    re-scan, no range self-join of the raw event log.

    Days with zero events in the trailing week of another day do not
    appear; the report is restricted to days that themselves have
    events (broadcast semi join with the tiny day list).

    Scale: the expansion factor is the constant window length (7), the
    (w_day, user) dedup is the one data-sized shuffle (map-side
    combinable), and the final per-day count is |days| rows. The naive
    form — COUNT(DISTINCT user) OVER (RANGE 6 PRECEDING) — cannot
    partial-aggregate and holds per-day user sets in one task's state;
    this form is the 100 TB rewrite.
    """
    ev = table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("w_day"),
        "user_id",
    ).distinct()
    return (
        contrib.join(F.broadcast(days), contrib["w_day"] == days["day"], "left_semi")
        .groupBy("w_day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
        .select(
            F.date_format("w_day", "yyyy-MM-dd").alias("day"), "active_users_7d"
        )
        .orderBy("day")
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH tr AS (
        SELECT event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               COUNT(*) AS transitions
        FROM tr WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type,
           CAST(transitions AS BIGINT) AS transitions,
           (transitions * 1000000
              // SUM(transitions) OVER (PARTITION BY from_type))
             / 1000000.0 AS share
    FROM c
    ORDER BY from_type, to_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: for
    every (from_type, to_type) adjacent pair in a user's timeline,
    the transition count and its share of all transitions leaving
    from_type. The per-user ordering key is (ts, event_id) — event_id
    is unique, so LAG is deterministic cross-engine even under
    same-timestamp bursts.

    Float discipline: share = (count * 1e6 div from-total) / 1e6 —
    exact integer division on both engines, never a float ratio that
    could round differently.

    Scale: one user-keyed window exchange (the same partitioning the
    sessionization family uses), then the transition count collapses
    to |event_types|^2 rows, over which the from-total window is free.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    cnts = tr.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("transitions"))
    wtot = Window.partitionBy("from_type")
    return (
        cnts.withColumn(
            "share",
            F.expr("transitions * 1000000 div sum(transitions) over "
                   "(partition by from_type)") / F.lit(1000000.0),
        )
        .select("from_type", "to_type", "transitions", "share")
        .orderBy("from_type", "to_type")
    )


@query(
    "orders_mad_outliers",
    oracle="""
    WITH u AS (
        SELECT o_orderpriority AS priority, o_orderkey AS orderkey,
               CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS u
        FROM orders
    ),
    m AS (
        SELECT priority, u AS med FROM (
            SELECT priority, u,
                   ROW_NUMBER() OVER (
                       PARTITION BY priority ORDER BY u, orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY priority) AS cnt
            FROM u)
        WHERE rn = (cnt + 1) // 2
    ),
    a AS (
        SELECT u.priority, u.orderkey, u.u, m.med,
               abs(u.u - m.med) AS ad
        FROM u JOIN m USING (priority)
    ),
    md AS (
        SELECT priority, ad AS mad FROM (
            SELECT priority, ad,
                   ROW_NUMBER() OVER (
                       PARTITION BY priority ORDER BY ad, orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY priority) AS cnt
            FROM a)
        WHERE rn = (cnt + 1) // 2
    )
    SELECT a.priority, a.orderkey,
           a.u / 10000.0 AS totalprice,
           a.med / 10000.0 AS median_price,
           md.mad / 10000.0 AS mad_price,
           a.ad / 10000.0 AS abs_dev
    FROM a JOIN md USING (priority)
    WHERE a.ad > 5 * md.mad
    ORDER BY a.ad DESC, a.orderkey
    LIMIT 20
    """,
)
def orders_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust price-outlier report: the 20 orders whose totalprice
    deviates from their priority class's MEDIAN by more than 5x the
    class's median absolute deviation (MAD). Median/MAD instead of
    mean/stddev so a handful of extreme orders cannot drag the fence
    they are judged against (the z-score query's known weakness).

    Exactness: prices fold to round-half-up 1e-4 integer units first;
    both medians are LOWER medians selected by rank — rn == (cnt+1)
    div 2 with a unique (value, orderkey) sort — so every compared
    quantity is an exact integer on both engines; the 5x fence is an
    integer multiply, never a 1.4826 float factor.

    Scale: exact per-group order statistics need an in-group sort, and
    o_orderpriority has only 5 values — this plan accepts that skew at
    report grain because it reads ONE narrow projection. At 100 TB the
    engine's mergeable-histogram percentiles (plans/incremental.py,
    `histogram_percentiles`) answer the same question at bin
    resolution without a global sort; this query is the exact-answer
    small-dims analytics path, documented as such.
    """
    orders = table(spark, sf_dir, "orders")
    u = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("orderkey"),
        _units(F.col("o_totalprice")).alias("u"),
    )

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w_rn = Window.partitionBy("priority").orderBy(val, "orderkey")
        w_p = Window.partitionBy("priority")
        return (
            df.withColumn("rn", F.row_number().over(w_rn))
            .withColumn("cnt", F.count(F.lit(1)).over(w_p))
            .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
            .select("priority", F.col(val).alias(out))
        )

    med = lower_median(u, "u", "med")
    a = u.join(F.broadcast(med), "priority").withColumn(
        "ad", F.abs(F.col("u") - F.col("med"))
    )
    mad = lower_median(a, "ad", "mad")
    return (
        a.join(F.broadcast(mad), "priority")
        .where(F.col("ad") > 5 * F.col("mad"))
        .select(
            "priority",
            "orderkey",
            (F.col("u") / 10000.0).alias("totalprice"),
            (F.col("med") / 10000.0).alias("median_price"),
            (F.col("mad") / 10000.0).alias("mad_price"),
            (F.col("ad") / 10000.0).alias("abs_dev"),
        )
        .orderBy(F.desc(F.col("abs_dev")), "orderkey")
        .limit(20)
    )


# headline-bench nominee: the zero-join HOF pair expansion is a plan
# shape nothing else in the suite times
BENCH_EXTRA.add("market_basket_part_pairs")
# r8: the bucketized interval self-join class
BENCH_EXTRA.add("events_rapid_repeat_pairs")


@query(
    "events_ewma_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS su
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, day, su,
               LAG(su, 1) OVER w AS s1, LAG(su, 2) OVER w AS s2,
               LAG(su, 3) OVER w AS s3, LAG(su, 4) OVER w AS s4,
               LAG(su, 5) OVER w AS s5, LAG(su, 6) OVER w AS s6,
               LAG(su, 7) OVER w AS s7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           su / 10000.0 AS daily_value,
           ((su * 128
             + COALESCE(s1, 0) * 64 + COALESCE(s2, 0) * 32
             + COALESCE(s3, 0) * 16 + COALESCE(s4, 0) * 8
             + COALESCE(s5, 0) * 4  + COALESCE(s6, 0) * 2
             + COALESCE(s7, 0))
            // (128
             + CASE WHEN s1 IS NULL THEN 0 ELSE 64 END
             + CASE WHEN s2 IS NULL THEN 0 ELSE 32 END
             + CASE WHEN s3 IS NULL THEN 0 ELSE 16 END
             + CASE WHEN s4 IS NULL THEN 0 ELSE 8 END
             + CASE WHEN s5 IS NULL THEN 0 ELSE 4 END
             + CASE WHEN s6 IS NULL THEN 0 ELSE 2 END
             + CASE WHEN s7 IS NULL THEN 0 ELSE 1 END))
           / 10000.0 AS ewma_value
    FROM lagged
    ORDER BY event_type, day
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event value per
    type — the trend-smoothing curve of a metrics pipeline — computed
    WITHOUT a single transcendental: alpha = 1/2 makes the weights
    exact powers of two, the horizon truncates at 8 observed days
    (2^-8 < 0.4% residual mass), and the weighted sum runs in
    round-half-up 1e-4 integer units with the normalizer summing only
    the weights actually present (series starts are normalized, not
    biased low). One integer division at the end — bit-identical on
    both engines, which no float pow()/exp() formulation could
    guarantee.

    Scale: one (type, day)-grain aggregate (map-side combined), then
    the LAG window runs over |types| x |days| rows — bounded by
    calendar length, not event volume.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(_units(F.col("value"))).cast("bigint").alias("su")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lags = [F.lag("su", k).over(w).alias(f"s{k}") for k in range(1, 8)]
    lagged = daily.select("event_type", "day", "su", *lags)
    wt = [128, 64, 32, 16, 8, 4, 2, 1]
    score = F.col("su") * wt[0]
    norm = F.lit(wt[0])
    for k in range(1, 8):
        score = score + F.coalesce(F.col(f"s{k}"), F.lit(0)) * wt[k]
        norm = norm + F.when(F.col(f"s{k}").isNull(), 0).otherwise(wt[k])
    return lagged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("su") / 10000.0).alias("daily_value"),
        (
            (score.cast("bigint") - score.cast("bigint") % norm) / norm
            / 10000.0
        ).alias("ewma_value"),
    ).orderBy("event_type", "day")


# build/probe/merge AND the oracle replay live in extensions/sketches.py —
# one definition shared with the streaming refresh and the merge test
from env_data_pipeline_spark.extensions.sketches import cms_oracle_sql as _cms_oracle_sql


@query(
    "events_cms_user_counts",
    oracle=_cms_oracle_sql(),
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency serving: a d=4 x w=64 CMS of
    per-user event counts (md5-prefix row hashes — the engine-wide
    hash convention), probed for the deterministic 1%-ish sample
    user_id % 97 == 0 and compared against the exact counts. The
    output carries the CMS guarantee in data: overestimate >= 0
    always (min over rows can only overcount, never undercount).

    Why it earns a slot next to the KMV sketch: CMS is the MERGEABLE
    frequency structure — per-partition sketches combine by cell-wise
    addition (a plain (j, bucket) SUM), so a 100 TB stream's heavy-ish
    keys can be served from 256 cells without ever materializing the
    exact per-key table the way text_heavy_hitters does.

    Scale: the build is one map-side-combinable (j, bucket) count —
    the sketch IS the aggregate state (d*w = 256 cells regardless of
    corpus); probing broadcasts the 256-cell table onto the probe
    keys. The exact side exists only for the audit and only for the
    probe sample. Build/probe/merge live in extensions/sketches.py —
    one definition shared with the streaming refresh and the
    merge-equivalence test.
    """
    from env_data_pipeline_spark.extensions import sketches as SK

    ev = table(spark, sf_dir, "events").select("user_id")
    return SK.cms_probe(SK.cms_cells(ev), SK.cms_probe_sample(ev))


from env_data_pipeline_spark.extensions.sketches import hll_oracle_sql as _hll_oracle_sql


@query(
    "events_hll_distinct_by_type",
    oracle=_hll_oracle_sql(),
)
def events_hll_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimates per event type plus an ALL
    row whose registers are the MAX-MERGE of the per-type sketches —
    mergeability shown in data, not just claimed: max is associative,
    so merging group sketches equals building one sketch over the
    union. Completes the sketch family's merge algebras (CMS adds,
    KMV truncates, Bloom ORs, HLL maxes); KMV already serves a single
    global distinct count, HLL adds the group-sliced, mergeable form
    a 100 TB rollup needs (per-partition sketches -> any ad-hoc
    group-by over them without rescanning).

    Integer-exact estimator (alpha = 709/1000, rank from
    length(bin(w)) — see extensions/sketches.py): the DuckDB oracle
    replays the estimate bit for bit; the exact distinct count rides
    along as the audit column. The standard small-range correction IS
    applied — linear counting when the raw estimate <= 5m/2 and zero
    registers exist — via a PRECOMPUTED 63-entry floor(m*ln(m/V))
    table baked identically into both engines, so no runtime
    transcendental can drift; accuracy across both regimes is pinned
    by tests/test_reference_kernels.py.

    Scale: the sketch build is one map-side-combinable (type, idx)
    MAX — state is |types| * 64 rows regardless of stream length; the
    exact countDistinct exists only for the audit column."""
    from env_data_pipeline_spark.extensions import sketches as SK

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    return SK.hll_report(spark, ev)


# --------------------------------------------------------------------------
# events_top_trigram_paths: 3-step behavioral sequence mining
# --------------------------------------------------------------------------

_TRIGRAM_TOPK = 10


@query(
    "events_top_trigram_paths",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type, 1) OVER w AS p1,
               LAG(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           COUNT(*) AS n_paths
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path
    LIMIT {_TRIGRAM_TOPK}
    """,
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths: every consecutive
    (event, event, event) trigram per user in event-time order,
    counted corpus-wide — the sequence-mining extension of
    events_transition_matrix (length-2) that surfaces WORKFLOWS
    (view>click>purchase vs view>error>view) rather than single hops.

    Determinism: the window order is the unique (ts, event_id) pair,
    so every LAG is reproducible cross-engine.

    Scale: one per-user window (a single user-keyed exchange — the
    same shape as the transition matrix), then a map-side-combined
    count on a |event_types|^3-bounded key space and a
    TakeOrderedAndProject top-10. Nothing fans out: each event emits
    exactly one trigram (or none for the first two per user).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    return (
        seq.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", F.col("p2"), F.col("p1"), F.col("event_type")).alias(
                "path"
            )
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(_TRIGRAM_TOPK)
    )


# --------------------------------------------------------------------------
# lineitem_winsorized_stats: robust cleaning by exact-rank clamping
# --------------------------------------------------------------------------


@query(
    "lineitem_winsorized_stats",
    oracle="""
    WITH u AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS u,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT flag, u,
               ROW_NUMBER() OVER (
                   PARTITION BY flag ORDER BY u, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY flag) AS cnt
        FROM u
    ),
    fences AS (
        SELECT flag,
               MAX(CASE WHEN rn = GREATEST(1, cnt // 100) THEN u END) AS p01_units,
               MAX(CASE WHEN rn = GREATEST(1, (cnt * 99) // 100) THEN u END)
                   AS p99_units
        FROM r GROUP BY flag
    )
    SELECT r.flag,
           CAST(MAX(r.cnt) AS BIGINT) AS n_rows,
           MAX(f.p01_units) AS p01_units,
           MAX(f.p99_units) AS p99_units,
           CAST(SUM(CASE WHEN r.u < f.p01_units THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped_low,
           CAST(SUM(CASE WHEN r.u > f.p99_units THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped_high,
           CAST(SUM(r.u) // MAX(r.cnt) AS BIGINT) AS mean_units_raw,
           CAST(SUM(LEAST(GREATEST(r.u, f.p01_units), f.p99_units))
                // MAX(r.cnt) AS BIGINT) AS mean_units_winsorized
    FROM r JOIN fences f USING (flag)
    GROUP BY r.flag
    """,
)
def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per return flag: exact-rank p01/p99
    fences on half-up 1e-4 price units, values clamped into the fence,
    raw vs winsorized means side by side plus how many rows each fence
    clipped — the data-cleaning gate that makes a mean robust without
    DELETING outliers (the MAD report's complement: that one flags,
    this one repairs).

    Exactness: fences are order statistics selected by row_number on
    the unique (units, orderkey, linenumber) sort; every sum/mean is
    BIGINT with one floor division — nothing float anywhere.

    Scale: exact per-group order statistics accept the in-group sort
    at report grain (3 flag values, one narrow projection) exactly
    like orders_mad_outliers; at 100 TB the mergeable-histogram
    percentiles answer at bin resolution without the sort, and the
    clamp becomes a broadcast of the 3-row fence table — which is
    already how this plan applies it.
    """
    li = table(spark, sf_dir, "lineitem")
    u = li.select(
        F.col("l_returnflag").alias("flag"),
        _units(F.col("l_extendedprice")).alias("u"),
        "l_orderkey",
        "l_linenumber",
    )
    w_rn = Window.partitionBy("flag").orderBy("u", "l_orderkey", "l_linenumber")
    w_p = Window.partitionBy("flag")
    r = u.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "cnt", F.count(F.lit(1)).over(w_p)
    )
    fences = r.groupBy("flag").agg(
        F.max(
            F.when(F.col("rn") == F.greatest(F.lit(1), F.expr("cnt div 100")), F.col("u"))
        ).alias("p01_units"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.lit(1), F.expr("(cnt * 99) div 100")),
                F.col("u"),
            )
        ).alias("p99_units"),
    )
    joined = r.join(F.broadcast(fences), "flag")
    clamped = F.least(F.greatest(F.col("u"), F.col("p01_units")), F.col("p99_units"))
    return joined.groupBy("flag").agg(
        F.max("cnt").cast("bigint").alias("n_rows"),
        F.max("p01_units").alias("p01_units"),
        F.max("p99_units").alias("p99_units"),
        F.sum(F.when(F.col("u") < F.col("p01_units"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped_low"),
        F.sum(F.when(F.col("u") > F.col("p99_units"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped_high"),
        F.expr("cast(sum(u) div max(cnt) as bigint)").alias("mean_units_raw"),
        F.sum(clamped).alias("_wsum"),
    ).select(
        "flag",
        "n_rows",
        "p01_units",
        "p99_units",
        "n_clamped_low",
        "n_clamped_high",
        "mean_units_raw",
        F.expr("cast(_wsum div n_rows as bigint)").alias("mean_units_winsorized"),
    )


# --------------------------------------------------------------------------
# orders_backlog_over_time: interval concurrency as a running delta sum
# --------------------------------------------------------------------------


@query(
    "orders_backlog_over_time",
    # shared definition (operators/incremental.py): one oracle + one
    # series derivation serve this query and the streaming refresh
    oracle=INC.backlog_oracle(),
)
def orders_backlog_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series: each order is open from its
    order date through its LAST ship date (inclusive); the backlog on
    any day is the running sum of (+1 open, -1 the day after close)
    deltas — the standard interval-concurrency trick that answers
    "how many in flight?" without materializing order x day rows.
    Days between deltas carry the previous backlog by construction, so
    emitting only delta days loses nothing.

    Scale: one per-order close aggregation (key shuffle), two day-
    grain counts, then a running sum over the DAY GRAIN — a single-
    partition window over a calendar-bounded (~years x 365) frame, not a
    data-bounded one; at 100 TB the window input is still just days.
    Orders with no lineitems have no close and are excluded (inner
    join), matching the oracle.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    closes = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").cast("date").alias("close_day")
    )
    spans = orders.join(
        closes, orders["o_orderkey"] == closes["l_orderkey"]
    ).select(
        F.col("o_orderdate").cast("date").alias("open_day"),
        F.date_add(F.col("close_day"), 1).alias("after_close"),
    )
    return INC.backlog_series(spans)


# --------------------------------------------------------------------------
# events_seasonality_profile: day-of-week x hour load matrix
# --------------------------------------------------------------------------


@query(
    "events_seasonality_profile",
    oracle="""
    WITH cells AS (
        SELECT isodow(ts) - 1 AS dow, hour(ts) AS hr, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cells),
    mx AS (SELECT dow, MAX(n_events) AS mx FROM cells GROUP BY 1)
    SELECT c.dow, c.hr,
           CAST(c.n_events AS BIGINT) AS n_events,
           CAST(c.n_events * 1000 // (SELECT total FROM tot) AS BIGINT)
               AS share_permille,
           c.n_events = m.mx AS is_peak_hour_of_dow
    FROM cells c JOIN mx m USING (dow)
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality matrix: events bucketed by (Monday-based
    day-of-week, hour-of-day) with each cell's exact permille share of
    total traffic and a per-dow peak-hour flag — the capacity-planning
    profile that decides when maintenance windows and batch refreshes
    run. Day-of-week convention pinned cross-engine: Spark weekday()
    (0=Mon) == DuckDB isodow()-1.

    Scale: one map-side-combined groupBy onto a <=168-cell key space;
    the total and per-dow maxima are cell-grain aggregates broadcast
    back. Cost is one scan regardless of event volume.
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("weekday(ts)").alias("dow"), F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tot = cells.agg(F.sum("n_events").cast("bigint").alias("total"))
    mx = cells.groupBy("dow").agg(F.max("n_events").alias("mx"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .join(F.broadcast(mx), "dow")
        .select(
            "dow",
            "hr",
            F.col("n_events").cast("bigint"),
            F.expr("cast(n_events * 1000 div total as bigint)").alias(
                "share_permille"
            ),
            (F.col("n_events") == F.col("mx")).alias("is_peak_hour_of_dow"),
        )
    )


# --------------------------------------------------------------------------
# customer_rfm_segments: recency/frequency/monetary quintile scoring
# --------------------------------------------------------------------------


@query(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_day,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_units
        FROM orders GROUP BY 1
    ),
    anchor AS (SELECT MAX(last_day) AS corpus_last FROM per_cust),
    m AS (
        SELECT custkey, frequency, monetary_units,
               datediff('day', last_day, (SELECT corpus_last FROM anchor))
                   AS recency_days
        FROM per_cust
    ),
    scored AS (
        SELECT custkey, recency_days, frequency, monetary_units,
               ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary_units, custkey) AS m_score
        FROM m
    )
    SELECT r_score * 100 + f_score * 10 + m_score AS rfm_cell,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_units) // COUNT(*) AS BIGINT)
               AS avg_monetary_units,
           CAST(SUM(frequency) // COUNT(*) AS BIGINT) AS avg_frequency
    FROM scored GROUP BY 1
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    anchored to the corpus's last order day so the query is
    reproducible), frequency (order count) and monetary (half-up 1e-4
    price units), each quintile-scored 1..5 (5 = best) with ntile over
    a UNIQUE (metric, custkey) order — ntile's remainder-to-first-
    buckets rule is the same on both engines, and the unique order
    makes the bucket assignment deterministic. Output is the <=125-cell
    RFM matrix with exact integer averages — the marketing/value
    segmentation every warehouse grows eventually.

    Scale: one order scan into a per-customer aggregate (key shuffle),
    then three global ntiles over the CUSTOMER grain. A global ntile
    is a single-partition sort of customer-sized data — at 100 TB swap
    to percentile-bucket scores from the mergeable histogram state
    (plans/incremental.py), same 1..5 output contract; this is the
    exact-answer path, documented as such.
    """
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_units(F.col("o_totalprice"))).cast("bigint").alias("monetary_units"),
    )
    anchor = per_cust.agg(F.max("last_day").alias("corpus_last"))
    m = per_cust.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        "frequency",
        "monetary_units",
        F.datediff(F.col("corpus_last"), F.col("last_day")).alias("recency_days"),
    )
    scored = m.select(
        "custkey",
        "frequency",
        "monetary_units",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), "custkey"))
        .alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "custkey")).alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary_units", "custkey"))
        .alias("m_score"),
    )
    return scored.groupBy(
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("bigint")
        .alias("rfm_cell")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.expr("cast(sum(monetary_units) div count(*) as bigint)").alias(
            "avg_monetary_units"
        ),
        F.expr("cast(sum(frequency) div count(*) as bigint)").alias(
            "avg_frequency"
        ),
    )


# --------------------------------------------------------------------------
# part_substitution_candidates: banded same-type price neighbors
# --------------------------------------------------------------------------

_SUB_TOPK = 3


@query(
    "part_substitution_candidates",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey, p_type, p_brand,
               CAST(floor(p_retailprice * 10000 + 0.5) AS BIGINT) AS u
        FROM part
    ),
    cand AS (
        SELECT a.p_partkey AS partkey, b.p_partkey AS sub_partkey,
               a.u AS price_units, b.u AS sub_price_units,
               abs(a.u - b.u) AS diff_units
        FROM p a JOIN p b
          ON a.p_type = b.p_type AND a.p_partkey <> b.p_partkey
        WHERE abs(a.u - b.u) * 20 <= LEAST(a.u, b.u)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY partkey
                   ORDER BY diff_units, sub_partkey) AS rnk
        FROM cand
    )
    SELECT partkey, rnk AS sub_rank, sub_partkey,
           price_units, sub_price_units, diff_units
    FROM ranked WHERE rnk <= {_SUB_TOPK}
    """,
)
def part_substitution_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute-product candidates: for every part, the top-3 parts
    of the SAME type whose price sits within 5% (|pa-pb|*20 <=
    min(pa,pb), exact integer band on half-up 1e-4 units) — the
    assortment-gap / out-of-stock fallback join. The per-part top-3 is
    a WindowGroupLimit.

    Algorithm — exact and LINEAR, because "all pairs within 5%" is
    inherently quadratic in catalog density (measured: 0.47M band
    pairs at sf0.01 -> 47M at sf0.1, 100x for 10x parts) while the
    top-3 answer is linear-sized. Within a type, index the DISTINCT
    price levels by sort position; a part's true top-3 by
    (diff, sub_partkey) can only come from its own level (3 smallest
    OTHER partkeys there — diff 0 beats everything) or the nearest <=3
    distinct levels on each side (if each nearer level held just one
    part), and within any level only that level's 3 smallest partkeys
    can win (equal diff for the whole level -> partkey tiebreak).
    Equidistant above/below levels tie -> the union of each side's
    top-3 still contains the winners. So: per-level top-4-by-partkey
    pool (WindowGroupLimit), probe exploded to level+/-3, equi-join,
    band filter, rank — <=28 candidates per part instead of every
    band pair. The oracle deliberately stays the NAIVE quadratic
    type-join + band filter: two independent algorithms, so the gate
    proves the level construction loses no pair.

    Scale: two window passes (level index on the distinct-level grain,
    top-4 pool per level) and one merge-hinted (type, level) equi-join
    with constant fan-out — shuffle grows with the catalog, never with
    band density (memory: AQE hazard — no data-sized broadcast).
    """
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        _units(F.col("p_retailprice")).cast("bigint").alias("u"),
    )
    wl = Window.partitionBy("p_type").orderBy("u")
    levels = (
        p.select("p_type", "u")
        .distinct()
        .withColumn("lvl", F.row_number().over(wl))
    )
    # merge-hinted: the distinct-level table is data-dependent (it can
    # approach catalog size when prices rarely repeat), so it must not
    # be AQE-broadcast either
    pl = p.hint("merge").join(levels, ["p_type", "u"])
    wk = Window.partitionBy("p_type", "lvl").orderBy("p_partkey")
    pool = (
        pl.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 4)
        .select(
            "p_type",
            "lvl",
            F.col("p_partkey").alias("sub_partkey"),
            F.col("u").alias("sub_price_units"),
        )
    )
    probes = pl.select(
        F.col("p_partkey").alias("partkey"),
        "p_type",
        F.col("u").alias("price_units"),
        F.explode(
            F.array(*[F.col("lvl") + F.lit(d) for d in range(-3, 4)])
        ).alias("lvl"),
    )
    cand = (
        probes.hint("merge")
        .join(pool, ["p_type", "lvl"])
        .filter(F.col("partkey") != F.col("sub_partkey"))
        .withColumn(
            "diff_units", F.abs(F.col("price_units") - F.col("sub_price_units"))
        )
        .filter(
            F.col("diff_units") * 20
            <= F.least(F.col("price_units"), F.col("sub_price_units"))
        )
    )
    w = Window.partitionBy("partkey").orderBy("diff_units", "sub_partkey")
    return (
        cand.withColumn("sub_rank", F.row_number().over(w))
        .filter(F.col("sub_rank") <= _SUB_TOPK)
        .select(
            "partkey",
            "sub_rank",
            "sub_partkey",
            "price_units",
            "sub_price_units",
            "diff_units",
        )
    )


# --------------------------------------------------------------------------
# orders_ship_latency_histogram: order-to-first-ship distribution
# --------------------------------------------------------------------------

_LAT_BUCKET_DAYS = 7


@query(
    "orders_ship_latency_histogram",
    oracle=f"""
    WITH lat AS (
        SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(MIN(l.l_shipdate) AS DATE)) AS days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    b AS (SELECT days // {_LAT_BUCKET_DAYS} AS bucket FROM lat),
    h AS (SELECT bucket, COUNT(*) AS n_orders FROM b GROUP BY 1),
    t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM h)
    SELECT bucket,
           bucket * {_LAT_BUCKET_DAYS} AS from_days,
           (bucket + 1) * {_LAT_BUCKET_DAYS} - 1 AS to_days,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_orders * 1000 // (SELECT total FROM t) AS BIGINT)
               AS share_permille
    FROM h
    """,
)
def orders_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency distribution in 7-day buckets
    with exact permille shares — the fulfillment-SLA profile. Latency
    is whole days between the order date and the order's EARLIEST ship
    date (integer datediff, non-negative in sane data, so `div` ==
    floor division on both engines).

    Scale: one per-order min-shipdate aggregate (the only key
    shuffle), then a map-side-combined count on a handful of buckets;
    the 1-row total broadcasts back. Mergeable by construction — the
    same fixed-bucket histogram algebra as plans/incremental.py.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    lat = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select(
        F.datediff(F.col("first_ship"), F.col("o_orderdate").cast("date")).alias(
            "days"
        )
    )
    h = lat.select(F.expr(f"days div {_LAT_BUCKET_DAYS}").alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    t = h.agg(F.sum("n_orders").cast("bigint").alias("total"))
    return h.crossJoin(F.broadcast(t)).select(
        "bucket",
        (F.col("bucket") * _LAT_BUCKET_DAYS).alias("from_days"),
        ((F.col("bucket") + 1) * _LAT_BUCKET_DAYS - 1).alias("to_days"),
        F.col("n_orders").cast("bigint"),
        F.expr("cast(n_orders * 1000 div total as bigint)").alias(
            "share_permille"
        ),
    )


# --------------------------------------------------------------------------
# events_multitouch_attribution: linear credit splitting
# --------------------------------------------------------------------------

_MT_WINDOW_MIN = 10  # same lookback as events_interval_attribution


@query(
    "events_multitouch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS conv_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.conv_id, e.event_id AS touch_id, e.event_type AS touch_type,
             ROW_NUMBER() OVER (PARTITION BY p.conv_id
                                ORDER BY e.ts, e.event_id) AS touch_rank,
             COUNT(*) OVER (PARTITION BY p.conv_id) AS n_touches
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.ts >= p.ts - INTERVAL {_MT_WINDOW_MIN} MINUTE
       AND e.ts < p.ts
       AND e.event_type IN ('view', 'click')
    ),
    credited AS (
      SELECT touch_type,
             CASE WHEN touch_rank = 1
                  THEN 1000 - (n_touches - 1) * (1000 // n_touches)
                  ELSE 1000 // n_touches END AS credit_milli
      FROM touches
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_milli) AS BIGINT) AS credit_milli_total
    FROM credited GROUP BY 1
    """,
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 10
    minutes before a purchase shares that conversion's 1000 milli-
    credits equally — integer floor shares with the REMAINDER going to
    the earliest touch, so each conversion distributes exactly 1000
    and every quantity stays BIGINT (the rational-credit problem made
    exact). Reported per touch channel: touch count and total credit.
    The single-winner complement of events_asof_last_touch and the
    credit-splitting extension of events_interval_attribution.

    Invariant (pinned in tests): sum(credit_milli_total) == 1000 x
    the number of converted purchases with >=1 touch.

    Scale: the touch join is EQUI on user_id with the window predicate
    inside each matched group (the interval-attribution shape); the
    per-conversion rank/count windows partition by conversion id —
    bounded fan-in per conversion — and the final aggregate is a
    |channels|-sized map-side-combined groupBy.
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
    )
    touches = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_MT_WINDOW_MIN} MINUTES"))
        & (F.col("t_ts") < F.col("p_ts")),
    )
    w_rank = Window.partitionBy("conv_id").orderBy("t_ts", "touch_id")
    w_all = Window.partitionBy("conv_id")
    credited = (
        touches.withColumn("touch_rank", F.row_number().over(w_rank))
        .withColumn("n_touches", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "credit_milli",
            F.when(
                F.col("touch_rank") == 1,
                F.lit(1000)
                - (F.col("n_touches") - 1) * F.expr("1000 div n_touches"),
            ).otherwise(F.expr("1000 div n_touches")),
        )
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("credit_milli").cast("bigint").alias("credit_milli_total"),
    )


# --------------------------------------------------------------------------
# events_new_vs_returning_weekly: acquisition vs retention split
# --------------------------------------------------------------------------


@query(
    "events_new_vs_returning_weekly",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               isoyear(ts) AS iso_year, week(ts) AS iso_week,
               isoyear(ts) * 100 + week(ts) AS wkey
        FROM events
    ),
    first_seen AS (SELECT user_id, MIN(wkey) AS first_wkey
                   FROM wk GROUP BY 1),
    active AS (SELECT DISTINCT user_id, iso_year, iso_week, wkey FROM wk)
    SELECT a.iso_year, a.iso_week,
           CAST(COUNT(*) AS BIGINT) AS n_active_users,
           CAST(SUM(CASE WHEN a.wkey = f.first_wkey THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_users,
           CAST(SUM(CASE WHEN a.wkey = f.first_wkey THEN 0 ELSE 1 END)
                AS BIGINT) AS n_returning_users
    FROM active a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_new_vs_returning_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly acquisition-vs-retention split: per ISO week, active
    users partitioned into NEW (their first-ever active week) and
    RETURNING — the growth-accounting view a product team reads next
    to WAU. ISO week semantics verified identical cross-engine
    (Spark yearofweek/weekofyear == DuckDB isoyear/week, including the
    2021-01-01 -> 2020-W53 boundary).

    Scale: the first-seen trick again (events_cumulative_distinct_
    users) — one user-keyed MIN aggregate instead of any week x user
    window; the distinct (user, week) activity table shuffles once on
    user for the first-seen join, and weeks are calendar-bounded.
    """
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.expr("extract(yearofweek from ts)").cast("int").alias("iso_year"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
    ).withColumn("wkey", F.col("iso_year") * 100 + F.col("iso_week"))
    first_seen = wk.groupBy("user_id").agg(F.min("wkey").alias("first_wkey"))
    active = wk.select("user_id", "iso_year", "iso_week", "wkey").distinct()
    joined = active.join(first_seen, "user_id")
    is_new = (F.col("wkey") == F.col("first_wkey")).cast("int")
    return joined.groupBy("iso_year", "iso_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users"),
        F.sum(is_new).cast("bigint").alias("n_new_users"),
        F.sum(1 - is_new).cast("bigint").alias("n_returning_users"),
    )


# --------------------------------------------------------------------------
# customer_revenue_concentration: Pareto / top-decile share
# --------------------------------------------------------------------------


@query(
    "customer_revenue_concentration",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_units
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT rev_units,
               ROW_NUMBER() OVER (ORDER BY rev_units DESC, o_custkey) AS rn,
               COUNT(*) OVER () AS n,
               CAST(SUM(rev_units) OVER () AS BIGINT) AS total
        FROM per_cust
    ),
    deciles AS (
        SELECT CAST(((rn - 1) * 10) // n + 1 AS BIGINT) AS decile,
               rev_units, total
        FROM ranked
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_units) AS BIGINT) AS rev_units,
           CAST(SUM(rev_units) * 1000 // MAX(total) AS BIGINT)
               AS share_permille
    FROM deciles GROUP BY 1
    """,
)
def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: customers ranked by lifetime revenue
    (half-up 1e-4 units) and cut into 10 rank deciles — decile 1 is
    the top 10% of customers — with each decile's exact permille share
    of total revenue. The 80/20 audit behind every account-tiering
    decision; read decile 1's share_permille directly.

    Exactness: deciles by the deterministic ((rn-1)*10) div n rule on
    a unique (revenue DESC, custkey) order; shares are BIGINT floor
    permille.

    Scale: one per-customer aggregate (key shuffle), then a global
    rank over the CUSTOMER grain — the same exact-answer/report-grain
    tradeoff as customer_rfm_segments, with the same documented
    histogram-bucket swap at 100 TB.
    """
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_units(F.col("o_totalprice"))).cast("bigint").alias("rev_units")
    )
    w_rank = Window.orderBy(F.desc("rev_units"), "o_custkey")
    w_all = Window.partitionBy()
    ranked = (
        per_cust.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn("total", F.sum("rev_units").over(w_all).cast("bigint"))
    )
    deciles = ranked.select(
        (F.expr("((rn - 1) * 10) div n") + 1).cast("bigint").alias("decile"),
        "rev_units",
        "total",
    )
    agg = deciles.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_units").cast("bigint").alias("rev_units"),
        F.max("total").alias("total"),
    )
    # widen BEFORE the multiply: rev_units*1000 exceeds int64 at
    # sf ~20-30 ($1e12 revenue in 1e-4 units); the oracle's SUM is
    # HUGEINT, so the engine widens to decimal(38,0) in lockstep.
    # Floor division done EXACTLY as (x - x % total) / total — decimal
    # `div` wraps through long, and a plain decimal divide rounds at
    # scale 6, which could straddle an integer boundary
    num = F.col("rev_units").cast("decimal(38,0)") * F.lit(1000).cast(
        "decimal(38,0)"
    )
    tot = F.col("total").cast("decimal(38,0)")
    return agg.select(
        "decile",
        "n_customers",
        "rev_units",
        ((num - num % tot) / tot).cast("bigint").alias("share_permille"),
    )


# --------------------------------------------------------------------------
# events_rapid_repeat_pairs: bucketized interval SELF-join
# --------------------------------------------------------------------------

_RR_WINDOW_S = 300  # pair horizon: next event within 5 minutes
_RR_WINDOW_US = _RR_WINDOW_S * 1_000_000


@query(
    "events_rapid_repeat_pairs",
    oracle=f"""
    SELECT x.event_id AS first_event_id,
           y.event_id AS next_event_id,
           x.user_id,
           x.event_type AS first_type,
           y.event_type AS next_type,
           (epoch_us(y.ts) - epoch_us(x.ts)) // 1000000 AS gap_s
    FROM events x JOIN events y
      ON x.user_id = y.user_id
     AND (y.ts > x.ts OR (y.ts = x.ts AND y.event_id > x.event_id))
     AND epoch_us(y.ts) - epoch_us(x.ts) <= {_RR_WINDOW_US}
    """,
)
def events_rapid_repeat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-user event pairs within a 5-minute horizon (burst /
    rapid re-engagement detection) — the BUCKETIZED interval self-join
    events_interval_attribution's docstring promises for pathological
    per-user volumes, implemented: time is chunked into horizon-sized
    buckets, the later side probes its own bucket and the previous one
    (a pair within the horizon can only straddle adjacent buckets), so
    the join is EQUI on (user_id, bucket) and each qualifying pair
    matches exactly once — bucket_y == bucket_x matches via y's own-
    bucket probe, bucket_y == bucket_x + 1 via the b-1 probe. The
    within-bucket time/id predicate orders pairs (earlier ts, then
    smaller event_id) so ties are deterministic.

    Scale: never a per-user cross product over the full stream — the
    shuffle key is (user, 5-minute bucket), so a hot user's quadratic
    blowup is bounded per bucket, not per history. Both sides are the
    fact stream (the probe side 2x via the bucket explode): the join
    is merge-hinted so AQE cannot data-size-broadcast either side
    (memory: AQE hazard). The oracle is the plain range self-join —
    an independent algorithm, so parity proves the bucketization
    covers exactly the horizon.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts",
        (F.unix_micros("ts")).alias("us"),
    )
    x = ev.select(
        F.col("event_id").alias("first_event_id"),
        "user_id",
        F.col("event_type").alias("first_type"),
        F.col("us").alias("x_us"),
        F.expr(f"us div {_RR_WINDOW_US}").alias("bucket"),
    )
    y = ev.select(
        F.col("event_id").alias("next_event_id"),
        "user_id",
        F.col("event_type").alias("next_type"),
        F.col("us").alias("y_us"),
        F.explode(
            F.array(
                F.expr(f"us div {_RR_WINDOW_US}"),
                F.expr(f"us div {_RR_WINDOW_US} - 1"),
            )
        ).alias("bucket"),
    )
    return (
        x.hint("merge")
        .join(y, ["user_id", "bucket"])
        .filter(
            (
                (F.col("y_us") > F.col("x_us"))
                | (
                    (F.col("y_us") == F.col("x_us"))
                    & (F.col("next_event_id") > F.col("first_event_id"))
                )
            )
            & (F.col("y_us") - F.col("x_us") <= _RR_WINDOW_US)
        )
        .select(
            "first_event_id",
            "next_event_id",
            "user_id",
            "first_type",
            "next_type",
            F.expr(f"(y_us - x_us) div 1000000").alias("gap_s"),
        )
    )


# --------------------------------------------------------------------------
# customer_ltv_cohort_curve: first-order cohorts x account age
# --------------------------------------------------------------------------


@query(
    "customer_ltv_cohort_curve",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS units
      FROM orders
    ),
    first AS (
      SELECT o_custkey, MIN(midx) AS cohort_idx FROM o GROUP BY 1
    ),
    sizes AS (
      SELECT cohort_idx, COUNT(*) AS n_cohort_customers
      FROM first GROUP BY 1
    ),
    cells AS (
      SELECT f.cohort_idx, o.midx - f.cohort_idx AS age_month,
             COUNT(DISTINCT o.o_custkey) AS n_active_customers,
             SUM(o.units) AS rev_units
      FROM o JOIN first f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_idx, age_month, n_active_customers, rev_units,
             SUM(rev_units) OVER (PARTITION BY cohort_idx
                                  ORDER BY age_month) AS cum_units
      FROM cells
    )
    SELECT CAST((c.cohort_idx - 1) // 12 AS VARCHAR) || '-'
             || lpad(CAST((c.cohort_idx - 1) % 12 + 1 AS VARCHAR), 2, '0')
             AS cohort_month,
           CAST(c.age_month AS BIGINT) AS age_month,
           CAST(s.n_cohort_customers AS BIGINT) AS n_cohort_customers,
           CAST(c.n_active_customers AS BIGINT) AS n_active_customers,
           c.rev_units / 10000.0 AS revenue,
           (c.cum_units // s.n_cohort_customers) / 10000.0
             AS cum_ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort_idx)
    ORDER BY cohort_month, age_month
    """,
)
def customer_ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the growth-accounting rollup
    every subscription/commerce warehouse serves: customers cohorted
    by FIRST-order month, revenue accumulated along account age in
    months, normalized to cumulative LTV per cohort customer. The
    month axis is the integer index year*12 + month on both engines
    (months_between would be fractional in Spark and calendar-boundary
    counting in DuckDB — the integer index sidesteps both), and money
    rides the engine's half-up 1e-4-unit grid with cum-LTV as a single
    integer division per cell.

    Scale: one shuffle keyed by custkey derives first-order months;
    the (cohort, age) cell grid is |months|^2-bounded regardless of
    order volume; the cumulative window runs over that tiny grid, not
    over orders. The cohort-size table is |months| rows and broadcasts
    into the final normalization."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("midx"),
        F.expr("CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)").alias(
            "units"
        ),
    )
    first = o.groupBy("o_custkey").agg(F.min("midx").alias("cohort_idx"))
    sizes = first.groupBy("cohort_idx").agg(
        F.count(F.lit(1)).alias("n_cohort_customers")
    )
    cells = (
        o.join(first, "o_custkey")
        .groupBy("cohort_idx", (F.col("midx") - F.col("cohort_idx")).alias("age_month"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.sum("units").alias("rev_units"),
        )
    )
    w = (
        Window.partitionBy("cohort_idx")
        .orderBy("age_month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("cum_units", F.sum("rev_units").over(w))
    return (
        cum.join(F.broadcast(sizes), "cohort_idx")
        .select(
            # invert midx = year*12 + month via (midx-1): month 12 must
            # not wrap into the next year's -01 (review finding)
            F.concat(
                F.expr("(cohort_idx - 1) div 12").cast("string"),
                F.lit("-"),
                F.lpad(
                    ((F.col("cohort_idx") - 1) % 12 + 1).cast("string"), 2, "0"
                ),
            ).alias("cohort_month"),
            F.col("age_month").cast("bigint"),
            F.col("n_cohort_customers").cast("bigint"),
            F.col("n_active_customers").cast("bigint"),
            (F.col("rev_units") / 10000.0).alias("revenue"),
            # the 10000.0 literal must stay Python-side: inside a SQL
            # expr Spark parses it as DECIMAL(6,1) and the division
            # result would be DECIMAL, not the DOUBLE the oracle emits
            (F.expr("cum_units div n_cohort_customers") / 10000.0).alias(
                "cum_ltv_per_customer"
            ),
        )
        .orderBy("cohort_month", "age_month")
    )


# --------------------------------------------------------------------------
# events_daily_value_percentiles: exact discontinuous percentiles/day
# --------------------------------------------------------------------------


@query(
    "events_daily_value_percentiles",
    oracle="""
    WITH r AS (
      SELECT CAST(ts AS DATE) AS d, value,
             ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY CAST(ts AS DATE)) AS n
      FROM events
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
           MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90,
           MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
    FROM r GROUP BY d
    ORDER BY day
    """,
)
def events_daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day value percentiles (p50/p90/p99) — the EXACT
    complement of the mergeable-histogram percentile serving
    (events_percentiles_from_histogram): discontinuous percentiles
    defined as the value at rank ceil(q*n) under the deterministic
    (value, event_id) order, so both engines pick the same row and the
    DOUBLE passes through untouched — no interpolation, no float
    arithmetic, no tolerance. The ceil is the integer identity
    ceil(a*n/b) = (a*n + b - 1) div b.

    Scale: one shuffle keyed by day; the rank runs inside each day
    partition (a day of events sorts in memory per partition at any
    realistic volume — and the histogram path exists precisely for
    when it does not). percentile_approx/t-digest would be the sketch
    answer; this is the audit-grade exact one."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "value", "event_id"
    )
    w = Window.partitionBy("d").orderBy("value", "event_id")
    r = ev.select(
        "d",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("d")).alias("n"),
    )
    return (
        r.groupBy("d")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
            ).alias("p50"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("value")
                )
            ).alias("p90"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(99 * n + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p99"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_events",
            "p50",
            "p90",
            "p99",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# events_user_lifecycle_weekly: full growth-accounting state machine
# --------------------------------------------------------------------------


@query(
    "events_user_lifecycle_weekly",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
               AS widx
      FROM events
    ),
    gmax AS (SELECT MAX(widx) AS mw FROM act),
    seq AS (
      SELECT user_id, widx,
             LAG(widx) OVER (PARTITION BY user_id ORDER BY widx) AS lagw,
             LEAD(widx) OVER (PARTITION BY user_id ORDER BY widx) AS leadw
      FROM act
    ),
    states AS (
      SELECT widx,
             SUM(CASE WHEN lagw IS NULL THEN 1 ELSE 0 END) AS n_new,
             SUM(CASE WHEN lagw = widx - 1 THEN 1 ELSE 0 END) AS n_retained,
             SUM(CASE WHEN lagw IS NOT NULL AND lagw < widx - 1
                      THEN 1 ELSE 0 END) AS n_resurrected
      FROM seq GROUP BY 1
    ),
    churn AS (
      SELECT widx + 1 AS widx, COUNT(*) AS n_churned
      FROM seq, gmax
      WHERE (leadw IS NULL AND widx < gmax.mw) OR leadw > widx + 1
      GROUP BY 1
    )
    SELECT strftime(DATE '1970-01-05' + INTERVAL (w.widx * 7) DAY,
                    '%Y-%m-%d') AS week_start,
           CAST(COALESCE(s.n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(s.n_retained, 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(s.n_resurrected, 0) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned
    FROM (SELECT widx FROM states UNION SELECT widx FROM churn) w
    LEFT JOIN states s ON s.widx = w.widx
    LEFT JOIN churn c ON c.widx = w.widx
    ORDER BY week_start
    """,
)
def events_user_lifecycle_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full growth-accounting state machine per week: NEW (first
    active week ever), RETAINED (also active the week before),
    RESURRECTED (returning after a gap), CHURNED (active the previous
    week, absent this one — attributed to the week of absence, and
    only for weeks the data can actually see: nobody churns past the
    corpus's last week). Extends events_new_vs_returning_weekly, which
    collapses retained+resurrected into "returning" and cannot see
    churn at all. Weeks are the LINEAR index days-since-1970-01-05
    (a Monday) div 7 — consecutive across year boundaries, where ISO
    year*100+week keys are not, and week-1 arithmetic is the whole
    query.

    Scale: one distinct (user, week) pass, one user-keyed window for
    lag/lead (the same single shuffle the sessionizers pay), calendar-
    bounded aggregates after that. The global max week is a 1-row
    broadcast (NESTED_LOOP_OK)."""
    act = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("datediff(to_date(ts), DATE'1970-01-05') div 7").alias(
                "widx"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("widx")
    seq = act.select(
        "user_id",
        "widx",
        F.lag("widx").over(w).alias("lagw"),
        F.lead("widx").over(w).alias("leadw"),
    )
    states = seq.groupBy("widx").agg(
        F.sum(F.when(F.col("lagw").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("lagw") == F.col("widx") - 1, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("lagw").isNotNull()
                & (F.col("lagw") < F.col("widx") - 1),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    gmax = act.agg(F.max("widx").alias("mw"))
    churn = (
        seq.crossJoin(F.broadcast(gmax))
        .filter(
            (F.col("leadw").isNull() & (F.col("widx") < F.col("mw")))
            | (F.col("leadw") > F.col("widx") + 1)
        )
        .groupBy((F.col("widx") + 1).alias("widx"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    weeks = states.select("widx").unionByName(churn.select("widx")).distinct()
    return (
        weeks.join(states, "widx", "left")
        .join(churn, "widx", "left")
        .select(
            F.date_format(
                F.expr("date_add(DATE'1970-01-05', CAST(widx * 7 AS INT))"),
                "yyyy-MM-dd",
            ).alias("week_start"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.coalesce("n_retained", F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
        )
        .orderBy("week_start")
    )


# --------------------------------------------------------------------------
# part_supplier_concentration: supply-chain concentration audit
# --------------------------------------------------------------------------

_SSR_TOPK = 25


@query(
    "part_supplier_concentration",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                            + 0.5) AS BIGINT)) AS units
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, units,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY units DESC, l_suppkey DESC) AS rn,
             COUNT(*) OVER (PARTITION BY l_partkey) AS n_suppliers,
             SUM(units) OVER (PARTITION BY l_partkey) AS total_units
      FROM ps
    )
    SELECT l_partkey AS partkey,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(l_suppkey AS BIGINT) AS top_suppkey,
           CAST(1000 * units // total_units AS BIGINT)
             AS top_share_permille,
           total_units / 10000.0 AS total_revenue
    FROM ranked WHERE rn = 1
    ORDER BY top_share_permille DESC, total_units DESC, partkey
    LIMIT {_SSR_TOPK}
    """,
)
def part_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration audit: the parts whose revenue is
    most dominated by a single supplier — top supplier's exact integer
    permille share of the part's line revenue, ranked worst-first. The
    procurement twin of join_key_skew_profile: that audit finds hot
    KEYS, this one finds fragile SOURCES (a synthetic-data analog of
    the single-source risk report; this corpus assigns every part 8+
    suppliers, so the interesting signal is concentration, not
    exclusivity). Ties resolve to the larger suppkey on both engines
    (max(struct(units, suppkey)) here, arg_max over the same tuple in
    the oracle).

    Scale: two map-side-combinable aggregates — (part, supplier) then
    (part) — and a TakeOrderedAndProject; revenue rides the half-up
    1e-4-unit grid and the share is one integer division. 1000 *
    top_units stays far inside BIGINT at any realistic SF. No joins;
    the part dimension never loads."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(
        F.sum(
            F.expr(
                "CAST(floor(l_extendedprice * (1 - l_discount) * 10000"
                " + 0.5) AS BIGINT)"
            )
        ).alias("units")
    )
    agg = ps.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("units").alias("total_units"),
        F.max(F.struct(F.col("units"), F.col("suppkey"))).alias("top"),
    )
    return (
        agg.select(
            "partkey",
            "n_suppliers",
            F.col("top.suppkey").cast("bigint").alias("top_suppkey"),
            F.expr("1000 * top.units div total_units")
            .cast("bigint")
            .alias("top_share_permille"),
            (F.col("total_units") / 10000.0).alias("total_revenue"),
            # tiebreak must ride the exact integer, not a double
            # round-trip: int(x/10000.0*10000) != x for many x
            F.col("total_units").alias("_total_units"),
        )
        .orderBy(
            F.desc("top_share_permille"),
            F.desc("_total_units"),
            "partkey",
        )
        .limit(_SSR_TOPK)
        .drop("_total_units")
    )


# --------------------------------------------------------------------------
# nation_trade_balance: two-role revenue netting per nation (r9)
# --------------------------------------------------------------------------


@query(
    "nation_trade_balance",
    oracle=f"""
    WITH exp AS (
      SELECT n.n_name AS nation, SUM({_REV_UNITS_SQL}) AS exp_u
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1
    ),
    imp AS (
      SELECT n.n_name AS nation, SUM({_REV_UNITS_SQL}) AS imp_u
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    )
    SELECT n.n_name AS nation,
           ROUND(COALESCE(e.exp_u, 0) / 10000.0, 4) AS export_revenue,
           ROUND(COALESCE(i.imp_u, 0) / 10000.0, 4) AS import_revenue,
           ROUND((COALESCE(e.exp_u, 0) - COALESCE(i.imp_u, 0)) / 10000.0, 4)
             AS balance,
           CAST(CASE WHEN COALESCE(e.exp_u, 0) + COALESCE(i.imp_u, 0) = 0
                     THEN 0
                     ELSE 1000 * (COALESCE(e.exp_u, 0) - COALESCE(i.imp_u, 0))
                          // (COALESCE(e.exp_u, 0) + COALESCE(i.imp_u, 0))
                END AS BIGINT) AS balance_permille
    FROM nation n
    LEFT JOIN exp e ON e.nation = n.n_name
    LEFT JOIN imp i ON i.nation = n.n_name
    ORDER BY nation
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-role netting audit: every nation's revenue as SELLER
    (its suppliers' lines) vs as BUYER (its customers' orders), the
    net balance, and the exact integer permille of flow imbalance —
    the supply-chain analog of a trade balance sheet. The nation
    dimension appears in both roles of the same fact table, the
    pattern Q7/Q8 exercise pairwise and this query closes globally
    (every nation, both directions, one row each — including nations
    with zero flow).

    Scale: export side is one broadcast-dim aggregation of lineitem;
    import side rides the lineitem-orders key join (co-partitioned
    merge at scale) before its broadcast dims; both reduce to
    25-row frames before the final outer joins. Money on the exact
    1e-4 grid; the permille is integer floor division (DuckDB //
    floors like Spark's floor(double-div) on these magnitudes)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    exp = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("exp_u"))
    )
    imp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("imp_u"))
    )
    base = n.select(F.col("n_name").alias("nation"))
    eu = F.coalesce("exp_u", F.lit(0))
    iu = F.coalesce("imp_u", F.lit(0))
    return (
        base.join(F.broadcast(exp), "nation", "left")
        .join(F.broadcast(imp), "nation", "left")
        .select(
            "nation",
            F.round(eu / 10000.0, 4).alias("export_revenue"),
            F.round(iu / 10000.0, 4).alias("import_revenue"),
            F.round((eu - iu) / 10000.0, 4).alias("balance"),
            eu.alias("eu"),
            iu.alias("iu"),
        )
        # balance can be NEGATIVE: both engines must TRUNCATE toward
        # zero (Spark div == DuckDB // on integers); floor(double-div)
        # would floor toward -inf and drift by 1 on deficits
        .withColumn(
            "balance_permille",
            F.expr(
                "CASE WHEN eu + iu = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(1000 * (eu - iu) div (eu + iu) AS BIGINT) END"
            ),
        )
        .drop("eu", "iu")
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# lineitem_return_rate_by_brand: returns concentration audit (r9)
# --------------------------------------------------------------------------


@query(
    "lineitem_return_rate_by_brand",
    oracle=f"""
    WITH b AS (
      SELECT p.p_brand AS brand,
             COUNT(*) AS n_lines,
             SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS n_returned,
             SUM({_REV_UNITS_SQL}) AS rev_u,
             SUM(CASE WHEN l.l_returnflag = 'R'
                      THEN {_REV_UNITS_SQL} ELSE 0 END) AS ret_u
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT brand,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_returned AS BIGINT) AS n_returned,
           CAST(1000 * n_returned // n_lines AS BIGINT)
             AS return_permille,
           ROUND(rev_u / 10000.0, 4) AS revenue,
           CAST(CASE WHEN rev_u = 0 THEN 0
                     ELSE 1000 * ret_u // rev_u END AS BIGINT)
             AS returned_revenue_permille
    FROM b ORDER BY return_permille DESC, brand
    """,
)
def lineitem_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns-concentration audit: per brand, line and revenue
    return rates as exact integer permille — the quality-escape
    report a merchandiser reads. Detects brands whose returns are
    revenue-skewed (high returned_revenue_permille vs line permille
    means the expensive items come back).

    Scale: one equi-join lineitem-part on the part key (part grows
    with SF — Catalyst picks shuffle strategies at scale, AQE may
    broadcast at test SF; both are correct since neither side is
    hinted into a broadcast it can't afford), then a brand-sized hash
    agg with map-side combine. Permilles are integer divisions of
    exact unit sums."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = _units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ret = F.when(F.col("l_returnflag") == "R", rev).otherwise(F.lit(0))
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returned"),
            F.sum(rev).alias("rev_u"),
            F.sum(ret).alias("ret_u"),
        )
    )
    return b.select(
        "brand",
        F.col("n_lines").cast("bigint"),
        F.col("n_returned").cast("bigint"),
        F.floor(F.lit(1000) * F.col("n_returned") / F.col("n_lines"))
        .cast("bigint")
        .alias("return_permille"),
        F.round(F.col("rev_u") / 10000.0, 4).alias("revenue"),
        F.when(F.col("rev_u") == 0, F.lit(0))
        .otherwise(F.floor(F.lit(1000) * F.col("ret_u") / F.col("rev_u")))
        .cast("bigint")
        .alias("returned_revenue_permille"),
    ).orderBy(F.desc("return_permille"), "brand")


# --------------------------------------------------------------------------
# orders_reorder_interval_stats: repeat-purchase cadence per segment (r9)
# --------------------------------------------------------------------------


@query(
    "orders_reorder_interval_stats",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS gap_days
      FROM orders
    ),
    gaps AS (
      SELECT c.c_mktsegment AS segment, s.o_custkey,
             CAST(s.gap_days AS BIGINT) AS gap_days
      FROM seq s JOIN customer c ON c.c_custkey = s.o_custkey
      WHERE s.gap_days IS NOT NULL
    ),
    ranked AS (
      SELECT segment, gap_days,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY gap_days, o_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM gaps
    )
    SELECT g.segment,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT g.o_custkey) AS BIGINT)
             AS n_repeat_customers,
           ROUND(SUM(g.gap_days) * 1.0 / COUNT(*), 4) AS avg_gap_days,
           CAST(MAX(m.med) AS BIGINT) AS median_gap_days,
           CAST(MAX(g.gap_days) AS BIGINT) AS max_gap_days
    FROM gaps g
    JOIN (SELECT segment, gap_days AS med FROM ranked
          WHERE rn = (n + 1) // 2) m ON m.segment = g.segment
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_reorder_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: per market segment, the gaps between
    each customer's consecutive orders — repeat-customer count,
    mean/lower-median/max gap in whole days. The lag window runs per
    customer (narrow partitions, no global sort); the median is the
    exact lower-median integer under the pinned (gap, custkey) order,
    never a percentile_approx.

    Scale: one orders scan with a per-customer window, one broadcast
    customer-dim join for the segment, a segment-sized agg. Gap days
    are exact integers; only the mean divides (identical integers on
    both engines, ROUND 4)."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    gaps = seq.join(F.broadcast(c), seq.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.col("gap_days").cast("bigint").alias("gap_days"),
    )
    wr = Window.partitionBy("segment").orderBy("gap_days", "o_custkey")
    wn = Window.partitionBy("segment")
    med = (
        gaps.withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("segment", F.col("gap_days").alias("med"))
    )
    return (
        gaps.join(F.broadcast(med), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.countDistinct("o_custkey")
            .cast("bigint")
            .alias("n_repeat_customers"),
            F.round(F.sum("gap_days") * 1.0 / F.count(F.lit(1)), 4).alias(
                "avg_gap_days"
            ),
            F.max("med").cast("bigint").alias("median_gap_days"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# customer_balance_deciles: exact account-balance deciles (r9)
# --------------------------------------------------------------------------


@query(
    "customer_balance_deciles",
    oracle="""
    WITH u AS (
      SELECT c_mktsegment AS segment, c_custkey,
             CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) AS bal_u
      FROM customer
    ),
    ranked AS (
      SELECT segment, bal_u,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY bal_u, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM u
    ),
    d AS (SELECT CAST(r.range AS INT) + 1 AS decile FROM range(10) r)
    SELECT r.segment, d.decile,
           MAX(r.n) AS n_customers,
           ROUND(MAX(r.bal_u) / 10000.0, 4) AS decile_balance
    FROM ranked r JOIN d
      ON r.rn = (d.decile * r.n + 9) // 10
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact account-balance deciles per market segment: decile d is
    the balance at rank ceil(d*n/10) under the pinned (balance,
    custkey) order — the discontinuous-percentile discipline (never
    percentile_approx, never interpolation), on the half-up 1e-4
    money grid.

    Scale: one window over segment partitions (5-way), a 10-row
    decile explode joined on the computed rank — only rank-hit rows
    survive the join, so the output is 50 rows regardless of
    corpus size."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    u = c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        _units(F.col("c_acctbal")).alias("bal_u"),
    )
    wr = Window.partitionBy("segment").orderBy("bal_u", "c_custkey")
    ranked = u.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("segment"))
    )
    d = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    return (
        ranked.join(
            F.broadcast(d),
            ranked.rn == F.expr("(decile * n + 9) div 10"),
        )
        .groupBy("segment", "decile")
        .agg(
            F.max("n").alias("n_customers"),
            F.round(F.max("bal_u") / 10000.0, 4).alias("decile_balance"),
        )
        .orderBy("segment", "decile")
    )


# --------------------------------------------------------------------------
# nation_ship_latency_p90: fulfillment tail latency per supplier nation
# --------------------------------------------------------------------------


@query(
    "nation_ship_latency_p90",
    oracle="""
    WITH lat AS (
      SELECT n.n_name AS nation,
             CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS latency_days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    ranked AS (
      SELECT nation, latency_days,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY latency_days, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS n
      FROM lat
    )
    SELECT l.nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.latency_days) * 1.0 / COUNT(*), 4)
             AS avg_latency_days,
           CAST(MAX(p.p90) AS BIGINT) AS p90_latency_days,
           CAST(MAX(l.latency_days) AS BIGINT) AS max_latency_days
    FROM lat l
    JOIN (SELECT nation, latency_days AS p90 FROM ranked
          WHERE rn = (9 * n + 9) // 10) p ON p.nation = l.nation
    GROUP BY 1 ORDER BY 1
    """,
)
def nation_ship_latency_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment tail latency: per supplier nation, the exact p90
    of order-to-ship days (rank ceil(0.9*n) under the pinned
    (latency, orderkey, linenumber) order) next to mean and max —
    the SLA report where the tail, not the average, is the story.

    Scale: the lineitem-orders key join is the one fact-fact edge
    (co-partitioned merge at scale); supplier and nation broadcast;
    the rank window partitions by 25 nations over integer day values.
    Only the mean divides — identical integers on both engines."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.datediff("l_shipdate", "o_orderdate")
            .cast("bigint")
            .alias("latency_days"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wr = Window.partitionBy("nation").orderBy(
        "latency_days", "l_orderkey", "l_linenumber"
    )
    p90 = (
        lat.withColumn("rn", F.row_number().over(wr))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("nation"))
        )
        .filter(F.col("rn") == F.expr("(9 * n + 9) div 10"))
        .select("nation", F.col("latency_days").alias("p90"))
    )
    return (
        lat.join(F.broadcast(p90), "nation")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum("latency_days") * 1.0 / F.count(F.lit(1)), 4
            ).alias("avg_latency_days"),
            F.max("p90").cast("bigint").alias("p90_latency_days"),
            F.max("latency_days").cast("bigint").alias("max_latency_days"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# events_user_value_gini: value-concentration coefficient per type (r9)
# --------------------------------------------------------------------------


@query(
    "events_user_value_gini",
    oracle="""
    WITH uv AS (
      SELECT event_type, user_id,
             SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM uv
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_users,
           ROUND(SUM(x) / 10000.0, 4) AS total_value,
           CAST(CASE WHEN SUM(x) = 0 THEN 0
                ELSE 1000 * (2 * SUM(i * x) - (MAX(n) + 1) * SUM(x))
                     // (MAX(n) * SUM(x)) END AS BIGINT)
             AS gini_permille
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def events_user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration audit: per event type, the exact Gini
    coefficient of per-user value mass (the rank-sum identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    (value, user_id) ranks), as integer permille — the whale-vs-
    long-tail report. Permille (not ppm) keeps the scaled numerator
    far inside int64 at any corpus size this side of 2^63 micro-
    units.

    Scale: per-user sums are one map-side-combinable groupBy; the
    rank window partitions by event type over user-sized frames; the
    final agg is type-sized. All integer math until the one display
    division."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    uv = ev.groupBy("event_type", "user_id").agg(
        F.sum(
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
        ).alias("x")
    )
    wr = Window.partitionBy("event_type").orderBy("x", "user_id")
    wn = Window.partitionBy("event_type")
    ranked = uv.withColumn("i", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_users"),
            F.round(F.sum("x") / 10000.0, 4).alias("total_value"),
            F.sum(F.col("i") * F.col("x")).alias("six"),
            F.sum("x").alias("sx"),
            F.max("n").alias("nn"),
        )
        .withColumn(
            "gini_permille",
            F.expr(
                "CASE WHEN sx = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(1000 * (2 * six - (nn + 1) * sx) "
                "div (nn * sx) AS BIGINT) END"
            ),
        )
        .select(
            "event_type", "n_users", "total_value", "gini_permille"
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# market_basket_lift_topk: statistical lift over co-occurrence (r9)
# --------------------------------------------------------------------------

_LIFT_MIN_PAIRS = 3


@query(
    "market_basket_lift_topk",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM op),
    pc AS (SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS pair_count
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b,
           CAST(p.pair_count AS BIGINT) AS pair_count,
           CAST(ca.cnt AS BIGINT) AS count_a,
           CAST(cb.cnt AS BIGINT) AS count_b,
           CAST(1000000 * p.pair_count * nb.n_baskets
                // (ca.cnt * cb.cnt) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN nb
    WHERE p.pair_count >= {_LIFT_MIN_PAIRS}
    ORDER BY lift_micro DESC, part_a, part_b
    LIMIT 20
    """,
)
def market_basket_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket LIFT: co-occurrence normalized by marginal
    popularity — lift = P(a,b) / (P(a) * P(b)) as the exact integer
    micro-ratio pair*n_baskets*1e6 // (cnt_a*cnt_b) — so the ranking
    surfaces genuinely associated pairs instead of merely popular
    ones (the flaw in raw pair counts). A support floor
    (pair_count >= 3) keeps one-off coincidences out of the top-20.

    Scale: reuses the basket-HOF pair expansion (no second shuffle of
    the order-part table); part marginals are a part-sized agg that
    broadcasts back onto the pair stream; the basket total is a 1-row
    literal-broadcast. Integer cross-multiplies everywhere — no float
    enters the ordering (pair*n <= 2^63/1e6 comfortably)."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    baskets = op.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("pk")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.when(
                    F.size("pk") >= 2,
                    F.expr(
                        """
                        flatten(transform(sequence(0, size(pk) - 2), i ->
                            transform(sequence(i + 1, size(pk) - 1), j ->
                                struct(pk[i] AS part_a, pk[j] AS part_b))))
                        """
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<part_a: BIGINT, part_b: BIGINT>>)"))
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= _LIFT_MIN_PAIRS)
    )
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    nb = op.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    ca = pc.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("count_a")
    )
    cb = pc.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("count_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            F.col("pair_count").cast("bigint"),
            F.col("count_a").cast("bigint"),
            F.col("count_b").cast("bigint"),
            F.expr(
                "CAST(1000000 * pair_count * n_baskets "
                "div (count_a * count_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# events_dau_wau_stickiness: engagement ratio per day (r9)
# --------------------------------------------------------------------------


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH au AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM au),
    dau AS (SELECT d, COUNT(*) AS dau FROM au GROUP BY 1),
    wau AS (
      SELECT days.d, COUNT(DISTINCT au.user_id) AS wau
      FROM days JOIN au
        ON au.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY 1
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(1000 * dau.dau // wau.wau AS BIGINT)
             AS stickiness_permille
    FROM dau JOIN wau ON wau.d = dau.d
    ORDER BY day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAU/WAU stickiness ratio per day (exact integer permille)
    — the engagement metric growth teams watch; 1000 = every weekly
    user shows up daily. WAU is the exact 7-day trailing distinct
    count (the events_rolling_7d_active_users kernel), joined back to
    the same-day DAU.

    Scale: distinct (day, user) pairs are one map-side-combinable
    shuffle; WAU comes from a 7-offset EXPLODE of those distincts
    (each active day contributes itself to the next 7 windows) into
    one countDistinct per window day — an equi aggregation, never an
    interval join or a row-level window over the raw event stream.
    Trailing edge windows (the first 6 days) are exact; only window
    days that themselves saw traffic are reported, same as the
    oracle's day list."""
    ev = table(spark, sf_dir, "events")
    au = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = au.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        au.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("k"),
            "d",
            "user_id",
        )
        .select(F.date_add("d", F.col("k")).alias("d"), "user_id")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint"),
            F.col("wau").cast("bigint"),
            F.expr("CAST(1000 * dau div wau AS BIGINT)").alias(
                "stickiness_permille"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_kmv_set_ops — KMV/theta-sketch set algebra between event
# types: union, intersection, and Jaccard from merged k-minimum-values
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_RANGE = 1_152_921_504_606_846_976  # 2^60, the 15-hex-digit hash range


@query(
    "events_kmv_set_ops",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    tp AS (SELECT DISTINCT event_type FROM d),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM tp a JOIN tp b ON a.event_type < b.event_type
    ),
    u AS (
      SELECT p.type_a, p.type_b, d.h,
             MAX(CASE WHEN d.event_type = p.type_a THEN 1 ELSE 0 END) AS ina,
             MAX(CASE WHEN d.event_type = p.type_b THEN 1 ELSE 0 END) AS inb
      FROM pr p JOIN d ON d.event_type IN (p.type_a, p.type_b)
      GROUP BY p.type_a, p.type_b, d.h
    ),
    ranked AS (
      SELECT type_a, type_b, h, ina, inb,
             ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
      FROM u
    ),
    m AS (
      SELECT type_a, type_b, COUNT(*) AS n_m, MAX(h) AS h_k,
             SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS n_both
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY type_a, type_b
    ),
    ex AS (
      SELECT type_a, type_b,
             SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
               AS n_exact_inter
      FROM u GROUP BY type_a, type_b
    )
    SELECT m.type_a, m.type_b,
           CAST(m.n_both AS BIGINT) AS sketch_common,
           ROUND(CASE WHEN m.n_m < {_KMV_K} THEN m.n_m * 1.0
                      ELSE {_KMV_K - 1}.0 * {_KMV_RANGE} / m.h_k
                 END, 4) AS union_est,
           ROUND(m.n_both * 1.0 / m.n_m, 4) AS jaccard_est,
           ROUND((m.n_both * 1.0 / m.n_m)
                 * (CASE WHEN m.n_m < {_KMV_K} THEN m.n_m * 1.0
                         ELSE {_KMV_K - 1}.0 * {_KMV_RANGE} / m.h_k END), 4)
               AS inter_est,
           CAST(ex.n_exact_inter AS BIGINT) AS n_exact_inter
    FROM m JOIN ex USING (type_a, type_b)
    ORDER BY m.type_a, m.type_b
    """,
)
def events_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta-style) sketch SET ALGEBRA between per-event-type
    user populations: for every type pair, merge the two hash sets,
    keep the k=64 smallest of the union, and read off union
    cardinality ((k-1)*2^60/h_k), Jaccard (fraction of the merged
    sketch present in both sets — the classic KMV Jaccard estimator),
    and intersection (Jaccard x union). The exact intersection rides
    along to exhibit the sketch error, as events_kmv_distinct_estimate
    does for plain cardinality.

    Why it matters at 100 TB: "users who did X AND Y" is an
    intersection of two billion-row distinct sets; sketches answer it
    from two k-row states that merge associatively — this query IS
    the merge algebra, oracle-checked exactly because KMV is an order
    statistic of a deterministic hash (bit-identical across engines).

    Scale: ONE distinct over (type, user-hash), pairs fan out via a
    10-row broadcast, the rank<=k filter compiles to WindowGroupLimit
    (every partition keeps a 64-row heap). The exact-intersection leg
    is test-SF-only exhibit; production drops it."""
    ev = table(spark, sf_dir, "events")
    h = TX.md5_prefix_hash(F.col("user_id").cast("string"), hex_chars=15).alias(
        "h"
    )
    d = ev.select("event_type", h).distinct()
    tp = d.select("event_type").distinct()
    pr = (
        tp.select(F.col("event_type").alias("type_a"))
        .join(
            tp.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    u = (
        d.join(
            F.broadcast(pr),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("type_a"), 1).otherwise(0)
            ).alias("ina"),
            F.max(
                F.when(F.col("event_type") == F.col("type_b"), 1).otherwise(0)
            ).alias("inb"),
        )
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    m = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_m"),
            F.max("h").alias("h_k"),
            F.sum(
                F.when((F.col("ina") == 1) & (F.col("inb") == 1), 1).otherwise(0)
            ).alias("n_both"),
        )
    )
    ex = u.groupBy("type_a", "type_b").agg(
        F.sum(
            F.when((F.col("ina") == 1) & (F.col("inb") == 1), 1).otherwise(0)
        ).alias("n_exact_inter")
    )
    union_est = F.when(
        F.col("n_m") < _KMV_K, F.col("n_m") * 1.0
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(_KMV_RANGE) / F.col("h_k"))
    jac = F.col("n_both") * 1.0 / F.col("n_m")
    return (
        m.join(ex, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("sketch_common"),
            F.round(union_est, 4).alias("union_est"),
            F.round(jac, 4).alias("jaccard_est"),
            F.round(jac * union_est, 4).alias("inter_est"),
            F.col("n_exact_inter").cast("bigint").alias("n_exact_inter"),
        )
        .orderBy("type_a", "type_b")
    )
