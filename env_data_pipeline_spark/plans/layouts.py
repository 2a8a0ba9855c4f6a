"""Partition-layout-backed queries: plans whose SCALE story is the
physical data layout, not the operator tree.

The reference engine's directory-per-product raster layout (LANDFIRE
containers) already demonstrates STATIC pruning — a literal filter on
the partition column skips directories at plan time. What a 100 TB
fact table additionally needs is DYNAMIC partition pruning (DPP):
when the partition values to keep are only known at runtime (they
come out of a filtered dimension join), Catalyst injects a
``dynamicpruningexpression`` into the fact scan's PartitionFilters —
the fact side reads 3 of ~80 month directories instead of all of
them, and the pruning subquery REUSES the already-broadcast dim.
``tests/test_physical_plans.py`` pins that expression in the plan,
next to the existing runtime bloom-filter pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures

# The quarter whose months the dim side selects at runtime; this
# corpus's order dates span 1995-01 .. 2001-08.
_DPP_YEAR = 1996
_DPP_QUARTER = 1


@query(
    "lineitem_dpp_month_revenue",
    oracle=f"""
    {duck_with("lineitem_by_month")}
    , dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
      FROM orders
      WHERE date_part('year', o_orderdate) = {_DPP_YEAR}
        AND date_part('quarter', o_orderdate) = {_DPP_QUARTER}
    )
    SELECT f.ship_month,
           COUNT(*) AS n_lines,
           SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                          + 0.5) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem_by_month f JOIN dim USING (ship_month)
    GROUP BY 1
    ORDER BY 1
    """,
)
def lineitem_dpp_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue restricted to a runtime-selected month set:
    the fact is the hive-partitioned ``lineitem_by_month`` layout
    (~80 ship-month directories), the dim is the distinct months of a
    quarter's ORDERS — known only after filtering, so static pruning
    cannot apply. Catalyst's dynamic partition pruning turns the
    broadcast dim into a partition filter on the fact scan: 3 of ~80
    directories are read, and the DPP subquery reuses the join's
    broadcast exchange (plan-pinned). At 100 TB this is the difference
    between scanning a week and scanning seven years.

    Money rides the half-up 1e-4 grid (sum exact integers, divide
    once at the end) so the value hash is float-order-proof."""
    (fact,) = ensure_fixtures(spark, sf_dir, ("lineitem_by_month",))
    dim = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.year("o_orderdate") == _DPP_YEAR)
            & (F.quarter("o_orderdate") == _DPP_QUARTER)
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(
                    F.expr(
                        "CAST(floor(l_extendedprice * (1 - l_discount)"
                        " * 10000 + 0.5) AS BIGINT)"
                    )
                )
                / 10000.0
            ).alias("revenue"),
        )
        .orderBy("ship_month")
    )
