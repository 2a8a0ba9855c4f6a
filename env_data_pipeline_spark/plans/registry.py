"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

Every implemented operator from SURVEY.md §2 registers here with
``@query``. The Spark callable takes ``(spark, sf_dir)`` and returns a
DataFrame; the oracle is ANSI SQL DuckDB runs on the same parquet
tables (views: region nation customer supplier part orders lineitem
events documents embeddings). Column names/aliases MUST match between
the two sides — the driver sorts columns by name before hashing.

Queries whose semantics are not SQL-expressible register with
``oracle=None`` and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}
# query names plan modules nominate for the bench headline set
BENCH_EXTRA: set[str] = set()
# BENCH_EXTRA members that re-run TRAINING inside the query (the
# inline-train oracle baselines of the _served pair): bench.py times
# these in their own labeled tier, never the serving headline —
# production trains offline once, so a headline that re-times Lloyd
# iterations per serve measures the wrong thing (VERDICT r11 item 3)
BENCH_TRAINING: set[str] = set()


def query(name: str, oracle: str | None) -> Callable[[SparkQuery], SparkQuery]:
    """Register a named query with its DuckDB oracle SQL."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every plan module so registrations run."""
    # Imports are side-effecting registrations; keep the list explicit
    # so a broken module fails loudly, not silently missing queries.
    import env_data_pipeline_spark.plans.llmops  # noqa: F401
    import env_data_pipeline_spark.plans.vectorops  # noqa: F401
    import env_data_pipeline_spark.plans.incremental  # noqa: F401
    import env_data_pipeline_spark.plans.extensions  # noqa: F401
    import env_data_pipeline_spark.plans.collect  # noqa: F401
    import env_data_pipeline_spark.plans.streaming_queries  # noqa: F401
    import env_data_pipeline_spark.plans.raster  # noqa: F401
    import env_data_pipeline_spark.plans.envpipe  # noqa: F401
    import env_data_pipeline_spark.plans.relational  # noqa: F401
    import env_data_pipeline_spark.plans.relational_ext  # noqa: F401
    import env_data_pipeline_spark.plans.relational_sub  # noqa: F401
    import env_data_pipeline_spark.plans.textstats  # noqa: F401
    import env_data_pipeline_spark.plans.bpetrain  # noqa: F401
    import env_data_pipeline_spark.plans.qualityclf  # noqa: F401
    import env_data_pipeline_spark.plans.graphops  # noqa: F401
    import env_data_pipeline_spark.plans.statmining  # noqa: F401
    import env_data_pipeline_spark.plans.integrity  # noqa: F401
    import env_data_pipeline_spark.plans.entityres  # noqa: F401
    import env_data_pipeline_spark.plans.layouts  # noqa: F401
    import env_data_pipeline_spark.plans.corpusfilters  # noqa: F401
