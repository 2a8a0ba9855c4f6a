"""Catalog: read the deterministic test tables.

The driver-generated tables (TESTDATA.md) are the engine's base
relations. ``table`` reads one as a Parquet scan (columnar,
pushdown-capable). What the engine knows about a base-table file comes
from one footer record per on-disk version (``_footer``): the Spark
schema, inferred once with one job, and the row-group and row counts.
Every read passes that schema, so a warm read runs no Spark job.
``register_views`` exposes all tables to spark.sql under their DuckDB
names; only a fixture snapshot build (fixtures.py) needs that, because
the fixture SQL is shared verbatim with the DuckDB oracle. Plans get
fixtures as DataFrames from ``ensure_fixtures``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# Layout-adaptive scan-parallelism floor (optimization guide §2.5:
# "input skew — one huge unsplittable file … otherwise repartition
# immediately after the read"). The driver's test tables are written
# as a SINGLE parquet row group per file, and parquet cannot split a
# row group across tasks — so without this, every scan and every
# pre-shuffle kernel fused into it (shingle/gram md5, minhash partial
# aggregation, per-component vector math) runs as ONE task no matter
# how many cores the session has. When an opted-in table's files
# expose fewer row groups than the session's parallelism,
# hash-repartition on the table's primary key right after the read,
# restoring the map-side parallelism the same plan has at production
# scale — where the files carry thousands of row groups and this rule
# is a no-op (rgs >= parallelism short-circuits before any shuffle is
# added). Hash-by-unique-key, not round-robin: assignment is
# deterministic under task retry without round-robin's
# sort-before-repartition pass, and a downstream groupBy on the same
# key reuses the exchange. Only ``documents`` is mapped: it is the one
# table whose readers run a heavy map kernel above the scan (the
# callers that pass ``parallel=True``).
#
# OPT-IN per call site (``table(..., parallel=True)``), not blanket:
# measured per-task fixed cost on this host is ~50 ms (codegen
# pipeline init + scheduling), so the floor only pays where the
# map-side work above the scan is genuinely heavy (the md5 shingle /
# gram kernels: 0.4-2 s of single-thread CPU); applying it to
# light-map scans (k-means iteration inputs, plain relational
# aggregates) multiplied total CPU several-fold for zero wall win in
# the r12 A/B.
# ---------------------------------------------------------------------------

_FACT_SCAN_KEYS = {"documents": "doc_id"}
# floor on rows per task so the floor never manufactures near-empty
# tasks at tiny SFs (scheduling overhead would then exceed the work).
# 64 keeps the floor firing from sf0.01 up for the document corpus, so
# the sf0.01->sf0.1 shuffle-growth pins (tests/test_shuffle_metrics)
# see the floor exchange on BOTH tiers — linear in data, as at scale
# (where the rule is a no-op entirely).
_SCAN_FLOOR_ROWS_PER_TASK = 64


class _Footer(NamedTuple):
    schema: StructType
    row_groups: int
    rows: int


# (path, size, mtime_ns) -> footer record. Keyed on the file's size and
# mtime, NOT the path alone, because the test tables are regenerated in
# place: a session that outlives a refresh must re-probe, or it would
# read with the stale schema (same signature discipline as
# fixtures._source_signature).
_FOOTERS: dict[tuple[str, int, int], _Footer] = {}


def _footer(spark: SparkSession, path: str) -> _Footer:
    """The footer record of one base-table file (or directory of
    files), probed once per on-disk version: one schema-inference job,
    then a pyarrow read of the row-group and row counts.

    A TIMESTAMP(NANOS) column only resolves under the ``nanosAsLong``
    legacy flag (as ``bigint``), so the nanos resolution error sets the
    flag and infers again. A missing file raises Spark's PATH_NOT_FOUND
    error (bench.py's x10 tier skips on it); any other failure
    propagates. A failed probe is not recorded."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        spark.read.parquet(path)  # raises AnalysisException(PATH_NOT_FOUND)
        raise
    key = (path, st.st_size, st.st_mtime_ns)
    hit = _FOOTERS.get(key)
    if hit is not None:
        return hit
    try:
        schema = spark.read.parquet(path).schema
    except Exception as ex:
        msg = str(ex)
        if "NANOS" not in msg and "Illegal Parquet type" not in msg:
            raise
        _read_nanos_as_long(spark)
        schema = spark.read.parquet(path).schema
    import pyarrow.parquet as pq

    if os.path.isdir(path):  # a Spark-written table (the scale tiers)
        files = [
            os.path.join(path, fn)
            for fn in sorted(os.listdir(path))
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]
    else:
        files = [path]
    mds = [pq.ParquetFile(f).metadata for f in files]
    rec = _Footer(
        schema, sum(md.num_row_groups for md in mds), sum(md.num_rows for md in mds)
    )
    _FOOTERS[key] = rec
    return rec


def _read_nanos_as_long(spark: SparkSession) -> None:
    # Session-wide by necessity: nanosAsLong is a SQL conf, not a
    # per-read datasource option. It only changes how physical
    # TIMESTAMP(NANOS) columns resolve, so micros/timestamp co-reads on
    # the same session are unaffected — pinned by
    # tests/test_testdata_contract.py::
    # test_nanos_flag_does_not_disturb_micros_coread.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _with_scan_parallelism(spark: SparkSession, df: DataFrame, path: str, key_col: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    rec = _footer(spark, path)
    target = min(par, rec.rows // _SCAN_FLOOR_ROWS_PER_TASK)
    if rec.row_groups >= par or target <= rec.row_groups:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key_col))


def events_ts_vintage(spark: SparkSession, sf_dir: str) -> str:
    """Raw Spark dtype of ``events.ts`` as written on disk.

    The driver's testdata has shipped two vintages: TIMESTAMP(NANOS)
    (which Spark only reads with the ``nanosAsLong`` legacy flag, as
    ``bigint``) and TIMESTAMP(MICROS) (read natively as
    ``timestamp_ntz``). Probe the file instead of hard-coding one
    vintage so a testdata refresh cannot silently break every
    events-derived fixture again.
    """
    schema = _footer(spark, os.path.join(sf_dir, "events.parquet")).schema
    return schema["ts"].dataType.simpleString()


def read_events(
    spark: SparkSession, sf_dir: str, read: Callable[[StructType], DataFrame]
) -> DataFrame:
    """``events`` with ``ts`` normalized to session-TZ TimestampType,
    whatever the on-disk vintage (see ``events_ts_vintage``). ``read``
    opens the file, as a batch or a streaming source, given its
    on-disk schema."""
    from pyspark.sql import functions as F

    schema = _footer(spark, os.path.join(sf_dir, "events.parquet")).schema
    vintage = events_ts_vintage(spark, sf_dir)
    if vintage == "bigint":
        # the record may come from another session's probe
        _read_nanos_as_long(spark)
        # integer `div`, not `/`: float division loses precision at 1e18 ns
        return read(schema).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if vintage == "timestamp_ntz":
        # wall-clock-preserving cast; UTC session TZ keeps epoch
        # semantics aligned with the oracle as well
        return read(schema).withColumn("ts", F.col("ts").cast("timestamp"))
    return read(schema)


def table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Parquet scan of one base table — no caching, Catalyst prunes/pushes.

    ``events.ts`` is normalized to session-TZ TimestampType whatever
    the on-disk vintage (see ``events_ts_vintage``); sessions pin the
    TZ to UTC so wall-clock values match the DuckDB oracle's naive
    timestamps.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, sf_dir, lambda s: spark.read.schema(s).parquet(path))
    df = spark.read.schema(_footer(spark, path).schema).parquet(path)
    key_col = _FACT_SCAN_KEYS.get(name) if parallel else None
    if key_col is not None:
        df = _with_scan_parallelism(spark, df, path, key_col)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table as a temp view named exactly as in the
    DuckDB oracle, so dialect-common SQL runs on both engines."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_query_views(
    spark: SparkSession, sf_dir: str, names: list[str]
) -> list[str]:
    """Expose the named engine queries as SQL temp views (view name =
    query name), so users compose plain spark.sql over them — e.g.
    ``SELECT * FROM revenue_by_region WHERE revenue > 1e6``. A lazy
    builder's view is a logical plan: Catalyst fuses the user's SQL
    with the query plan (filters push INTO the view) and nothing
    materializes until an action. Some builders are not lazy
    (``streaming_*`` queries run a full replay; training and iterative
    queries materialize their lineage cuts, each ``localCheckpoint``
    running its jobs when it is called), so the caller names what it
    wants.
    Returns the names registered."""
    from env_data_pipeline_spark.plans import registry

    registry.load_all()
    registered = []
    for name in names:
        registry.QUERIES[name](spark, sf_dir).createOrReplaceTempView(name)
        registered.append(name)
    return registered
