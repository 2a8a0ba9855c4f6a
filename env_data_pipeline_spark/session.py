"""SparkSession factory.

Single place where execution-engine knobs are set, so tests, bench
and the driver contract all run the same configuration.

Scale posture (local[N] today, 1000-executor cluster tomorrow):
- AQE on: runtime join-strategy switching, skew-join splitting and
  partition coalescing replace hand-tuned shuffle counts at scale.
- Arrow on: every Pandas-UDF boundary (raster kernels, MinHash,
  embedding ops) is vectorized batch transfer, not per-row pickle.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden per-job (or left to AQE's coalescing).
- session timezone pinned to UTC so timestamp semantics agree with
  the DuckDB oracle and are cluster-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_size(environ=os.environ, mem_total_kib: int | None = None) -> tuple[int, str]:
    """(local cores, driver heap): ``$SPARK_GRAFT_CPUS`` /
    ``$SPARK_GRAFT_DRIVER_MEM`` when set, else the CPUs this process
    may run on and a quarter of MemTotal (at least 512m). The quarter
    leaves the rest of the host to the JVM's off-heap use, the Python
    driver and workers, and the page cache."""
    cpus = int(environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    heap = environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not heap:
        if mem_total_kib is None:
            mem_total_kib = host_mem_kib()
        heap = f"{max(mem_total_kib // 4 // 1024, 512)}m"
    return cpus, heap


def host_mem_kib() -> int:
    """This host's MemTotal in KiB, the RAM ``host_size`` sizes the heap from."""
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))


def get_spark(app_name: str = "env_data_pipeline_spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    n, heap = host_size()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        # UI on a random free port: the status store behind its REST API
        # is how bench.py, the shuffle-pin tests and scripts/qprofile.py
        # read per-stage figures and shuffle read/write bytes
        # (observe.observe) — the bytes that prove the broadcast/bucketed
        # plan claims.
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
