"""Simulate the round driver: drive __spark_entry__.py from a neutral
cwd with a plain SparkSession, compare every query against its DuckDB
oracle at sf0.01 (rows-only where no oracle), and report failures.

Usage:  python scripts/verify_driver_contract.py [sf_dir] [name_substr ...]
Exit code 0 = every check passed. Optional name substrings restrict
the run to matching queries (entry() still runs). A lost JVM stops the
sweep: it is reported as one failure of the query it happened in, and
the queries after it are listed as not run.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import sys
from collections.abc import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jvm_lost(ex: BaseException | None) -> bool:
    """True if ``ex`` (or what caused it) is a dead py4j gateway."""
    from py4j.protocol import Py4JNetworkError

    while ex is not None:
        if isinstance(ex, (Py4JNetworkError, ConnectionError)):
            return True
        ex = ex.__cause__ or ex.__context__
    return False


def sweep(
    names: list[str], check: Callable[[str], None]
) -> tuple[list[str], list[str]]:
    """Run ``check`` on each name in order and return (failed, not run).
    A failure is printed and the sweep goes on, unless it shows the JVM
    is gone: every later check would only fail to connect, so the sweep
    stops there and returns the names it did not reach."""
    fails = []
    for i, name in enumerate(names):
        try:
            check(name)
        except Exception as ex:  # noqa: BLE001 - report and continue
            fails.append(name)
            if _jvm_lost(ex):
                print(f"{name}: FAIL JVM lost: {str(ex)[:300]}")
                return fails, names[i + 1 :]
            print(f"{name}: FAIL {str(ex)[:300]}")
    return fails, []


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.chdir("/tmp")  # neutral cwd: catches repo-relative assumptions

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # default driver heap ON PURPOSE: the oracle compare streams
        # results via toLocalIterator (tests/oracle.py), so even the
        # widest sf0.1 result (landfire_viz_arrays, 225k JSON-array
        # rows) must pass without a memory carve-out. The synthetic
        # tables compress ~100:1, so byte-based defaults (128m splits,
        # 4m file-open cost, 64m AQE advisory) pack that result into a
        # few partitions whose toLocalIterator task results overflow
        # the 1 GB heap (OutOfMemoryError). Smaller split/advisory
        # targets keep every task's result heap-friendly.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "65536")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = len(mod.entry(spark).collect())
    print(f"entry rows: {n}")
    assert n >= 0

    sys.path.insert(0, REPO)
    from tests.oracle import compare

    qs, oracles = mod.queries(), mod.oracle_sql()
    if len(sys.argv) > 2:
        pats = sys.argv[2:]
        qs = {n_: f for n_, f in qs.items() if any(p in n_ for p in pats)}
        if not qs:
            print(f"no queries match {pats!r} — nothing was verified")
            return 1

    def check(name: str) -> None:
        try:
            if name in oracles:
                compare(spark, name, qs[name], oracles[name], sf)
            else:
                qs[name](spark, sf).count()
        finally:
            # Collect dead broadcast/shuffle state between queries: on
            # the default 1 GB heap a long sweep otherwise accretes
            # residue until a wide query (landfire_viz_arrays at sf0.1)
            # tips over — it passes solo, so the margin is residue, not
            # the plan. Python gc FIRST: py4j holds JVM-side references
            # for every DataFrame/Column the compare touched until
            # Python finalizers send their detach commands — a JVM
            # System.gc() alone cannot free what Python still pins. A
            # JVM that died in this query fails the call, so the loss
            # is charged to this query.
            gc.collect()
            spark.sparkContext._jvm.System.gc()

    fails, not_run = sweep(sorted(qs), check)
    print(
        f"checked {len(qs) - len(not_run)} queries; "
        f"FAILURES: {fails if fails else 'none'}"
    )
    if not_run:
        print(f"NOT RUN after the JVM was lost ({len(not_run)}): {' '.join(not_run)}")
    art = os.environ.get("SPARK_GRAFT_VERIFY_ARTIFACT")
    if art:
        # committed sweep record (VERDICT r10 item 7): which queries
        # were verified green against their oracles at this sf_dir —
        # asserted against the registry by tests/test_bench_contract.py
        import json

        with open(art, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf,
                    "checked": len(qs) - len(not_run),
                    "oracle_backed": sum(1 for q in qs if q in oracles),
                    "failures": fails,
                    "not_run": not_run,
                    "queries": {
                        q: (
                            "fail" if q in fails
                            else "not run" if q in not_run
                            else "pass"
                        )
                        for q in qs
                    },
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    return 1 if fails or not_run else 0


if __name__ == "__main__":
    raise SystemExit(main())
