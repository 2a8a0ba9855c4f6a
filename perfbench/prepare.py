"""One-time preparation of the benchmark's inputs in a checkout.

Builds every fixture snapshot the workloads read from the base tables
in ``perfbench/data/``, and computes the oracle records the output
checks compare against. The snapshots' cold build time is recorded once
(``fixtures.snapshot_build_s``), so no measured run pays a first-ever
generation that the others skip. (No workload reads a persisted index
artifact.)
``run.py`` starts this script when the checkout has no preparation
record yet.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import checks
import tracing
import worker


def _warm_engine(data_dir: str) -> dict[str, float]:
    """Build the fixture snapshots, timing their first generation."""
    from env_data_pipeline_spark import catalog
    from env_data_pipeline_spark.plans import registry
    from env_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    try:
        registry.load_all()
        tracer = tracing.Tracer(enabled=True)
        tracing.wrap_function(
            tracer, "env_data_pipeline_spark.sources.fixtures", "ensure_fixtures",
            "fixtures.ensure",
        )

        # the collect views read every fixture the workloads use; the
        # streaming queries read only ``requests``
        catalog.register_query_views(spark, data_dir, list(worker.COLLECT_VIEWS))
        return {"fixtures.snapshot_build_s": tracer.total("fixtures.ensure")}
    finally:
        spark.stop()


def _oracles(root: str, data_dir: str) -> dict:
    import pyarrow.parquet as pq
    from env_data_pipeline_spark.plans import registry

    registry.load_all()
    helpers = checks.oracle_helpers(root)
    names = worker.COLLECT_VIEWS + worker.STREAMING
    return {
        # the ``requests`` fixture derives one request from each event
        "requests": pq.read_metadata(os.path.join(data_dir, "events.parquet")).num_rows,
        "queries": {
            n: checks.oracle_record(helpers, registry.ORACLES[n], data_dir) for n in names
        },
        "lookup_index": checks.lookup_index(
            helpers, registry.ORACLES["collect_json_sink"], data_dir
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--record", required=True)
    args = ap.parse_args()

    record = _warm_engine(args.data)
    t = time.perf_counter()
    oracle = _oracles(args.root, args.data)
    record["oracle_s"] = time.perf_counter() - t
    with open(args.oracle, "w") as fh:
        json.dump(oracle, fh)
    # the record is written last: its presence marks a complete preparation
    with open(args.record, "w") as fh:
        json.dump(record, fh)


if __name__ == "__main__":
    main()
