"""Results are identical under task retry.

A subprocess runs on ``local[2,2]`` (two cores, a task may fail once)
with every base-table read wrapped in an identity ``mapInArrow`` whose
first attempt on partition 0 raises. The graph loop, the LSH dedup
connected components, the sampled triangle estimator and a
``replay_fold`` refresh must still match their DuckDB oracles, so the
scan floor's retry determinism and the lineage cuts (whose blocks live
only on executors) are exercised through real task failures. The
status store's failed-task count proves the retries happened."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = (
    "part_pagerank_copurchase",
    "dedup_clusters",
    "part_triangle_count_sampled",
    "streaming_incremental_agg_refresh",
)

CHILD = r"""
import json
import sys
import urllib.request

sys.path.insert(0, sys.argv[1])
sf_dir, names = sys.argv[2], sys.argv[3:]

from pyspark import TaskContext
from pyspark.sql import SparkSession

from env_data_pipeline_spark import catalog

# local[2,2]: a task may fail once; get_spark then applies the
# engine's SQL settings to this session
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "true")
    .config("spark.ui.port", "0")
    .getOrCreate()
)
from env_data_pipeline_spark.session import get_spark

spark = get_spark("task-retry")


def _fail_first_attempt(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    yield from batches


_table = catalog.table


def _retried_table(*args, **kwargs):
    df = _table(*args, **kwargs)
    return df.mapInArrow(_fail_first_attempt, df.schema)


# before the plan modules import it
catalog.table = _retried_table

from env_data_pipeline_spark.plans import registry
from tests.oracle import compare

registry.load_all()
for name in names:
    compare(spark, name, registry.QUERIES[name], registry.ORACLES[name], sf_dir)
    print("MATCH", name, flush=True)

sc = spark.sparkContext
url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
with urllib.request.urlopen(url) as fh:
    failed = sum(st.get("numFailedTasks", 0) for st in json.load(fh))
print("FAILED_TASKS", failed, flush=True)
"""


def test_queries_match_oracles_under_injected_task_failure(sf_dir):
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, REPO, sf001, *QUERIES],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    out = proc.stdout
    assert proc.returncode == 0, (out + proc.stderr)[-4000:]
    for name in QUERIES:
        assert f"MATCH {name}" in out, out
    failed = int(out.split("FAILED_TASKS")[1].split()[0])
    assert failed > 0, out
