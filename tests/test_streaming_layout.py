"""``streaming/`` holds mechanisms and ``plans/`` holds queries. A
streaming query is one registered function in its plan module; the
streaming package supplies only what those functions share (the event
source, the drain, the replay and merge folds, the stateful kernels,
and the refreshers whose inputs are DataFrames). So no streaming
module reaches back into ``plans``, and none builds a whole query
from ``(spark, sf_dir)``."""

from __future__ import annotations

import ast
import glob
import os

STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "env_data_pipeline_spark",
    "streaming",
)
PLANS = "env_data_pipeline_spark.plans"


def _modules():
    for path in sorted(glob.glob(os.path.join(STREAMING, "*.py"))):
        with open(path) as fh:
            yield os.path.basename(path), ast.parse(fh.read(), path)


def test_no_streaming_module_imports_plans():
    found = []
    for name, tree in _modules():
        # ast.walk also visits the imports inside function bodies
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                targets = [node.module or ""]
                targets += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            else:
                continue
            if any(t == PLANS or t.startswith(PLANS + ".") for t in targets):
                found.append(f"{name}:{node.lineno}")
    assert not found, found


def test_no_streaming_function_builds_a_query_from_spark_and_sf_dir():
    found = []
    for name, tree in _modules():
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            params = [a.arg for a in node.args.args[:2]]
            if params == ["spark", "sf_dir"]:
                found.append(f"{name}::{node.name}")
    assert not found, found
