"""Every lineage cut in the engine has one form: a bare, eager
``localCheckpoint()``. Under AQE a ``localCheckpoint(eager=False)``
still runs the jobs of its plan's exchanges when it is called, and its
consumers can then compute it several times concurrently, so the flag
only adds a second way to write the same cut."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "env_data_pipeline_spark"
)


def test_every_local_checkpoint_is_bare():
    found = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and (node.args or node.keywords)
            ):
                found.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not found, found
