"""The registry is stable across repeated load_all() calls (the entry
point and the tests both call it), and its oracles line up with its
queries."""

from __future__ import annotations

from env_data_pipeline_spark.plans import registry

registry.load_all()


def test_load_all_idempotent_and_consistent():
    before = list(registry.QUERIES)
    registry.load_all()
    assert list(registry.QUERIES) == before
    # every oracle belongs to a registered query, order-aligned
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    oracle_order = [n for n in registry.QUERIES if n in registry.ORACLES]
    assert list(registry.ORACLES) == oracle_order
