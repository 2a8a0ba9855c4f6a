"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This mirrors the driver's CORRECTNESS gate (row count + schema +
order-insensitive values) so regressions surface in pytest first.
"""

from __future__ import annotations

import pytest

from env_data_pipeline_spark.plans import registry
from tests.oracle import compare

registry.load_all()

ORACLE_CASES = sorted(registry.ORACLES)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(spark, sf_dir, name):
    compare(spark, name, registry.QUERIES[name], registry.ORACLES[name], sf_dir)


def test_every_query_has_an_oracle():
    """The parity cases above build, run and compare every registered
    query; this keeps that coverage from lapsing silently when a query
    is registered without an oracle."""
    assert set(registry.QUERIES) == set(registry.ORACLES)
