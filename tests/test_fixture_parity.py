"""Every fixture derivation must produce identical row multisets on
Spark and DuckDB — the foundation the domain-operator oracles stand on.
"""

from __future__ import annotations

import pytest

from env_data_pipeline_spark.sources import fixtures
from tests.oracle import _multiset, run_duckdb


@pytest.mark.parametrize(
    "name", sorted(n for n, sql in fixtures.FIXTURES.items() if "spark" in sql)
)
def test_fixture_parity(spark, sf_dir, name):
    (sdf,) = fixtures.ensure_fixtures(spark, sf_dir, (name,))
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols, d_rows = run_duckdb(
        f"{fixtures.duck_with(name)} SELECT * FROM {name}", sf_dir
    )
    assert sorted(s_cols) == sorted(d_cols), f"{name}: cols {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)} rows"
    ms, md = _multiset(s_rows, s_cols), _multiset(d_rows, d_cols)
    if ms != md:
        only_s = list((ms - md).items())[:3]
        only_d = list((md - ms).items())[:3]
        raise AssertionError(f"{name}:\n spark-only {only_s}\n duck-only {only_d}")


def test_fixture_memo_reregisters_on_sf_switch(spark):
    """The reader memo must not serve a stale frame when the scale
    factor changes mid-session."""
    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"

    def count(sf: str) -> int:
        (wc,) = fixtures.ensure_fixtures(spark, sf, ("weather_current",))
        return wc.count()

    n_a = count(sf_a)
    n_b = count(sf_b)
    assert n_b == 10 * n_a
    assert count(sf_a) == n_a
