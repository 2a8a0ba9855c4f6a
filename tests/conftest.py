"""Shared test fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from env_data_pipeline_spark.session import get_spark

    s = get_spark("env_data_pipeline_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR
