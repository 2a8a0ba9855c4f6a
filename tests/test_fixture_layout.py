"""Physical layout of the fixture snapshots: one file per core in each
hive partition, each file one contiguous ``request_id`` range, so a
point lookup reads one file's row groups per snapshot. Also the
snapshot store's contract for every caller: a warm read runs no Spark
job, a failed build leaves no tmp directory, stale other-keyed
snapshots are reaped."""

from __future__ import annotations

import ast
import glob
import os
import time
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from env_data_pipeline_spark.observe import observe
from env_data_pipeline_spark.sources import fixtures

_CLUSTERED = ("requests", "weather_forecast", "landfire_grids")
# the snapshots the /collect wide record's plan scans, its branches' included
_COLLECT_INPUTS = (
    "requests",
    "weather_current",
    "weather_forecast",
    "modis_observations",
    "landfire_grid_meta",
    "landfire_grids",
    "landfire_attributes",
    "elevation_cells",
)


@pytest.fixture
def fresh_cache(tmp_path, monkeypatch):
    """An empty snapshot cache, so this session writes the snapshots
    under test (the snapshot key leaves the core count out, so the
    shared cache may hold ones another session's core count wrote)."""
    monkeypatch.setattr(fixtures, "_CACHE_ROOT", str(tmp_path))


def _files_by_partition(path: str) -> dict[str, list[str]]:
    """Data files of a snapshot, grouped by their hive partition directory."""
    out: dict[str, list[str]] = defaultdict(list)
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                out[root].append(os.path.join(root, f))
    return out


def _request_id_span(path: str) -> tuple[str, str]:
    """(min, max) of request_id over all row groups of one file."""
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("request_id")
    stats = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
    return min(s.min for s in stats), max(s.max for s in stats)


def test_snapshots_are_range_clustered_one_file_per_core(spark, sf_dir, fresh_cache):
    fixtures.ensure_fixtures(spark, sf_dir, _CLUSTERED)
    cores = spark.sparkContext.defaultParallelism
    for name in _CLUSTERED:
        parts = _files_by_partition(fixtures._snapshot_path(sf_dir, name))
        assert parts, name
        for part, files in parts.items():
            assert len(files) <= cores, (name, part, len(files), cores)
            spans = sorted(_request_id_span(f) for f in files)
            for (_, hi_a), (lo_b, _) in zip(spans, spans[1:]):
                assert hi_a < lo_b, (name, part, spans)


def test_point_filter_reads_one_file(spark, sf_dir, fresh_cache):
    fixtures.ensure_fixtures(spark, sf_dir, ("requests",))
    path = fixtures._snapshot_path(sf_dir, "requests")
    files = [f for fs in _files_by_partition(path).values() for f in fs]
    rows_per_file = [pq.ParquetFile(f).metadata.num_rows for f in files]
    rid = _request_id_span(files[0])[0]
    record = observe(
        spark,
        lambda: spark.read.parquet(path).filter(F.col("request_id") == rid).collect(),
    )
    assert len(record["value"]) == 1
    read = sum(st.get("inputRecords", 0) for st in record["stages"])
    assert read <= max(rows_per_file), (read, rows_per_file)


def test_failed_snapshot_write_leaves_no_tmp_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A derivation that fails inside a task falls back to the lazy
    derivation and removes its partial ``.tmp-<pid>`` directory."""
    name = "_failing_fixture"
    sql = "SELECT raise_error(concat('boom ', cast(e.event_id AS STRING))) AS x FROM events e"
    monkeypatch.setattr(fixtures, "_CACHE_ROOT", str(tmp_path))
    monkeypatch.setitem(fixtures.FIXTURES, name, {"spark": sql, "duck": sql})
    fixtures.ensure_fixtures(spark, sf_dir, (name,))
    path = fixtures._snapshot_path(sf_dir, name)
    assert not os.path.exists(path)
    assert os.listdir(os.path.dirname(path)) == []


def _no_build():
    raise AssertionError("a warm snapshot read must not build")


def test_warm_snapshot_read_runs_no_spark_job(spark, sf_dir, monkeypatch):
    """The stored schema stands in for footer inference, and base views
    are registered only to build, so opening published snapshots is
    driver-only work, through ensure_fixtures (reader memo emptied) and
    through ``snapshot`` itself."""
    fixtures.ensure_fixtures(spark, sf_dir, _COLLECT_INPUTS)
    monkeypatch.setattr(fixtures, "_OPENED", {})
    opened = observe(spark, lambda: fixtures.ensure_fixtures(spark, sf_dir, _COLLECT_INPUTS))
    assert opened["jobs"] == 0, opened["jobs"]
    assert len(fixtures._OPENED) == len(_COLLECT_INPUTS)
    for name, frame in zip(_COLLECT_INPUTS, opened["value"]):
        record = observe(
            spark,
            lambda: fixtures.snapshot(
                spark, sf_dir, name, fixtures._fixture_key(name), _no_build
            ),
        )
        assert record["jobs"] == 0, (name, record["jobs"])
        assert record["value"].schema == frame.schema, name


def test_failed_artifact_build_raises_and_leaves_no_tmp_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An artifact build that fails inside a task re-raises (there is no
    lazy fallback for a trained artifact) and removes its partial
    ``.tmp-<pid>`` directory."""
    monkeypatch.setattr(fixtures, "_CACHE_ROOT", str(tmp_path))
    name, key = "_failing_artifact", "v1"

    def build():
        return spark.range(10).selectExpr(
            "raise_error(concat('boom ', cast(id AS STRING))) AS x"
        )

    with pytest.raises(Exception, match="boom"):
        fixtures.snapshot(spark, sf_dir, name, key, build)
    path = fixtures._snapshot_path(sf_dir, name, key)
    assert not os.path.exists(path)
    assert os.listdir(os.path.dirname(path)) == []


def test_stale_other_keyed_artifact_is_reaped(spark, sf_dir, tmp_path, monkeypatch):
    """Publishing a snapshot drops other-keyed snapshots of the same
    name older than the horizon, and keeps younger ones and other
    names' snapshots. Snapshots of an oracle-only fixture (no Spark
    text, so nothing reads them) go under the same age gate."""
    monkeypatch.setattr(fixtures, "_CACHE_ROOT", str(tmp_path))

    def build():
        return spark.range(3).coalesce(1)

    stale = time.time() - fixtures._STALE_SNAPSHOT_SECONDS - 60
    paths = {}
    for name, key in (("_artifact", "v1"), ("_artifact", "v2"), ("_artifact_x", "v1")):
        fixtures.snapshot(spark, sf_dir, name, key, build)
        paths[name, key] = fixtures._snapshot_path(sf_dir, name, key)
    unread = next(n for n, texts in fixtures.FIXTURES.items() if "spark" not in texts)
    root = os.path.dirname(paths["_artifact", "v1"])
    unread_old = os.path.join(root, f"{unread}-0123456789.parquet")
    unread_young = os.path.join(root, f"{unread}-9876543210.parquet")
    for d in (unread_old, unread_young):
        os.makedirs(d)
    for old in (paths["_artifact", "v1"], paths["_artifact_x", "v1"], unread_old):
        os.utime(old, (stale, stale))
    fixtures.snapshot(spark, sf_dir, "_artifact", "v3", build)
    assert not os.path.exists(paths["_artifact", "v1"])
    assert os.path.exists(paths["_artifact", "v2"])
    assert os.path.exists(paths["_artifact_x", "v1"])
    assert not os.path.exists(unread_old)
    assert os.path.exists(unread_young)
    assert os.path.exists(fixtures._snapshot_path(sf_dir, "_artifact", "v3"))


def test_engine_reads_fixtures_only_through_ensure_fixtures():
    """No engine module looks a fixture up as a session view by name:
    ``ensure_fixtures`` returns the frames and registers no view."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "env_data_pipeline_spark"
    )
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "table"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in fixtures.FIXTURES
            ):
                found.append(f"{os.path.relpath(path, pkg)}:{node.lineno}")
    assert not found, found
