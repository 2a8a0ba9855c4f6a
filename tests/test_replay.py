"""The micro-batch replay lifecycle (streaming/replay.py::replay_fold):
the per-call work dir is removed whether the replay succeeds or a
batch fails, the multi-batch guard rejects a replay that ran fewer
micro-batches than it has shards, and the shards are written in one job."""

from __future__ import annotations

import os
import tempfile

import pytest


def _agg_work_dirs(root) -> list[str]:
    return [n for n in os.listdir(root) if n.startswith("stream_agg_refresh_")]


def test_failed_replay_removes_work_dir(spark, sf_dir, tmp_path, monkeypatch):
    from env_data_pipeline_spark.operators import incremental as INC
    from env_data_pipeline_spark.plans.incremental import (
        streaming_incremental_agg_refresh,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def failing_partial_aggs(*_args, **_kwargs):
        raise RuntimeError("injected batch failure")

    monkeypatch.setattr(INC, "partial_aggs", failing_partial_aggs)
    with pytest.raises(Exception, match="injected batch failure"):
        streaming_incremental_agg_refresh(spark, sf_dir)
    assert _agg_work_dirs(tmp_path) == []


def test_replay_removes_work_dir_and_detaches_result(
    spark, sf_dir, tmp_path, monkeypatch
):
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.incremental import (
        streaming_incremental_agg_refresh,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = streaming_incremental_agg_refresh(spark, sf_dir)
    assert _agg_work_dirs(tmp_path) == []
    # the result no longer reads the removed state dirs
    rows = out.collect()
    assert sum(r["n_rows"] for r in rows) == table(spark, sf_dir, "events").count()


def test_replay_guard_rejects_collapsed_replay(spark, tmp_path):
    from env_data_pipeline_spark.streaming.replay import (
        _replay_foreachbatch,
        write_shards,
    )

    delta_dir = tmp_path / "deltas"
    delta_dir.mkdir()
    source = spark.range(10)
    write_shards(source, str(delta_dir), 1, "id")
    with pytest.raises(
        RuntimeError, match=r"collapsed to 1 batch\(es\); expected 2"
    ):
        _replay_foreachbatch(
            spark, str(delta_dir), source.schema, str(tmp_path / "ckpt"), 2,
            lambda _df, _batch_id: None, "guard",
        )


def test_write_shards_evaluates_the_source_once(spark, tmp_path):
    """One job writes every shard, and ``batch_<i>`` holds exactly the
    rows whose key % n == i; a shard with no rows fails loudly."""
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.observe import observe
    from env_data_pipeline_spark.streaming.replay import write_shards

    source = spark.range(40).select(
        F.col("id").alias("key"), (F.col("id") * 3).alias("v")
    )
    out = tmp_path / "deltas"
    out.mkdir()
    rec = observe(spark, lambda: write_shards(source, str(out), 4, "key"))
    assert rec["jobs"] == 1
    assert sorted(os.listdir(out)) == [f"batch_{i}.parquet" for i in range(4)]
    for i in range(4):
        rows = spark.read.parquet(str(out / f"batch_{i}.parquet")).collect()
        assert sorted(r["key"] for r in rows) == list(range(i, 40, 4))
        assert all(r["v"] == 3 * r["key"] for r in rows)

    short = tmp_path / "short"
    short.mkdir()
    with pytest.raises(RuntimeError, match="shard 3 of 4 wrote 0 files"):
        write_shards(spark.range(3), str(short), 4, "id")
