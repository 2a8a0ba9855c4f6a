"""Host-sized session defaults (no JVM): the env vars win; unset, the
session follows the CPUs this process may use and a quarter of RAM."""

from __future__ import annotations

import os

from env_data_pipeline_spark.session import host_size


def test_env_vars_are_honored():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert host_size(env, mem_total_kib=64 * 1024 * 1024) == (3, "2g")


def test_defaults_follow_the_host():
    cpus, heap = host_size({}, mem_total_kib=16 * 1024 * 1024)
    assert cpus == len(os.sched_getaffinity(0))
    assert heap == "4096m"


def test_heap_floor_on_a_tiny_host():
    assert host_size({}, mem_total_kib=1024 * 1024)[1] == "512m"
