"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The helper tests need no JVM. ``test_traced_counts_repeat`` runs the
benchmark itself (the first run in a checkout also prepares its
inputs) and takes several minutes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pytest

import checks
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_percentile_matches_statistics_inclusive():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    assert stats.percentile(values, 25) == pytest.approx(q1)
    assert stats.median(values) == pytest.approx(q2) == 4.0
    assert stats.percentile(values, 75) == pytest.approx(q3)
    assert stats.percentile(values, 0) == 1.0
    assert stats.percentile(values, 100) == 9.0


@pytest.mark.parametrize("bad", [[], [1.0, 2.0]])
def test_percentile_rejects_bad_input(bad):
    with pytest.raises(ValueError):
        stats.percentile(bad, 101.0 if bad else 50.0)


@pytest.mark.parametrize(
    "n, want_p",
    [(3, 100.0), (19, 100.0), (20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want_p):
    values = [float(i) for i in range(n)]
    p, value, count = stats.tail(values)
    assert (p, count) == (want_p, n)
    if p < 100.0:
        assert sum(v > value for v in values) >= stats.TAIL_MIN_BEYOND
    else:
        assert value == max(values)


def test_error_rate():
    assert stats.error_rate(8, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.error_rate(attempted, failed)


def test_driver_heap_is_a_quarter_of_memtotal():
    assert stats.driver_heap(16 * 1024 * 1024) == "4096m"
    assert stats.driver_heap(1024) == "512m"


def test_config_stamp_names_the_configuration():
    stamp = stats.config_stamp(ROOT, "4.1.2", "4", "4023m", {"inputs": False})
    assert stamp["cpus"] == len(os.sched_getaffinity(0))
    assert stamp["mem_total_mb"] > 0
    assert (stamp["spark"], stamp["shuffle_partitions"], stamp["driver_heap"]) == (
        "4.1.2", "4", "4023m")
    assert stamp["python"].count(".") == 2
    assert stamp["java"] and stamp["git_sha"]
    assert stamp["cold"] == {"inputs": False}


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 4.0, 5.0, 10.0])
    monkeypatch.setattr(tracing.time, "time", lambda: next(clock))
    tr = tracing.Tracer(enabled=True)
    with tr.span("op"):  # 0 .. 10
        with tr.span("build"):  # 1 .. 2
            pass
        with tr.span("write"):  # 4 .. 5
            pass
    assert tr.total("op") == 10.0
    assert tr.self_times() == {"op": 8.0, "build": 1.0, "write": 1.0}
    assert {s.name: s.parent for s in tr.spans}["build"] == [
        s.span_id for s in tr.spans if s.name == "op"][0]


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_plan_shape_counts_nodes_and_exchanges():
    tree = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) HashAggregate(keys=[k#1], functions=[count(1)])
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
            +- *(1) Project [k#1]
               +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=5]
                  +- ReusedExchange [k#1], Exchange hashpartitioning(k#1, 4)
"""
    shape = tracing.plan_shape(tree)
    assert shape["catalyst.exchanges"] == 2
    assert shape["catalyst.plan_nodes"] == 8


def test_sql_metric_strings():
    assert tracing._metric_number("12,345") == 12345.0
    assert tracing._metric_number(
        "total (min, med, max (stageId: taskId))\n10.4 s (2.4 s, 2.6 s, 2.7 s (stage 2.0: task 3))"
    ) == 10.4
    assert tracing._metric_number("total (min, med, max)\n3.8 KiB (1.0 B, ...)") == 3.8 * 1024


def test_digest_is_order_insensitive_and_value_typed():
    helpers = checks.oracle_helpers(ROOT)
    a = checks.digest(helpers, [(1, "x", 0.1234567), (2, "y", None)], ["k", "s", "v"])
    b = checks.digest(helpers, [("y", None, 2.0), ("x", 0.1234571, 1)], ["s", "v", "k"])
    assert a == b
    assert a != checks.digest(helpers, [(1, "x", 0.5), (2, "y", None)], ["k", "s", "v"])


def test_lookup_check():
    index = {"req_1": checks.doc_digest('{"a":1}')}
    assert checks.check_lookup(index, "req_1", [{"document": '{"a":1}'}]) is None
    assert checks.check_lookup(index, "req_1", [{"document": '{"a":2}'}])
    assert checks.check_lookup(index, "req_1", [])
    assert checks.check_lookup(index, "req_2", []) is None
    assert checks.check_lookup(index, "req_2", [{"document": "{}"}])


# counts a later change may rest a claim on; they must repeat exactly
COUNTS = (
    "plans.build_py4j_calls", "py4j.calls", "exec.jobs", "catalyst.exchanges",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "scan.input_records",
    "lookup.py4j.calls", "lookup.exec.jobs", "lookup.catalyst.exchanges",
    "lookup.exchange.shuffle_write_bytes", "lookup.exchange.shuffle_read_bytes",
    "lookup.scan.input_records",
)


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stdout.strip().splitlines()[-2]
    return {k: result["metrics"][k]["value"] for k in COUNTS}


@pytest.mark.parametrize("workload", ["collect", "event_replay"])
def test_traced_counts_repeat(workload):
    started = time.monotonic()
    first, second = _traced(workload), _traced(workload)
    differ = {k: (first[k], second[k]) for k in COUNTS if first[k] != second[k]}
    assert not differ, f"{workload} after {time.monotonic() - started:.0f} s: {differ}"
