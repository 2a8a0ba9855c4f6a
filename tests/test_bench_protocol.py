"""bench.py's one timing rule and its plan normaliser, checked without
a Spark session: a fake clock that advances only when the fake query
executes stands in for wall time."""

from __future__ import annotations

import inspect
import math

import pytest

import bench


class _FakeQuery:
    """A query whose executions take ``secs[i % len(secs)]`` seconds of
    fake time; the instance is also the clock."""

    def __init__(self, *secs: float):
        self.secs = secs
        self.now = 0.0
        self.calls = 0

    def __call__(self) -> float:
        return self.now

    def execute(self) -> None:
        self.now += self.secs[self.calls % len(self.secs)]
        self.calls += 1


def test_query_below_the_floor_repeats_to_fill_each_run():
    q = _FakeQuery(0.3)
    runs = bench.timed_runs(q.execute, 5, 1.0, clock=q)
    assert q.calls == 5 * math.ceil(1.0 / 0.3)
    assert runs == pytest.approx([0.3] * 5)


@pytest.mark.parametrize("secs, floor", [(3.0, 1.0), (0.3, 0.0)])
def test_query_at_or_above_the_floor_runs_once_per_run(secs, floor):
    q = _FakeQuery(secs)
    runs = bench.timed_runs(q.execute, 5, floor, clock=q)
    assert q.calls == 5
    assert runs == pytest.approx([secs] * 5)


def test_exactly_n_runs_are_recorded_however_noisy():
    # alternating 2 s / 20 s executions: a (max-min)/median spread far
    # past any noise threshold still records exactly the asked-for runs
    q = _FakeQuery(2.0, 20.0)
    runs = bench.timed_runs(q.execute, bench._N_RUNS, 1.0, clock=q)
    assert len(runs) == bench._N_RUNS
    assert bench._stats(runs)[1] > 1.0
    # and the headline protocol asks for exactly _N_RUNS
    assert inspect.signature(bench._measure_query).parameters["runs"].default == bench._N_RUNS


def test_plan_normaliser_drops_session_counters_and_hash_dirs():
    plan = (
        "(3) Project [codegen id : 1]\n"
        "Output [2]: [doc_id#1234L, text#56]\n"
        "Arguments: [a#7L], MapPartitionsRDD[17091] at localCheckpoint, [plan_id=386700]\n"
        "lambdafunction((lambda x_1844#9 * lambda y_1845#10), lambda x_1844#9)\n"
        "Location: InMemoryFileIndex [file:/srv/app/.fixtures/"
        "sf0.1-ddbe14/ivf_invlists-0de822772d.parquet/cell=3]\n"
        "Location: InMemoryFileIndex [file:/srv/app/.fixtures/"
        "sf0.1-ddbe14/landfire_grids-7c7e2d2029.parquet]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/documents.parquet]\n"
    )
    assert bench.normalize_plan(plan) == (
        "(3) Project [codegen id : 1]\n"
        "Output [2]: [doc_id#NL, text#N]\n"
        "Arguments: [a#NL], MapPartitionsRDD[N] at localCheckpoint, [plan_id=N]\n"
        "lambdafunction((lambda x_N#N * lambda y_N#N), lambda x_N#N)\n"
        "Location: InMemoryFileIndex [file:/srv/app/.fixtures/"
        "sf0.1-<hash>/ivf_invlists-<hash>.parquet/cell=3]\n"
        "Location: InMemoryFileIndex [file:/srv/app/.fixtures/"
        "sf0.1-<hash>/landfire_grids-<hash>.parquet]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/documents.parquet]\n"
    )
    assert bench.normalize_plan(bench.normalize_plan(plan)) == bench.normalize_plan(plan)
