"""scripts/verify_driver_contract.py's sweep, checked without a Spark
session: a fake check stands in for the oracle compare."""

from __future__ import annotations

import importlib.util
import os

import pytest
from py4j.protocol import Py4JNetworkError

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "verify_driver_contract.py",
)
_spec = importlib.util.spec_from_file_location("verify_driver_contract", _SCRIPT)
verify = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(verify)

NAMES = ["a_ok", "b_bad", "c_dies", "d_ok", "e_ok"]


def _check_raising(lost: BaseException):
    ran = []

    def check(name: str) -> None:
        ran.append(name)
        if name == "b_bad":
            raise AssertionError("value multiset differs")
        if name == "c_dies":
            raise lost

    return check, ran


@pytest.mark.parametrize(
    "lost",
    [
        Py4JNetworkError("Answer from Java side is empty"),
        ConnectionRefusedError(111, "Connection refused"),
    ],
    ids=["py4j_network", "connection_refused"],
)
def test_sweep_stops_at_first_lost_jvm(lost, capsys):
    check, ran = _check_raising(lost)
    fails, not_run = verify.sweep(NAMES, check)
    assert ran == ["a_ok", "b_bad", "c_dies"]
    assert fails == ["b_bad", "c_dies"]
    assert not_run == ["d_ok", "e_ok"]
    out = capsys.readouterr().out
    assert out.count("JVM lost") == 1 and "c_dies: FAIL JVM lost" in out


def test_sweep_charges_a_wrapped_loss_to_its_query():
    """A query error whose cleanup then finds the gateway dead (the
    check's ``finally``) is a lost JVM, charged to that query."""

    def check(name: str) -> None:
        try:
            raise RuntimeError("java.lang.OutOfMemoryError: Java heap space")
        finally:
            if name == "c_dies":
                raise Py4JNetworkError("An error occurred while trying to connect")

    fails, not_run = verify.sweep(["c_dies", "d_ok"], check)
    assert fails == ["c_dies"] and not_run == ["d_ok"]


def test_sweep_without_loss_runs_every_check():
    check, ran = _check_raising(RuntimeError("plain failure"))
    fails, not_run = verify.sweep(NAMES, check)
    assert ran == NAMES
    assert fails == ["b_bad", "c_dies"]
    assert not_run == []
