"""Benchmark entry point.

    python3 perfbench/run.py --workload {collect,event_replay} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run in a checkout prepares
the inputs once (``prepare.py``: fixture snapshots and oracle records,
from the base tables in ``perfbench/data/``) under ``.perfbench/``;
every run then starts one fresh measured process (``worker.py``). The
last line of standard output is the result: ``correct``, ``attempted``,
``failed`` and the metrics ``BENCHMARK.json`` lists (end-to-end ones
with ``--trace 0``, per-layer ones with ``--trace 1``). The line before it is the run's
configuration stamp and details.

Launch environment, and nothing else of the engine's settings:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on;
- ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of MemTotal (``stats.driver_heap``).
  The engine's default heap is 90g, which on a 15 GB host let the
  driver JVM grow until it was OOM-killed; a host-sized default is
  the engine's own fix to make;
- ``PYTHONPATH`` = the checkout, so Python workers can import the
  engine's module-level UDFs;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` =
  directories under ``.perfbench/``, so the run writes only inside
  the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import worker  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
# the engine's sf0.01 test tier, a byte-for-byte copy of its ten tables
TIER = "sf0.01"
DATA = os.path.join(HERE, "data", TIER)
PREP_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# files a run needs besides this directory; without them it cannot run
REQUIRED = ("BENCHMARK.json", "env_data_pipeline_spark/session.py", "tests/oracle.py")


def launch_env() -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(stats.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=stats.driver_heap(),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    return env


def _run_group(cmd: list[str], env: dict[str, str], timeout: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` in its own process group; on return no process of the
    group (the JVM and Python workers included) is left running."""
    proc = subprocess.Popen(
        cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        err += f"\nkilled after {timeout:.0f} s"
    _reap_group(proc.pid)
    return subprocess.CompletedProcess(cmd, proc.returncode, out, err)


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    deadline = time.monotonic() + grace_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _metric_specs(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft engine benchmark")
    ap.add_argument("--workload", choices=worker.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a spark-graft checkout, missing {missing}", file=sys.stderr)
        return 2
    env = launch_env()
    oracle = os.path.join(STATE, f"oracle-{TIER}.json")
    prep_record = os.path.join(STATE, f"prep-{TIER}.json")
    cold = not os.path.exists(prep_record)
    if cold:
        done = _run_group(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--root", ROOT, "--data", DATA,
             "--oracle", oracle, "--record", prep_record],
            env, PREP_TIMEOUT_S,
        )
        if done.returncode != 0 or not os.path.exists(prep_record):
            sys.stderr.write(done.stderr[-4000:])
            print("perfbench: preparation failed", file=sys.stderr)
            return 1
    with open(prep_record) as fh:
        prep = json.load(fh)

    t0 = time.monotonic()
    done = _run_group(
        [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--t0", repr(t0), "--root", ROOT, "--data", DATA, "--oracle", oracle,
         "--state", STATE],
        env, RUN_TIMEOUT_S,
    )
    lines = [ln for ln in done.stdout.splitlines() if ln.startswith(worker.RECORD_TAG)]
    if done.returncode != 0 or not lines:
        sys.stderr.write(done.stderr[-4000:])
        print(f"perfbench: measured run failed (exit {done.returncode})", file=sys.stderr)
        return 1
    record = json.loads(lines[-1][len(worker.RECORD_TAG):])

    values = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {
        name: {"value": values[name], "unit": unit}
        for name, unit in _metric_specs(bool(args.trace)).items()
    }
    spark = record["spark"]
    stamp = stats.config_stamp(
        ROOT, spark["version"], spark["shuffle_partitions"], spark["driver_memory"],
        {"inputs": cold},
    )
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "tier": TIER, "config": stamp,
        "preparation": prep, "detail": record["detail"],
        "end_to_end": record["end_to_end"], "failures": record["failures"],
    }))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
