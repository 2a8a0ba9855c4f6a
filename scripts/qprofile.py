"""Per-query optimization loop tool: time named queries at an SF dir
with the bench's protocol shape (warm-up + N timed runs, median +
spread), optionally through the noop sink, optionally capture
.explain("formatted") to plans/r12/<query>_<tag>.txt, and dump the
median run's stages — wall time, tasks, executor CPU, input and
shuffle bytes — from its ``observe`` record.

Usage:
  python scripts/qprofile.py [--sf DIR] [--runs N] [--noop] [--plans TAG] name [name ...]

A name that is not a registered query selects every query containing
it. Unlike bench.py this is a dev tool: it never writes bench
artifacts and its numbers are for relative before/after comparison
inside one session on a quiet host.
"""

from __future__ import annotations

import argparse
import gc
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from env_data_pipeline_spark.observe import observe  # noqa: E402
from env_data_pipeline_spark.plans import registry  # noqa: E402
from env_data_pipeline_spark.session import get_spark  # noqa: E402

TOP_STAGES = 18


def _print_stages(stages: list[dict]) -> None:
    stages = sorted(stages, key=lambda s: s.get("executorRunTime") or 0, reverse=True)
    tot_run = sum(s.get("executorRunTime") or 0 for s in stages)
    print(f"  sum executorRunTime={tot_run / 1000:.3f}s")
    for st in stages[:TOP_STAGES]:
        run = (st.get("executorRunTime") or 0) / 1000
        cpu = (st.get("executorCpuTime") or 0) / 1e9
        print(
            f"  [{st['stageId']:4d}] run={run:7.3f}s cpu={cpu:7.3f}s "
            f"tasks={st.get('numCompleteTasks', st.get('numTasks')):3} "
            f"in={st.get('inputBytes', 0):>9} sr={st.get('shuffleReadBytes', 0):>9} "
            f"sw={st.get('shuffleWriteBytes', 0):>9} {(st.get('name') or '')[:70]}"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--noop", action="store_true", help="time via noop sink")
    ap.add_argument(
        "--plans",
        default=None,
        metavar="TAG",
        help="write plans/r12/<name>_<TAG>.txt explain captures",
    )
    args = ap.parse_args()

    registry.load_all()
    names = []
    for pat in args.names:
        hits = [n for n in registry.QUERIES if pat == n] or sorted(
            n for n in registry.QUERIES if pat in n
        )
        if not hits:
            print(f"no query matches {pat!r}")
            return 1
        names += [h for h in hits if h not in names]

    spark = get_spark("qprofile")
    plan_dir = os.path.join(ROOT, "plans", "r12")
    if args.plans:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        os.makedirs(plan_dir, exist_ok=True)

    def run_once(name: str):
        # builder INSIDE the window — the bench times
        # QUERIES[name](spark, sf).count() as one unit, and some
        # builders run real jobs (eager checkpoints, artifact reads)
        df = registry.QUERIES[name](spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    for name in names:
        if args.plans:
            df = registry.QUERIES[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(plan_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(plan)
        run_once(name)  # warm-up
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        recs = sorted(
            (observe(spark, lambda: run_once(name)) for _ in range(args.runs)),
            key=lambda r: r["wall_s"],
        )
        med = recs[len(recs) // 2]
        lo, hi = recs[0]["wall_s"], recs[-1]["wall_s"]
        spread = (hi - lo) / med["wall_s"] if med["wall_s"] else 0.0
        print(
            f"{name:40s} med={med['wall_s']:7.3f}s  min={lo:7.3f}  max={hi:7.3f}  "
            f"spread={spread:.2f}  jobs={med['jobs']}  stages={len(med['stages'])}"
        )
        _print_stages(med["stages"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
