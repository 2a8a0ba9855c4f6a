"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The FINAL
stdout line is a compact JSON contract line {"metric", "value",
"unit", "queries", "sf"} sized to survive the driver's 2000-char tail
capture; the full diagnostics (per-tier timings, scaling ratios,
shuffle bytes, per-query spreads, the host configuration) are printed
on the preceding line AND written to BENCH_FULL.json so the judge can
always read them.

Timing = full plan execution to a count/collect action. Every query,
on every tier, is timed by one rule (_measure_query): a tier burn-in
pass, one untimed per-query warm-up, a Python-then-JVM GC, then
_N_RUNS recorded runs. Each run repeats the query back to back until
it has used _RUN_FLOOR_S of wall time and records the mean seconds per
execution, so a sub-second query is averaged over several executions
and a multi-second one runs once. A query reports the MEDIAN of its
runs plus "rel_spread" ((max-min)/median). A fixed CPU-bound
calibration job runs before and after the headline tier
("calibration_sec", and "calibration_drift" = after/before - 1): its
drift measures HOST phase (hypervisor steal, neighbor load), the
residual no in-process protocol removes — divide headline deltas by
the calibration ratio before reading them as regressions (see
_measure_query's docstring for the r10 experiments behind this
design). One extra untimed execution samples per-query shuffle
read/write bytes ("shuffle_bytes", via the UI status store):
wall-time says how fast the plan ran, shuffled bytes say whether it
is the plan claimed (broadcast dims, bucketed joins, map-side partial
aggregation).

Scale proof: the same queries are also timed at a LOWER tier
($SPARK_GRAFT_SF_LO_DIR, default the sibling sf0.01) and the JSON
carries "tiers" (per-tier timings) and "scaling" (per-query high/low
time ratio next to the high/low input-row ratio). A bucketed/equi-join
plan shows a time ratio well under the data ratio; a plan hiding an
all-pairs stage shows it blowing past it.
"""

from __future__ import annotations

import json
import os
import platform
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from env_data_pipeline_spark.observe import observe
from env_data_pipeline_spark.plans import registry
from env_data_pipeline_spark.session import get_spark, host_mem_kib, host_size

HEADLINE = [
    "flagship_pricing_summary",
    "revenue_by_region",
    "topk_orders_per_priority",
    "order_priority_check",
    "events_sessionized_stats",
]

# tables whose row counts define the data-scale ratio per query family
_SCALE_TABLES = ("lineitem", "events", "documents", "embeddings")

# sf1-equivalent (x10) tier: how many of the slowest headliners get a
# timing one decade past the shipped data. A headliner is eligible iff
# it builds against the x10 directory, which holds only the replicated
# fact tables; one that reads a dimension table or a fixture snapshot
# fails analysis with PATH_NOT_FOUND and is recorded in sf1_skipped.
_SF1_COUNT = 10
SF1_EXCLUDED = {
    # K=8 cells are the sf0.1 training contract; an honest x10 run
    # needs K ~ sqrt(n) retraining or the in-cell pair scan is
    # deliberately quadratic (the SemDeDup paper's own knob) — noted,
    # not timed, so the tier never records a misconfigured index.
    # similarity_topk_ivf_served implements exactly that cure (the
    # shared K-sizing contract: plans/vectorops.py::_ivf_scale_k —
    # per-tier retrain through the persisted-artifact cache), which
    # is why IT stays in the tier while this stays excluded.
    "dedup_semantic_semdedup": (
        "K=8 cell contract is sf0.1-sized; x10 needs K~sqrt(n) "
        "retrain (the _ivf_scale_k contract similarity_topk_ivf_"
        "served now implements) — excluded rather than timing a "
        "misconfigured index"
    ),
}


_N_RUNS = 5  # recorded runs per query; reported time is their MEDIAN
# Wall time each recorded run fills by repeating its query (see
# timed_runs). On a 4-core host the sf0.1 headliners' medians run
# 0.22-4.1 s (median 1.05 s) and the sf0.01 tier's 0.18-1.2 s: a 1.5 s
# floor gives the median query two executions per run and a 0.2 s one
# eight, for ~700 s of timed work over the headline, training and
# sf0.01 tiers together.
_RUN_FLOOR_S = 1.5

# SPARK_GRAFT_BENCH_FAST=1: contract-shape smoke run (2 single-exec
# runs, probe/sf1 tiers forced OFF) for the /verify quick path — NOT a
# timing record; the per-round artifact always comes from a full
# default run.
_FAST = os.environ.get("SPARK_GRAFT_BENCH_FAST") == "1"
if _FAST:
    _N_RUNS = 2
    _RUN_FLOOR_S = 0.0
    os.environ["SPARK_GRAFT_SCALE_PROBE"] = "0"


def _stats(rs: list[float]) -> tuple[float, float]:
    rs = sorted(rs)
    med = rs[len(rs) // 2]
    return med, ((rs[-1] - rs[0]) / med if med else 0.0)


def _missing_path(ex) -> str | None:
    """The path a Spark ``AnalysisException`` failed to find, or None
    for any other analysis error: how the x10 tier tells a table it
    does not replicate from a real failure."""
    if ex.getCondition() != "PATH_NOT_FOUND":
        return None
    return ex.getMessageParameters()["path"]


def timed_runs(execute, runs: int, floor: float, clock=time.perf_counter) -> list[float]:
    """``runs`` recorded runs of ``execute``. Each run calls it back to
    back until ``floor`` seconds of ``clock`` have passed and records
    the mean seconds per call: a query faster than the floor runs
    ceil(floor / t) times per run, a slower one once. A single
    straggler execution (GC pause, host-scheduling hiccup) then moves
    a short query's recorded run by only its share of the run."""
    out = []
    for _ in range(runs):
        n, t0 = 0, clock()
        while True:
            execute()
            n += 1
            elapsed = clock() - t0
            if elapsed >= floor:
                break
        out.append(elapsed / n)
    return out


def _measure_query(
    spark,
    name: str,
    sf_dir: str,
    runs: int = _N_RUNS,
    sample_shuffle: bool = True,
) -> tuple[list[float], dict]:
    """The one timing protocol, used on every tier: one untimed
    warm-up (whole-stage-codegen compilation, broadcast build, parquet
    footers, fixture snapshot on a cold cache — one-time costs, not
    engine throughput), a Python-then-JVM GC outside the window, then
    ``runs`` time-floored runs (timed_runs with _RUN_FLOOR_S). The
    shuffle-byte sample is one extra UNTIMED execution after the runs
    (bytes are deterministic per plan, so one sampled run suffices and
    the timing windows stay pure).

    Measurement experiments this protocol rests on (r10, recorded
    here so they are not re-run every round): a FRESH JVM PER QUERY
    (subprocess isolation) was tried first and is strictly worse on
    this host — C2 JIT tiering needs ~4 runs to settle and
    cross-process medians of an unchanged plan varied 0.55-0.90 s;
    round-robin interleaving of queries cut spread but inflated
    medians ~25% (cross-query cache eviction between a query's own
    runs) and reproduced worse. The dominant residual is HOST-phase
    throughput drift (2x on some queries minutes apart, CPU steal on
    a shared hypervisor) that no in-process protocol removes — the
    calibration probe (_calibrate) makes that drift visible and
    quantified in the artifact instead."""
    build = registry.QUERIES[name]
    build(spark, sf_dir).count()
    # drop warm-up garbage (broadcast blocks, shuffle files are
    # released via weak refs on GC) outside the timing window.
    # PYTHON gc FIRST: py4j holds JVM-side references for every
    # DataFrame/Column earlier queries touched until Python
    # finalizers send their detach commands — a JVM System.gc()
    # alone cannot free what Python still pins (the verify sweep's
    # hard-won rule, scripts/verify_driver_contract.py; without it
    # the LAST tier of a 40-minute bench times under accumulated
    # heap pressure — r11 measured the x10 triangle at 3-4x its
    # fresh-JVM cost before this line)
    import gc as _pygc

    _pygc.collect()
    spark.sparkContext._jvm.System.gc()
    times = timed_runs(lambda: build(spark, sf_dir).count(), runs, _RUN_FLOOR_S)
    if not sample_shuffle:
        return times, {"read_bytes": 0, "write_bytes": 0}
    rec = observe(spark, lambda: build(spark, sf_dir).count())
    shuffle = {
        "read_bytes": rec["shuffle_read_bytes"],
        "write_bytes": rec["shuffle_write_bytes"],
    }
    return times, shuffle


def _fold_runs(
    per_query: dict[str, tuple[list[float], dict]],
) -> tuple[
    dict[str, float],
    dict[str, float],
    dict[str, dict[str, int]],
    dict[str, int],
]:
    """Fold raw per-query runs into (median timings, relative spread,
    shuffle bytes, runs-used). Median instead of best-of-2 (r4
    verdict item 3): the r3->r4 bench drift was uniform across
    unchanged plans, i.e. harness noise, and a median with a reported
    spread ((max-min)/median) separates real plan regressions from
    that noise."""
    timings, spreads, shuffles, n_runs_used = {}, {}, {}, {}
    for name, (runs, shuffle) in per_query.items():
        med, spread = _stats(runs)
        timings[name] = round(med, 4)
        spreads[name] = round(spread, 2)
        shuffles[name] = shuffle
        n_runs_used[name] = len(runs)
    return timings, spreads, shuffles, n_runs_used


def _calibrate(spark) -> float:
    """Host-throughput probe: median seconds of 3 runs of a FIXED
    CPU-bound Spark job (no IO, no shuffle variation). The probe is
    identical every bench run, so probe-second drift between two
    BENCH_FULL.json artifacts — the committed clean run vs the
    driver's rerun — measures ENVIRONMENT phase (hypervisor steal,
    thermal/neighbor load), not engine change: divide headline
    deltas by the probe ratio before reading them as regressions.
    One untimed execution runs first: the "before" probe is the
    session's first Spark job, and a cold JVM would read as drift."""

    def probe():
        # modulo keeps the sum far inside BIGINT (1e8 * 1e6 = 1e14)
        spark.range(100_000_000).selectExpr("sum(id % 1000007) AS s").collect()

    probe()
    return round(sorted(timed_runs(probe, 3, 0.0))[1], 4)


def _time_tier(spark, names: list[str], sf_dir: str):
    """Tier timing: one BURN-IN pass over every headliner first (the
    first-listed queries otherwise pay cold Spark-core/parquet JIT
    inside their own windows — an order bias), then _measure_query
    per query."""
    for name in names:
        registry.QUERIES[name](spark, sf_dir).count()
    return _fold_runs({name: _measure_query(spark, name, sf_dir) for name in names})


def _host(spark) -> dict:
    """The host configuration the timings were taken on: numbers from
    different hosts are never compared."""
    mem_kib = host_mem_kib()
    _, heap = host_size(mem_total_kib=mem_kib)
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        sha = None  # an exported tree, not a git checkout
    sc = spark.sparkContext
    return {
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "mem_total_kib": mem_kib,
        "driver_heap": heap,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def normalize_plan(plan: str) -> str:
    """A captured plan with its per-run noise removed, so BENCH_PLANS.md
    only changes when a plan does: the session counters in expression
    ids (``#1234``), ``plan_id=``, ``RDD[...]`` and lambda variable
    names become ``N``, and the hash components of snapshot paths
    (fixtures and trained artifacts) become ``<hash>``."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"(plan_id=|RDD\[|lambda [a-z]+_)\d+", r"\1N", plan)
    return re.sub(
        r"\.fixtures/[^\s,\]]+",
        lambda m: re.sub(r"-[0-9a-f]{6,}(?=[/.])", "-<hash>", m.group()),
        plan,
    )


def _dump_plans(spark, names: list[str], sf_dir: str) -> None:
    """Write each headline query's formatted physical plan to
    BENCH_PLANS.md so the timing record carries the plan it measured."""
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_PLANS.md")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    lines = [
        "# Headline-query physical plans (captured by bench.py)",
        "",
        f"Tier: `{sf_dir}`. Regenerated on every bench run; the plans",
        "below are exactly what the recorded timings measured.",
        "",
    ]
    failed = []
    for name in names:
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            plan = normalize_plan(df._jdf.queryExecution().explainString(mode))
        except Exception as ex:  # noqa: BLE001 - plan capture is best-effort
            plan = f"(plan capture failed: {ex})"
            failed.append(name)
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    if failed:
        # never clobber the committed artifact with failure noise
        # (ADVICE r4): keep the old file, say so loudly on stderr
        print(
            f"bench: plan capture failed for {failed}; BENCH_PLANS.md left untouched",
            file=sys.stderr,
        )
        return
    tmp = out + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
    os.replace(tmp, out)


def _row_ratios(spark, hi_dir: str, lo_dir: str) -> dict[str, float]:
    from env_data_pipeline_spark.catalog import table

    out = {}
    for t in _SCALE_TABLES:
        hi = table(spark, hi_dir, t).count()
        lo = table(spark, lo_dir, t).count()
        out[t] = round(hi / lo, 2) if lo else None
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    lo_dir = os.environ.get(
        "SPARK_GRAFT_SF_LO_DIR",
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01"),
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    registry.load_all()
    spark = get_spark("env_data_pipeline_spark-bench")

    names = [n for n in HEADLINE if n in registry.QUERIES]
    # extend with any registered headline-worthy queries not listed yet
    for n in registry.QUERIES:
        if n not in names and n in registry.BENCH_EXTRA:
            names.append(n)
    # VERDICT r11 item 3: inline-train oracle baselines leave the
    # serving headline — they re-run Lloyd training per call, which
    # production does offline once. They stay registered and timed,
    # in their own labeled tier below.
    training = [n for n in names if n in registry.BENCH_TRAINING]
    names = [n for n in names if n not in registry.BENCH_TRAINING]

    calib_before = _calibrate(spark)
    timings, spreads, shuffles, n_runs_used = _time_tier(spark, names, sf_dir)
    calib_after = _calibrate(spark)
    total = round(sum(timings.values()), 4)

    # capture the PHYSICAL PLANS next to the timings (VERDICT r3 item
    # 4: "per-query times AND captured plans") — a side artifact, so
    # stdout stays the one-JSON-line driver contract
    if not _FAST:
        _dump_plans(spark, names + training, sf_dir)

    # "rel_spread" = (max-min)/median of the timed runs.
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": _N_RUNS,
        "run_floor_sec": _RUN_FLOOR_S,
        "host": _host(spark),
        # fixed-job host-throughput probe before/after the headline
        # tier: compare across artifacts to separate environment phase
        # from engine change
        "calibration_sec": {"before": calib_before, "after": calib_after},
        "calibration_drift": round(calib_after / calib_before - 1, 3),
        "n_runs": n_runs_used,
        "rel_spread": spreads,
        "shuffle_bytes": shuffles,
        "queries": timings,
    }

    # TRAINING TIER (VERDICT r11 item 3): the inline-train oracle
    # baselines of the _served pair, timed with the same protocol but
    # recorded under their own label — their cost is Lloyd/codebook
    # training, an offline once-per-corpus job, so it never sums into
    # the serving headline total.
    if training:
        tr_t, tr_sp, tr_sh, tr_runs = _time_tier(spark, training, sf_dir)
        result["training_tier"] = {
            "queries": tr_t,
            "rel_spread": tr_sp,
            "shuffle_bytes": tr_sh,
            "n_runs": tr_runs,
            "total_sec": round(sum(tr_t.values()), 4),
        }

    if os.path.isdir(lo_dir) and os.path.abspath(lo_dir) != os.path.abspath(sf_dir):
        lo_sf = lo_dir.rstrip("/").rsplit("sf", 1)[-1]
        lo_timings, lo_spreads, lo_shuffles, _lo_runs = _time_tier(
            spark, names, lo_dir
        )
        result["tiers"] = {sf: timings, lo_sf: lo_timings}
        # both tiers' spreads on the record (VERDICT r9 item 3)
        result["tiers_spread"] = {sf: spreads, lo_sf: lo_spreads}
        result["data_ratio"] = _row_ratios(spark, sf_dir, lo_dir)
        result["scaling"] = {
            n: round(timings[n] / lo_timings[n], 2)
            for n in names
            if lo_timings.get(n)
        }
        # shuffle growth across the tier pair: bytes are deterministic,
        # so this ratio reads plan behavior directly — a bucketed /
        # broadcast claim holds iff shuffled bytes grow no faster than
        # the driving table
        result["shuffle_scaling"] = {
            n: round(
                (shuffles[n]["read_bytes"] + shuffles[n]["write_bytes"])
                / (lo_shuffles[n]["read_bytes"] + lo_shuffles[n]["write_bytes"]),
                2,
            )
            for n in names
            if lo_shuffles.get(n)
            and (lo_shuffles[n]["read_bytes"] + lo_shuffles[n]["write_bytes"]) > 0
        }

    # Scale probe (VERDICT r5 item 8; r8 item 2 pushed it a decade
    # further): builder-generated tiers beyond sf0.1 turn the single
    # hi/lo ratio into a log-log slope fit — over THREE decades
    # (sf0.01 -> x100) for the document/embedding families, and over
    # the sf1-equivalent x10 lineitem/events tier for the graph and
    # interval-join headliners. Skippable via
    # SPARK_GRAFT_SCALE_PROBE=0 (e.g. quick local iteration).
    if (
        os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0"
        and "tiers" in result
    ):
        import math

        from env_data_pipeline_spark.benchscale import (
            DEEP_MULT,
            ensure_scale_tier,
        )
        from pyspark.errors import AnalysisException

        from env_data_pipeline_spark.catalog import table

        x10_dir = ensure_scale_tier(
            spark,
            sf_dir,
            tables=("documents", "embeddings", "lineitem", "events"),
        )
        x100_dir = ensure_scale_tier(spark, sf_dir, mult=DEEP_MULT)
        # (source table, probe dirs beyond the x10 tier). Every entry
        # is timed at x10 regardless of headline rank: a query whose
        # scale posture is under scrutiny keeps its slope on the record
        # even after a fix makes it fast enough to fall out of the
        # slowest-N cut. decontaminate: the realistic decade-up — the
        # EVAL side stays fixed (only replica 0 carries eval grams)
        # while the corpus grows; substring spans: the gram-diagonal
        # join family; triangle/rapid-repeat: the lineitem/events
        # families at their sf1-equivalent tier.
        specs = {
            "dedup_minhash_lsh": ("documents", [x100_dir]),
            # r8: the inline-training ivfpq row left the headline set;
            # probe its serving-path replacement instead
            "similarity_topk_ivfpq_served": ("embeddings", [x100_dir]),
            # r12 (VERDICT r11 item 2): the r11 scaled-K fix was
            # proved at one decade only (0.028 committed vs 0.098
            # judge rerun — host noise at that grain); the x100 point
            # turns the claim into a 2-decade fitted slope
            "similarity_topk_ivf_served": ("embeddings", [x100_dir]),
            "decontaminate_eval_overlap": ("documents", [x100_dir]),
            "dedup_substring_spans": ("documents", [x100_dir]),
            # r12: the CCNet perplexity tier — two corpus explodes
            # meeting a <=512-row broadcast LM; should track the
            # dedup_minhash class (linear scan work, sublinear wall)
            "corpus_perplexity_buckets": ("documents", [x100_dir]),
            "part_triangle_count_sampled": ("lineitem", []),
            # r12: the q=1/4 triangle rung keeps its cost on the record
            # next to the q=1/2 rung's — the error-vs-cost record
            # (tests/test_graphops.py pins the error side)
            "part_triangle_count_sampled_q4": ("lineitem", []),
            "events_rapid_repeat_pairs": ("events", []),
        }

        # sf1-EQUIVALENT TIER (VERDICT r9 item 6): the _SF1_COUNT
        # slowest eligible headliners plus every probe entry, each
        # timed at x10 exactly once by _measure_query (no shuffle-byte
        # sample: an extra seconds-long execution whose bytes nothing
        # consumes). Eligibility is explicit, never silent: everything
        # ranked above the cut but not timed is listed in sf1_skipped
        # with its reason.
        x10: dict[str, tuple[list[float], dict]] = {}
        skipped: dict[str, str] = {}

        def timed_at_x10(n: str) -> bool:
            if n not in x10 and n not in skipped:
                try:
                    x10[n] = _measure_query(spark, n, x10_dir, sample_shuffle=False)
                except AnalysisException as ex:
                    path = _missing_path(ex)
                    if path is None:
                        raise
                    skipped[n] = f"reads {path}, which the x10 tier does not replicate"
            return n in x10

        eligible = 0
        for n in sorted(names, key=lambda n: timings.get(n, 0.0), reverse=True):
            if eligible == _SF1_COUNT:
                break
            if n in SF1_EXCLUDED:
                skipped[n] = SF1_EXCLUDED[n]
            elif timed_at_x10(n):
                eligible += 1
        for n in specs:
            if n in names:
                timed_at_x10(n)
        sf1_t, sf1_sp, _, _ = _fold_runs(x10)

        probe: dict[str, dict] = {}
        for name, (src, probe_dirs) in specs.items():
            if name not in sf1_t or name not in result["scaling"]:
                continue
            dirs = [lo_dir, sf_dir, x10_dir] + probe_dirs
            rows = [table(spark, d, src).count() for d in dirs]
            secs = [
                result["tiers"][lo_sf][name],
                result["tiers"][sf][name],
                sf1_t[name],
            ]
            for pd in probe_dirs:
                # 3 runs, not _N_RUNS: the six x100 points together cost
                # ~160 s per execution on a 4-core host, so 2 more runs
                # would add ~5 min to a full bench
                runs, _ = _measure_query(spark, name, pd, runs=3, sample_shuffle=False)
                secs.append(round(_stats(runs)[0], 4))
            # least-squares slope of log(t) vs log(rows): 1.0 = linear
            # in data, <1 sublinear; an all-pairs stage reads ~2
            lx = [math.log(r) for r in rows]
            ly = [math.log(max(s, 1e-4)) for s in secs]
            k = len(lx)
            mx, my = sum(lx) / k, sum(ly) / k
            slope = sum((x - mx) * (y - my) for x, y in zip(lx, ly)) / sum(
                (x - mx) ** 2 for x in lx
            )
            probe[name] = {
                "rows": rows,
                "sec": secs,
                "loglog_slope": round(slope, 3),
            }
        result["scale_probe"] = probe

        # tier key derived from the headline sf, never hardcoded: a
        # non-default SPARK_GRAFT_SF_DIR must not mislabel (or
        # collide with) the x10 tier
        sf1_key = (
            str(round(float(sf) * 10, 4))
            if str(sf).replace(".", "").isdigit()
            else f"{sf}x10"
        )
        result["tiers"][sf1_key] = sf1_t
        result["tiers_spread"][sf1_key] = sf1_sp
        result["sf1_skipped"] = skipped
        # per-decade slope vs the headline median: log10(t_x10 / t_hi);
        # 1.0 = linear in data, < 1 sublinear (all four driving tables
        # replicate exactly 10x)
        result["sf1_slope"] = {
            n: round(math.log10(max(t, 1e-4) / max(timings[n], 1e-4)), 3)
            for n, t in sf1_t.items()
        }

    # The driver keeps only the LAST ~2000 characters of stdout and
    # json-parses the final line — every round where the single rich
    # JSON line outgrew that window (r2/r4/r5/r6) was recorded with
    # "parsed": null, i.e. the stamped artifact lost the numbers
    # entirely. So: (1) the FULL result goes to BENCH_FULL.json (a
    # committed artifact the judge can always read), (2) it is also
    # printed as the first stdout line for log capture, and (3) the
    # FINAL line is a compact contract line — metric/value/unit/
    # queries/sf — guaranteed to fit the tail window.
    # the FAST smoke run must never clobber the committed full-run
    # artifact (it lacks tiers/probes and its timings are not a
    # record) — it writes a sibling file instead
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_FAST.json" if _FAST else "BENCH_FULL.json",
    )
    tmp = full_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    os.replace(tmp, full_path)
    print(json.dumps(result))

    print(compact_contract_line(result))
    spark.stop()


def compact_contract_line(result: dict, limit: int = 1900) -> str:
    """The driver-facing final line: metric/value/unit/sf/queries,
    guaranteed under ``limit`` chars (the driver's tail window is 2000).
    Sheds optional fields first, then drops the FASTEST queries (the
    slow ones are the regression signal) with a truncation marker."""
    timings = result["queries"]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "runs_per_query": result.get("runs_per_query"),
        "rel_spread_max": max(result["rel_spread"].values())
        if result.get("rel_spread")
        else 0.0,
        "detail": "BENCH_FULL.json",
        "queries": timings,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:
        # shed the noise-bound fields, NEVER the BENCH_FULL.json
        # pointer — an overflowing registry is exactly when the reader
        # needs the full artifact most (review finding)
        compact.pop("rel_spread_max", None)
        compact.pop("runs_per_query", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:
        keep = sorted(timings, key=timings.get, reverse=True)
        compact["queries_truncated"] = True
        while len(line) > limit and keep:
            keep.pop()
            compact["queries"] = {n: timings[n] for n in keep}
            line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
