"""One measured run of one workload, in a fresh process.

``run.py`` prepares the inputs, sets the launch environment and starts
this script, which prints its record as the JSON line after
``RECORD_TAG``. The engine is driven only through its public entry
points: ``session.get_spark``, ``plans.registry.QUERIES``,
``catalog.register_query_views``, ``sources.sinks.write_dataset`` and
Spark's own APIs.

Workloads (one closed-loop client with one thread, ``local[<cpus>]``):

- ``collect``: full exports of ``collect_json_sink`` and
  ``collect_aggregated`` through ``write_dataset``, then point lookups
  on the ``collect_json_sink`` view. This is the paper's ``/collect`` entry
  point used both ways: lookups are dominated by Catalyst and per-job
  fixed cost on a deep plan, exports by scans, joins, aggregation and
  sink writes. Set-up registers the two views once. An export is a
  batch job a fresh process runs, so the first export is timed like the
  others; ``WARMUP_LOOKUPS`` untimed lookups between the exports and the
  timed lookups warm them up.
- ``event_replay``: passes over the five streaming queries of the
  event-trigger path, each replaying the whole ``events`` table. The
  only workload with a state store, micro-batches, a Python-worker
  stateful operator and per-batch writes. Set-up runs one warm-up pass.

Each phase (exports, lookups, passes) runs until it has run its
minimum count and ``--seconds`` of timed work.

The seed picks the looked-up request ids; the base tables and the
streaming mix are the same for every seed.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import time
import traceback

import checks
import stats
import tracing

RECORD_TAG = "PERFBENCH_RECORD "
LOOKUP_SQL = "SELECT * FROM collect_json_sink WHERE request_id = ?"
COLLECT_VIEWS = ("collect_json_sink", "collect_aggregated")
STREAMING = (
    "streaming_priority_routing",
    "streaming_enriched_events",
    "streaming_windowed_event_counts",
    "streaming_stateful_event_totals",
    "streaming_incremental_agg_refresh",
)
WORKLOADS = ("collect", "event_replay")
# the one query whose median is ``op_p50_s`` on event_replay: the
# stateful operator (``applyInPandasWithState``) of the event-trigger path
OP_QUERY = "streaming_stateful_event_totals"
# the operation kind whose layers the unprefixed per-layer metrics report
MAIN_KIND = {"collect": "export", "event_replay": "pass"}
# layers also reported for the traced lookup, as ``lookup.<metric>``: the
# fixed per-query cost a lookup pays, apart from the export's full scans
LOOKUP_LAYERS = (
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.exchanges", "catalyst.plan_nodes",
    "scan.input_records", "scan.input_bytes", "scan.records_per_output_row",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.scheduler_wait_s", "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "py4j.calls",
)
MIN_LOOKUPS = 10
WARMUP_LOOKUPS = 5
MIN_PASSES = 2

# engine functions wrapped from outside in the traced run: (module, name, span)
WRAPPED = (
    ("env_data_pipeline_spark.sources.fixtures", "ensure_fixtures", "fixtures.ensure"),
    ("env_data_pipeline_spark.operators.validation", "validate_requests",
     "operators.validate_requests"),
    ("env_data_pipeline_spark.operators.joins", "classify_pixels", "operators.classify_pixels"),
    ("env_data_pipeline_spark.streaming.replay", "write_shards", "streaming.write_shards"),
)
# per-layer metrics summed from spans inside the traced operations
SPAN_METRICS = {
    "plans.build_s": "plans.build",
    "fixtures.ensure_s": "fixtures.ensure",
    "operators.validate_requests_s": "operators.validate_requests",
    "operators.classify_pixels_s": "operators.classify_pixels",
    "exec.action_s": "exec.action",
    "sinks.write_s": "sinks.write",
    "streaming.write_shards_s": "streaming.write_shards",
    **{f"query.{n}_s": f"query.{n}" for n in STREAMING},
}
# streaming progress durations, reported as medians per micro-batch
PROGRESS_MS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}


class Bench:
    """The engine session, the oracle records and the operations."""

    def __init__(self, args, spark, tracer: tracing.Tracer):
        from env_data_pipeline_spark.plans import registry

        self.spark = spark
        self.tracer = tracer
        self.queries = registry.QUERIES
        self.sf_dir = args.data
        self.helpers = checks.oracle_helpers(args.root)
        with open(args.oracle) as fh:
            self.oracle = json.load(fh)
        self.out_dir = os.path.join(args.state, "out", str(os.getpid()))
        self.attempted = 0
        self.failures: list[str] = []

    def verify(self, what: str, check) -> None:
        """Count one operation and run its output check; a mismatch or an
        exception is a failed operation."""
        self.attempted += 1
        try:
            problem = check()
        except Exception:  # the run goes on and reports the failure
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failures.append(f"{what}: {problem}")

    # An operation returns (rows delivered, output check, executed frames,
    # wall time per query name).

    def lookup(self, request_id: str):
        df = self.spark.sql(LOOKUP_SQL, args=[request_id])
        with self.tracer.span("exec.action"):
            rows = df.collect()
        index = self.oracle["lookup_index"]
        return len(rows), lambda: checks.check_lookup(index, request_id, rows), [df], {}

    def export(self, i: int):
        from env_data_pipeline_spark.sources.sinks import write_dataset

        paths = {}
        for name in COLLECT_VIEWS:
            df = self.queries[name](self.spark, self.sf_dir)
            paths[name] = os.path.join(self.out_dir, f"export{i}", name)
            with self.tracer.span("sinks.write"), self.tracer.span("exec.action"):
                write_dataset(df, paths[name])

        def check():
            for name, path in paths.items():
                rows, cols = checks.read_dataset(path)
                problem = checks.check_rows(self.helpers, self.oracle["queries"][name], rows, cols)
                if problem:
                    return f"{name}: {problem}"
            return None

        written = sum(self.oracle["queries"][n]["rows"] for n in COLLECT_VIEWS)
        return written, check, [], {}

    def query_pass(self, names: list[str]):
        """Each query of the mix in turn: build, then collect its rows."""
        rows, frames, pending, times = 0, [], [], {}
        for name in names:
            t = time.perf_counter()
            with self.tracer.span(f"query.{name}"):
                df = self.queries[name](self.spark, self.sf_dir)
                with self.tracer.span("exec.action"):
                    out = df.collect()
            times[name] = time.perf_counter() - t
            rows += len(out)
            frames.append(df)
            pending.append((name, out, df.columns))

        def check():
            bad = []
            for name, out, cols in pending:
                problem = checks.check_rows(self.helpers, self.oracle["queries"][name], out, cols)
                if problem:
                    bad.append(f"{name}: {problem}")
            return "; ".join(bad) or None

        return rows, check, frames, times


class Run:
    """The timed loop; each operation is checked after its timed window.

    In the traced run the second operation of each phase is traced. The
    operations after it, untraced, are its baseline for
    ``trace_overhead`` (the first one is the coldest and would bias
    it). Per-layer metrics are read from the traced operations only,
    kept apart per operation kind.
    """

    def __init__(self, bench: Bench, traced: bool):
        self.b = bench
        self.traced = traced
        self.store = tracing.StatusStore(bench.spark) if traced else None
        self.op_s: list[float] = []  # lookups, or ``OP_QUERY`` in each pass
        self.pass_s: list[float] = []  # exports, or passes over the query mix
        self.baseline: dict[str, list[float]] = {}
        self.traced_s: dict[str, float] = {}
        self.layers: dict[str, dict[str, float]] = {}  # per operation kind
        self.out_rows: dict[str, int] = {}
        self.jobs: list[dict] = []  # the traced operations' jobs, for the trace file
        self.progress: list[dict] = []
        self.traced_dirs: list[str] = []

    def _add(self, kind: str, key: str, value: float) -> None:
        layers = self.layers.setdefault(kind, {})
        layers[key] = layers.get(key, 0.0) + value

    def operation(self, kind: str, what: str, fn, args, trace: bool):
        """One timed operation; returns (wall seconds, whether it ran
        without an exception, per-query times)."""
        tracer = self.b.tracer
        if trace:
            floor = self.store.last_job_id()
            listener = tracing.attach_progress_listener(self.b.spark, self.progress)
            tracer.op_id, tracer.enabled = kind, True
        t = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}"):
                n_out, check, frames, times = fn(*args)
            ok = True
        except Exception:  # counted as a failed operation; the run goes on
            ok, n_out, frames, times = False, 0, [], {}
            err = traceback.format_exc(limit=3)
            check = lambda: err  # noqa: E731
        finally:
            dt = time.perf_counter() - t
            tracer.op_id, tracer.enabled = None, False
        if trace:
            self.b.spark.streams.removeListener(listener)
            builds = [(s.start, s.end) for s in tracer.spans
                      if s.name == "plans.build" and s.op_id == kind]
            rec, jobs = self.store.record(floor, builds)
            for key, value in rec.items():
                self._add(kind, key, value)
            self.jobs += [dict(job, kind=kind) for job in jobs]
            for df in frames:
                for key, value in tracing.catalyst_record(df).items():
                    self._add(kind, key, value)
            self.out_rows[kind] = self.out_rows.get(kind, 0) + n_out
            if kind == "export":
                self.traced_dirs.append(os.path.join(self.b.out_dir, f"export{args[0]}"))
        self.b.verify(what, check)
        return dt, ok, times

    def phase(self, kind: str, ops, seconds: float, min_ops: int) -> None:
        """Run ``ops`` (``(what, fn, args)`` items) until at least
        ``min_ops`` ran and their timed total reached ``seconds``."""
        total, n = 0.0, 0
        need = max(min_ops, 3) if self.traced else min_ops
        for what, fn, args in ops:
            if n >= need and total >= seconds:
                break
            trace = self.traced and n == 1
            dt, ok, times = self.operation(kind, what, fn, args, trace)
            n += 1
            total += dt
            if not ok:
                continue
            if trace:
                self.traced_s[kind] = dt
                continue
            if n > 2:
                self.baseline.setdefault(kind, []).append(dt)
            if kind == "lookup":
                self.op_s.append(dt)
            else:
                self.pass_s.append(dt)
                if OP_QUERY in times:
                    self.op_s.append(times[OP_QUERY])


def _setup_and_loop(args, bench: Bench, run: Run) -> float:
    """Finish set-up, then run the timed phases. Returns the monotonic
    time at which set-up ended."""
    from env_data_pipeline_spark import catalog

    rng = random.Random(args.seed)
    if args.workload == "collect":
        with bench.tracer.span("catalog.register_query_views"):
            catalog.register_query_views(bench.spark, bench.sf_dir, list(COLLECT_VIEWS))
        bench.tracer.enabled = False
        n_requests = bench.oracle["requests"]
        ids = (f"req_{rng.randrange(n_requests):012d}" for _ in itertools.count())
        setup_end = time.monotonic()
        # the export goes first: it is a cold batch job either way. The
        # lookups' warm-up follows it, because the first lookups after an
        # export are the slowest
        run.phase("export", ((f"export {i}", bench.export, (i,)) for i in itertools.count()),
                  args.seconds, 1)
        for warm_id in itertools.islice(ids, WARMUP_LOOKUPS):
            bench.verify("warm-up lookup", lambda: bench.lookup(warm_id)[1]())
        run.phase("lookup", (("lookup " + rid, bench.lookup, (rid,)) for rid in ids),
                  args.seconds, MIN_LOOKUPS)
        return setup_end
    names = list(STREAMING)
    bench.tracer.enabled = False
    bench.verify("warm-up pass", lambda: bench.query_pass(names)[1]())
    setup_end = time.monotonic()
    run.phase("pass", ((f"pass {i}", bench.query_pass, (names,)) for i in itertools.count()),
              args.seconds, MIN_PASSES)
    return setup_end


def _jvm_pid(spark) -> int:
    """The driver JVM: the gateway process or, if that is a launcher
    script, its java descendant."""
    todo = [spark.sparkContext._gateway.proc.pid]
    while todo:
        pid = todo.pop(0)
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                return pid
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            todo += [int(c) for c in fh.read().split()]
    raise RuntimeError("driver JVM not found")


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


PER_LAYER_KEYS = (
    "session.start_s", "plans.build_s", "plans.build_py4j_calls", "plans.build_jobs",
    "fixtures.ensure_s", "operators.validate_requests_s", "operators.classify_pixels_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.exchanges", "catalyst.plan_nodes",
    "scan.input_records", "scan.input_bytes", "scan.records_per_output_row",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.scheduler_wait_s", "exec.jvm_gc_s", "exec.failed_tasks",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "exchange.spill_bytes",
    "pyworker.eval_s", "pyworker.rows",
    "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
    "streaming.batches", *PROGRESS_MS, "streaming.state_rows_total",
    "streaming.state_memory_bytes", "streaming.write_shards_s",
    *(f"query.{n}_s" for n in STREAMING),
    "py4j.calls", *(f"lookup.{k}" for k in LOOKUP_LAYERS), "peak_rss_mb", "trace_overhead",
)


def _kind_layers(run: Run, tracer: tracing.Tracer, kind: str) -> dict[str, float]:
    """Per-layer metrics of the traced operation of one kind."""
    out = dict(run.layers.get(kind, {}))
    spans = [s for s in tracer.spans if s.op_id == kind]
    for metric, span in SPAN_METRICS.items():
        out[metric] = sum(s.end - s.start for s in spans if s.name == span)
    out["plans.build_py4j_calls"] = sum(s.py4j_calls for s in spans if s.name == "plans.build")
    out["py4j.calls"] = sum(s.py4j_calls for s in spans if s.parent is None)
    # a lookup of a rejected request returns no row; it counts as one
    out["scan.records_per_output_row"] = (
        out.get("scan.input_records", 0.0) / max(run.out_rows.get(kind, 0), 1))
    return out


def per_layer(workload: str, run: Run, tracer: tracing.Tracer, rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of the traced operations (0 where a layer is not
    on the workload's path): unprefixed ones of the export or the pass,
    ``lookup.*`` ones of the lookup."""
    out = dict.fromkeys(PER_LAYER_KEYS, 0.0)
    out.update(_kind_layers(run, tracer, MAIN_KIND[workload]))
    if "lookup" in run.layers:
        lookup = _kind_layers(run, tracer, "lookup")
        out.update({f"lookup.{k}": lookup.get(k, 0.0) for k in LOOKUP_LAYERS})
    out["peak_rss_mb"] = rss_mb
    out["session.start_s"] = tracer.total("session.start")
    for d in run.traced_dirs:
        size, files = _dir_bytes_files(d)
        out["sinks.bytes_written"] += size
        out["sinks.files_written"] += files
    batches = [p for p in run.progress if p.get("batchId") is not None]
    out["streaming.batches"] = len(batches)
    for metric, key in PROGRESS_MS.items():
        vals = [p["durationMs"][key] for p in batches if key in p.get("durationMs", {})]
        out[metric] = stats.median(vals) if vals else 0.0
    final_state = {p["id"]: p.get("stateOperators", []) for p in batches}
    state_ops = [op for ops in final_state.values() for op in ops]
    out["streaming.state_rows_total"] = sum(op.get("numRowsTotal", 0) for op in state_ops)
    out["streaming.state_memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in state_ops)
    overheads = [
        run.traced_s[k] / stats.median(run.baseline[k]) - 1.0
        for k in run.traced_s if run.baseline.get(k)
    ]
    out["trace_overhead"] = sum(overheads) / len(overheads) if overheads else 0.0
    return out


def end_to_end(run: Run, bench: Bench, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics, and details: the tail's percentile and sample
    count, every timed sample, and the peak resident set."""
    if not run.op_s or not run.pass_s:
        raise RuntimeError(f"no timed operation succeeded: {bench.failures[:1]}")
    p, tail, n = stats.tail(run.op_s)
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.median(run.op_s),
        "op_tail_s": tail,
        "pass_s": stats.median(run.pass_s),
        "success_rate": 1.0 - stats.error_rate(bench.attempted, len(bench.failures)),
    }, {"op_tail_percentile": p, "op_samples": n, "op_s": run.op_s, "pass_s": run.pass_s,
        "peak_rss_mb": rss_mb}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="launch time, time.monotonic()")
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--state", required=True)
    args = ap.parse_args()

    tracer = tracing.Tracer(enabled=bool(args.trace))
    if args.trace:
        tracing.count_py4j(tracer)
    with tracer.span("session.start"):
        from env_data_pipeline_spark.session import get_spark

        spark = get_spark("perfbench")
    try:
        from env_data_pipeline_spark.plans import registry

        registry.load_all()
        if args.trace:
            for module, name, span in WRAPPED:
                tracing.wrap_function(tracer, module, name, span)
            for name, fn in list(registry.QUERIES.items()):
                registry.QUERIES[name] = tracing.spanned(tracer, "plans.build", fn)
        bench = Bench(args, spark, tracer)
        run = Run(bench, bool(args.trace))
        setup_end = _setup_and_loop(args, bench, run)
        rss = stats.vm_hwm_mb(_jvm_pid(spark)) + stats.vm_hwm_mb(os.getpid())
        e2e, detail = end_to_end(run, bench, setup_end - args.t0, rss)
        record = {
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "failures": bench.failures,
            "end_to_end": e2e,
            "detail": detail,
            "spark": {
                "version": spark.version,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": spark.conf.get("spark.driver.memory"),
            },
        }
        if args.trace:
            record["per_layer"] = per_layer(args.workload, run, tracer, rss)
            os.makedirs(os.path.join(args.state, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                args.state, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            ), run.jobs)
        print(RECORD_TAG + json.dumps(record), flush=True)
    finally:
        shutil.rmtree(os.path.join(args.state, "out", str(os.getpid())), ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
