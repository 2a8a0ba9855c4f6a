"""Spans and counts recorded from outside the engine.

The traced run wraps calls into the engine's modules (builders,
fixtures, sinks, streaming replay) and Py4J, and reads Spark's own
status store, Catalyst tracker and streaming progress. Nothing in the
engine is edited: wrappers replace module attributes for the life of
the benchmark process only.

Spans and counts stay in memory; ``Tracer.dump`` writes them once at
the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import threading
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    span_id: int
    parent: int | None
    op_id: int | None
    py4j_calls: int  # Py4J round trips made inside the span


class Tracer:
    """Collects spans (name, start, end, parent, operation id) and counts.

    A disabled tracer records nothing and its ``span`` costs one branch,
    so the untraced run executes the same code path.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count()
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        calls = self.counts["py4j.calls"]
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(name, start, time.time(), sid, parent, self.op_id,
                     self.counts["py4j.calls"] - calls)
            )

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: Counter = Counter()
        for s in self.spans:
            covered = _union_length(
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.span_id, ())
            )
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str, jobs: list[dict]) -> None:
        """One JSON line per span, then the counts, per-name self times and
        the Spark jobs of the traced operations."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
            fh.write(json.dumps(
                {"counts": dict(self.counts), "self_s": self.self_times(), "jobs": jobs}
            ) + "\n")


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------------------
# wrappers installed from outside the engine
# --------------------------------------------------------------------------


def count_py4j(tracer: Tracer) -> None:
    """Count the Py4J round trips the client's thread makes as
    ``py4j.calls``. Left out: deletes of garbage-collected proxies, whose
    timing depends on Python's collector, and calls from other threads
    (the progress listener's callbacks), which land in whichever span
    is open."""
    from py4j import clientserver, java_gateway, protocol

    gc_delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    main = threading.main_thread()
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.send_command

        @functools.wraps(orig)
        def send_command(self, command, *args, _orig=orig, **kwargs):
            if (tracer.enabled and threading.current_thread() is main
                    and not command.startswith(gc_delete)):
                tracer.counts["py4j.calls"] += 1
            return _orig(self, command, *args, **kwargs)

        cls.send_command = send_command


def spanned(tracer: Tracer, span: str, fn):
    """``fn`` wrapped in a span called ``span``."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span):
            return fn(*args, **kwargs)

    return wrapper


def wrap_function(tracer: Tracer, module_name: str, attr: str, span: str) -> None:
    """Replace ``module_name.attr`` with a spanned wrapper, also in every
    loaded engine module that imported it by name."""
    import importlib

    module = importlib.import_module(module_name)
    orig = getattr(module, attr)
    wrapper = spanned(tracer, span, orig)
    for name, mod in list(sys.modules.items()):
        if name.startswith("env_data_pipeline_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapper)


# --------------------------------------------------------------------------
# Spark status store, SQL metrics, Catalyst and streaming progress
# --------------------------------------------------------------------------


class StatusStore:
    """Reads the per-stage and per-operator records of Spark jobs through
    the UI's REST API on localhost.

    Jobs are attributed to an operation by job id: the client runs one
    operation at a time, so every job submitted while it runs (also by
    streaming threads, which job groups would miss) is the operation's.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as fh:
            return json.load(fh)

    def drain(self) -> None:
        # the store is fed asynchronously from the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def last_job_id(self) -> int:
        self.drain()
        return max((j["jobId"] for j in self._rest("jobs")), default=-1)

    def record(self, after_job_id: int, build_spans: list[tuple[float, float]]
               ) -> tuple[dict[str, float], list[dict]]:
        """Summed execution, exchange and Python-worker metrics of the
        jobs with ids above ``after_job_id``; ``plans.build_jobs`` counts
        those submitted inside one of ``build_spans`` (epoch seconds).
        Also returns each job's id, description, group, stages and
        submission time."""
        self.drain()
        jobs = [j for j in self._rest("jobs") if j["jobId"] > after_job_id]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        latest: dict[int, dict] = {}
        for st in self._rest("stages"):
            sid = st["stageId"]
            if sid in stage_ids and st["status"] != "SKIPPED":
                if sid not in latest or st["attemptId"] > latest[sid]["attemptId"]:
                    latest[sid] = st
        rec = Counter()
        rec["exec.jobs"] = len(jobs)
        rec["exec.stages"] = len(latest)
        for j in jobs:
            sub = _epoch_ms(j["submissionTime"]) / 1e3 if j.get("submissionTime") else None
            if sub is not None and any(lo <= sub <= hi for lo, hi in build_spans):
                rec["plans.build_jobs"] += 1
        for st in latest.values():
            rec["exec.tasks"] += st.get("numTasks", 0)
            rec["exec.failed_tasks"] += st.get("numFailedTasks", 0)
            rec["exec.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            rec["exec.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            rec["exec.jvm_gc_s"] += st.get("jvmGcTime", 0) / 1e3
            rec["exec.scheduler_wait_s"] += _stage_wait_s(st)
            rec["scan.input_records"] += st.get("inputRecords", 0)
            rec["scan.input_bytes"] += st.get("inputBytes", 0)
            rec["exchange.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            rec["exchange.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            rec["exchange.spill_bytes"] += st.get("diskBytesSpilled", 0)
        for ex in self._rest("sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            ran |= set(ex.get("runningJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                if "Python" in node["nodeName"] or "Pandas" in node["nodeName"]:
                    _add_python_metrics(rec, node.get("metrics", []))
        brief = [
            {k: j.get(k) for k in ("jobId", "name", "description", "jobGroup", "stageIds",
                                   "submissionTime", "numTasks", "numSkippedStages")}
            for j in jobs
        ]
        return dict(rec), brief


def _stage_wait_s(st: dict) -> float:
    """Time from stage submission to its first task launch."""
    sub, first = st.get("submissionTime"), st.get("firstTaskLaunchedTime")
    if not sub or not first:
        return 0.0
    return max(_epoch_ms(first) - _epoch_ms(sub), 0) / 1e3


def _epoch_ms(stamp: str) -> float:
    # "2026-10-17T00:11:13.123GMT"
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3


def _metric_number(value: str) -> float:
    """Total of an SQL-metric string such as ``"12,345"`` or
    ``"total (min, med, max ...)\n10.4 s (2.4 s, ...)"``, in seconds for
    times and bytes for sizes."""
    head = value.splitlines()[-1].split("(")[0].strip().replace(",", "")
    parts = head.split()
    if not parts:
        return 0.0
    try:
        num = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
             "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3}
    return num * scale.get(unit, 1.0)


def _add_python_metrics(rec: Counter, metrics: list[dict]) -> None:
    """Worker time and output rows of one Arrow/pandas operator."""
    seen = set()
    for m in metrics:
        name = m["name"].lower()
        if name in seen:  # some operators list a metric twice
            continue
        seen.add(name)
        if name == "time to run python workers":
            rec["pyworker.eval_s"] += _metric_number(m["value"])
        elif name == "number of output rows":
            rec["pyworker.rows"] += _metric_number(m["value"])


def catalyst_record(df) -> dict[str, float]:
    """Catalyst phase times and the executed plan's shape for an already
    executed DataFrame."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    rec = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        rec[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    rec.update(plan_shape(qe.executedPlan().toString()))
    return rec


def plan_shape(tree: str) -> dict[str, int]:
    """Node and exchange counts of a physical plan's tree string; of an
    adaptive plan, only its final plan is counted."""
    nodes = exchanges = 0
    for line in tree.splitlines():
        if "== Initial Plan ==" in line:
            break
        body = re.sub(r"^\*\(\d+\) ", "", line.lstrip(" :+-"))
        word = body.split(" ", 1)[0].split("(", 1)[0]
        if not word or not word[0].isalpha():
            continue
        nodes += 1
        if word.endswith("Exchange") and not word.startswith("Reused"):
            exchanges += 1
    return {"catalyst.plan_nodes": nodes, "catalyst.exchanges": exchanges}


def attach_progress_listener(spark, sink: list[dict]):
    """Register a ``StreamingQueryListener`` that appends every progress
    record (as a dict) to ``sink``; returns the listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Collect()
    spark.streams.addListener(listener)
    return listener
