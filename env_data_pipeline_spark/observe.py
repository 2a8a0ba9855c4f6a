"""One record of what a Spark action did: ``observe(spark, action)``.

Bench, the shuffle-pin tests, the streaming bounded-state tests and
``scripts/qprofile.py`` all read this record. Job and stage figures
come from the UI status store's REST API (``spark.ui.enabled``, see
``session.get_spark``); streaming progress comes from a
``StreamingQueryListener`` attached only while the action runs.

On a real cluster the identical numbers come from the history server /
event log — this module is the local[N] stand-in, not a test-only
trick.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["observe"]


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url) as fh:
        return json.load(fh)


class _ProgressByName(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["name"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def observe(spark, action: Callable[[], object]) -> dict:
    """Run ``action`` under a unique job group and return its record:

    - ``value``: what ``action`` returned;
    - ``wall_s``: its wall time;
    - ``jobs``: the number of jobs the group ran;
    - ``stages``: the REST stage dicts of those jobs, latest attempt
      only (a retried stage is not double-counted), SKIPPED stages
      left out (a reused exchange moved nothing);
    - ``shuffle_read_bytes`` / ``shuffle_write_bytes``: summed over
      ``stages``;
    - ``streaming``: per query name, the progress dict of every
      micro-batch that reported while ``action`` ran.

    Streaming micro-batch jobs run under Spark's own run-id job group,
    so they are not in ``jobs``, ``stages`` or the byte sums; their
    figures are in ``streaming``.
    """
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError("observe needs spark.ui.enabled=true")
    listener = _ProgressByName()
    spark.streams.addListener(listener)
    group = f"observe-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        value = action()
        wall_s = time.perf_counter() - t0
    finally:
        sc.setJobGroup("", "")
        # the status store and the progress listener are fed
        # asynchronously from the listener bus — an immediate read can
        # miss trailing stage metrics, whole jobs or the last progress.
        # 10 s is far beyond local-mode event latency.
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        spark.streams.removeListener(listener)
    jobs = [j for j in _rest(sc, "jobs") if j.get("jobGroup") == group]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    # one REST row per stage ATTEMPT — keep only the latest
    latest: dict[int, dict] = {}
    for st in _rest(sc, "stages"):
        sid = st["stageId"]
        if sid in stage_ids and st["status"] != "SKIPPED":
            if sid not in latest or st["attemptId"] > latest[sid]["attemptId"]:
                latest[sid] = st
    stages = list(latest.values())
    return {
        "value": value,
        "wall_s": wall_s,
        "jobs": len(jobs),
        "stages": stages,
        "shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in stages),
        "shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in stages),
        "streaming": listener.progress,
    }
