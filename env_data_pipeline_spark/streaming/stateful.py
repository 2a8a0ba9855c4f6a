"""Kernels and schemas for the custom stateful streaming operators
built with applyInPandasWithState (SURVEY.md §2.9 engine-native; the
charter's named mechanism for operators Spark's built-ins can't
express). The queries that run them are
plans/streaming_queries.py::streaming_stateful_event_totals and
streaming_stateful_session_expiry.

Running per-event-type totals with explicit keyed state: each
micro-batch folds its Arrow batches into the group's state
(count, sum) and emits the running total. The final emitted row per
key equals the batch aggregation, which is what makes this the rare
stateful operator with a full SQL oracle.

Scale posture: state is two numbers per key, partitioned by the
group key in the state store; throughput is bounded by the Arrow
batch transfer, not per-row Python. The kernel is a nested closure so
executors never need this repo on PYTHONPATH (cloudpickle serializes
it by value).
"""

from __future__ import annotations

from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("v", T.DoubleType())]
)


def _make_totals_fn():
    def update_totals(key, pdfs, state):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        import pandas as pd

        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "total_value": [v]}
        )

    return update_totals


SESSION_GAP_MS = 30 * 60 * 1000
SESSION_GAP_US = SESSION_GAP_MS * 1000

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("v_u", T.ArrayType(T.LongType())),
    ]
)


def _make_session_expiry_fn():
    """Kernel for idle-session expiry with EVENT-TIME TIMEOUT state
    eviction (VERDICT r5 item 6). Nested closure: cloudpickle
    serializes by value, executors never import this repo.

    Finality is WATERMARK-GATED — the same rule as Spark's built-in
    session windows: a session emits exactly once, when the GroupState
    ms clock proves no admissible event can still join it
    (``floor(last_event_us/1000) + 30 min < watermark_ms``; any event
    that could merge would carry event time below the watermark and
    is dropped before the kernel sees it). State per key is the RAW
    (ts, value) list of the not-yet-final suffix, re-split from
    scratch every invocation — so an out-of-order-but-admitted event
    that belongs BEFORE the open session's start, or that bridges two
    still-open sessions, lands exactly where a global sort would put
    it (ADVICE r6: the previous fold-into-open-session shortcut
    diverged from the sorted-oracle under multi-batch replay).
    Because session finality is monotone in event time, the final
    set is always a PREFIX of the split and the kept suffix stays
    contiguous. Each batch re-arms the event-time timeout at the
    earliest pending finality instant (>= watermark by construction,
    so arming never throws); the timed-out path re-splits, emits the
    newly-final prefix, and REMOVES state when nothing is pending —
    idle keys cannot accrete state forever. State is bounded by the
    admission horizon (events within watermark-delay + gap of the
    stream head), not by history.

    Money discipline: values fold as round-half-up 1e-4 integer units
    so the emitted total is summation-order-proof against the SQL
    oracle."""

    def expire_sessions(key, pdfs, state):
        import pandas as pd

        pts: list[int] = []
        pvs: list[int] = []
        if state.exists:
            st_ts, st_v = state.get
            pts.extend(int(t) for t in st_ts)
            pvs.extend(int(v) for v in st_v)
        if not state.hasTimedOut:
            import numpy as np

            frames = [p[["ts", "value"]] for p in pdfs if len(p)]
            if frames:
                batch = pd.concat(frames)
                # Arrow hands ts as datetime64[ns]; event time in micros
                pts.extend((batch["ts"].astype("int64") // 1000).tolist())
                # round-half-up 1e-4 units, the same floor(x*1e4 + 0.5)
                # the oracle replays (values are non-negative here)
                pvs.extend(
                    np.floor(batch["value"].to_numpy() * 10000.0 + 0.5)
                    .astype("int64")
                    .tolist()
                )
        if not pts:
            if state.exists:
                state.remove()
            return
        order = sorted(range(len(pts)), key=pts.__getitem__)
        pts = [pts[i] for i in order]
        pvs = [pvs[i] for i in order]
        # re-split the full pending list on >= 30 min gaps (the same
        # extends-iff-strictly-before-prev+gap rule as Spark session
        # windows); sessions come out in time order
        bounds = [0]
        bounds += [
            i for i in range(1, len(pts)) if pts[i] - pts[i - 1] >= SESSION_GAP_US
        ]
        bounds.append(len(pts))
        wm_ms = state.getCurrentWatermarkMs()
        closed = []  # final sessions: (start_us, last_us, n, v_units)
        keep_from = len(pts)  # start index of the first kept event
        pending_fire_ms = None  # earliest pending finality instant
        for s, e in zip(bounds[:-1], bounds[1:]):
            last_us = pts[e - 1]
            fire_ms = last_us // 1000 + SESSION_GAP_MS
            if fire_ms < wm_ms:
                closed.append((pts[s], last_us, e - s, sum(pvs[s:e])))
            else:
                keep_from = s
                pending_fire_ms = fire_ms
                break
        if keep_from < len(pts):
            state.update((pts[keep_from:], pvs[keep_from:]))
            # >= wm_ms by the finality test above, so this never throws
            state.setTimeoutTimestamp(pending_fire_ms)
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] + SESSION_GAP_US for c in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] / 10000.0 for c in closed],
                }
            )

    return expire_sessions
