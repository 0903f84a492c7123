"""Streaming CEP: per-user strict-order funnel matching — the streaming
twin of ``operators/windows.event_funnel`` (q64), built on
``applyInPandasWithState`` with event-time timers.

Semantics (identical to the batch mirror): a user advances to step k on the
FIRST event of type ``steps[k]`` whose timestamp is STRICTLY after the
user's step-(k-1) time (first-touch). Out-of-order arrival cannot change
the match: incoming events are buffered in state and replayed in
(ts, event_id) order only once the event-time watermark has passed them —
the same finalize-below-the-watermark discipline Spark's own windowed
aggregates use, so a network-reordered stream and the batch mirror emit the
same (user, step) set whenever the watermark ``delay`` covers the arrival
disorder (events later than that are dropped by Spark's watermark filter
before reaching the operator — the standard contract, identical to E2).
Because finalized events are replayed in event-time order and anything
older than the watermark can never arrive, a finalized event that does not
match the user's current step is discarded exactly — no earlier-ts event
can appear afterwards to change the machine's past. Completed funnels keep
a tombstone and every funnel is evicted by an event-time timer ``deadline``
past the user's newest event (state is bounded by ACTIVE users in the
deadline horizon, not by corpus history — the E6 lesson, resolver.py:118).

Both operators (funnel, session paths) buffer through one replay core,
``_replay``, and keep only their step machine, state schema (the three
buffer fields first) and timer policy. A null ``ts`` event cannot be
ordered, so both ignore it: never buffered, replayed or on the user's
clock. The batch mirror q64 still counts a null-ts step-0 event as a
funnel entry (its ``min(ts)`` is NULL and no later step follows); its
oracle pair is unchanged.

No filter sits between ``withWatermark`` and the stateful operator
(CLAUDE.md invariant: Catalyst would push it below the watermark node and
freeze the clock): every event of every type reaches its user's key;
non-step types merely advance the user's clock and are never buffered.

Scale: one shuffle, keyed by uniform user_id. Per-user state holds only
not-yet-finalized step-type events inside the watermark delay plus at most
len(steps) matched timestamps — arrival-rate bounded, not history bounded.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from maxx_spark.streaming.clock import event_ms

FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("step_idx", IntegerType()),
        StructField("step", StringType()),
        StructField("step_ts_ms", LongType()),
    ]
)

FUNNEL_STATE = StructType(
    [
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_type", ArrayType(StringType())),
        StructField("step_ts", ArrayType(LongType())),
        StructField("max_ts", LongType()),
    ]
)


def _replay(pdfs: Iterator[pd.DataFrame], state: GroupState, keep=None):
    """The watermark-replay core of both operators. Merges the buffered
    events (the state's first three fields) with the group's input, keeping
    only event types in ``keep`` (all when None) and skipping null ts.
    Returns ``(ripe, held, wm, newest)``: the events strictly below the
    watermark as sorted (ts, event_id, event_type) tuples, the rest as the
    three buffer lists for ``state.update``, the watermark, and the newest
    input ts (0 without input)."""
    buf = list(zip(*state.get[:3])) if state.exists else []
    newest = 0
    for pdf in pdfs:  # timer firings carry no input rows
        for ms, eid, etype in zip(event_ms(pdf["ts"]), pdf["event_id"].tolist(), pdf["event_type"]):
            if ms is None:
                continue
            newest = max(newest, ms)
            if keep is None or etype in keep:
                buf.append((ms, eid, str(etype)))
    wm = state.getCurrentWatermarkMs()
    # STRICTLY below the watermark only (r6 advisory): Spark's late
    # filter admits an event with ts exactly equal to the watermark, so
    # finalizing at <= wm could order a same-ms straggler after events
    # already replayed — ts == wm stays buffered until wm passes it
    ripe = sorted(ev for ev in buf if ev[0] < wm)
    held = [ev for ev in buf if ev[0] >= wm]
    return ripe, [[ev[i] for ev in held] for i in range(3)], wm, newest


def _attach(events: DataFrame, fn, out: StructType, state: StructType, delay: str) -> DataFrame:
    e = events.select("user_id", "event_id", "event_type", "ts").withWatermark("ts", delay)
    return e.groupBy("user_id").applyInPandasWithState(
        fn, out, state, "append", GroupStateTimeout.EventTimeTimeout
    )


def _make_funnel_fn(steps: tuple[str, ...], deadline_ms: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        step_ts, max_ts = (list(state.get[3]), state.get[4]) if state.exists else ([], 0)
        was_complete = len(step_ts) >= len(steps)
        # buffer only types that can still match: steps only advance,
        # so anything outside the REMAINING suffix can never be used —
        # per-user state shrinks as the funnel progresses (a bot
        # re-sending completed-step types buffers nothing); other types
        # only advance the clock
        ripe, held, wm, newest = _replay(pdfs, state, keep=set(steps[len(step_ts):]))
        max_ts = max(max_ts, newest)
        out: list[tuple] = []
        for ms, eid, etype in ripe:
            if len(step_ts) >= len(steps):
                break
            need = steps[len(step_ts)]
            if etype == need and (not step_ts or ms > step_ts[-1]):
                step_ts.append(ms)
                out.append((user_id, len(step_ts) - 1, need, ms))

        if state.hasTimedOut and was_complete:
            state.remove()  # tombstone past its deadline: evict
        elif len(step_ts) >= len(steps):
            # complete: keep a TOMBSTONE (steps full, buffer empty) so
            # post-completion events cannot RESTART the funnel — removing
            # immediately made a mega-user re-enter and re-emit (caught by
            # the r6 skew bench: rows_out inflated, throughput -34%). The
            # deadline timer evicts the tombstone; an active user keeps
            # re-arming it, so no-re-entry holds for the whole active
            # horizon (the standard streaming-state guarantee bound).
            state.update(([], [], [], step_ts, max_ts))
            state.setTimeoutTimestamp(max(max_ts, wm) + deadline_ms)
        elif state.hasTimedOut and not held[0] and wm >= max_ts + deadline_ms:
            state.remove()  # idle past the deadline: expire the funnel
        else:
            state.update((*held, step_ts, max_ts))
            if held[0]:
                # ripeness timer: groups get NO further invocations without
                # input, so re-fire just past the earliest buffered event
                # (strictly ahead of wm — anything < wm was finalized above)
                state.setTimeoutTimestamp(min(held[0]) + 1)
            else:
                # expiry timer: deadline past the newer of user clock and
                # watermark (timestamps behind the watermark throw)
                state.setTimeoutTimestamp(max(max_ts, wm) + deadline_ms)
        if out:
            yield pd.DataFrame(out, columns=FUNNEL_OUT.fieldNames())

    return fn


def funnel_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    delay: str = "10 minutes",
    deadline: str = "1 hour",
) -> DataFrame:
    """Attach the streaming funnel to a (streaming or batch) events frame
    with columns (user_id, event_id, event_type, ts). Emits one append-mode
    row per (user, reached step) with the first-touch event time;
    ``groupBy(step_idx).count()`` over a drained stream equals q64's
    n_users column (parity pinned by test_streaming_funnel_*)."""
    _UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
              "hour": 3600, "hours": 3600}
    try:
        n, unit = deadline.split()
        deadline_ms = int(n) * _UNITS[unit] * 1000
    except (ValueError, KeyError):
        raise ValueError(
            f"deadline must look like '<n> second(s)|minute(s)|hour(s)', got {deadline!r}"
        ) from None
    return _attach(events, _make_funnel_fn(tuple(steps), deadline_ms), FUNNEL_OUT, FUNNEL_STATE, delay)


# ---------------------------------------------------------------------------
# Streaming session-path assembly (streaming twin of q66)
# ---------------------------------------------------------------------------

PATHS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("path", StringType()),
        StructField("n_events", IntegerType()),
    ]
)

PATHS_STATE = StructType(
    [
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_type", ArrayType(StringType())),
        # open session, O(max_len) regardless of session length: only the
        # HEAD (first max_len finalized (ts, type) pairs — all the path
        # ever renders), the last event ts (the gap horizon), and the
        # event count. A bot streaming one endless session grows NOTHING.
        StructField("cur_ts", ArrayType(LongType())),
        StructField("cur_type", ArrayType(StringType())),
        StructField("cur_last", LongType()),
        StructField("cur_n", IntegerType()),
    ]
)


def _make_paths_fn(gap_ms: int, max_len: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.exists:
            cur_ts, cur_type, cur_last, cur_n = state.get[3:]
            head = list(zip(cur_ts, cur_type))
        else:
            head, cur_last, cur_n = [], 0, 0
        ripe, held, wm, _ = _replay(pdfs, state)

        out: list[tuple] = []

        def close():
            out.append((user_id, head[0][0], ">".join(t for _, t in head), cur_n))

        for ms, eid, etype in ripe:
            if cur_n and ms > cur_last + gap_ms:
                close()
                head, cur_n = [], 0
            if cur_n < max_len:
                head.append((ms, etype))
            cur_last, cur_n = ms, cur_n + 1
        # the open session closes once the WATERMARK has passed its gap —
        # no event at or below cur_last + gap can arrive anymore
        if cur_n and wm > cur_last + gap_ms:
            close()
            head, cur_n = [], 0

        if not cur_n and not held[0]:
            if state.exists:
                state.remove()  # nothing pending: a future event recreates state
        else:
            state.update((*held, [e[0] for e in head], [e[1] for e in head], cur_last, cur_n))
            if held[0]:
                state.setTimeoutTimestamp(min(held[0]) + 1)
            else:  # open session only: fire once its gap elapses
                state.setTimeoutTimestamp(max(cur_last + gap_ms, wm) + 1)
        if out:
            yield pd.DataFrame(out, columns=PATHS_OUT.fieldNames())

    return fn


def session_paths_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    max_len: int = 8,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/windows.session_event_paths`` (q66):
    gap-based session assembly per user with watermark-ordered replay.
    Emits one append-mode row per CLOSED session — a session closes when an
    in-order event lands beyond the gap, or when the watermark itself
    passes the gap horizon (an event-time timer fires the flush, so idle
    sessions emit without waiting for more traffic). State per user =
    not-yet-finalized events inside the watermark delay + O(max_len) for
    the open session (head types + last ts + count — a bot streaming one
    endless session grows NOTHING with session length) — arrival-rate
    bounded. groupBy(path) counts over a drained stream equal the batch
    mirror's n_sessions (parity pinned by test)."""
    return _attach(
        events, _make_paths_fn(int(gap_seconds) * 1000, max_len), PATHS_OUT, PATHS_STATE, delay
    )
