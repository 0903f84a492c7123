"""Property tests for the streaming CEP state machines (streaming/cep.py),
run WITHOUT Spark: a faithful GroupState stand-in drives the exact pandas
functions Spark would call, under hypothesis-generated random event sets,
random micro-batch partitionings, and the real watermark contract —
events strictly below the during-batch watermark are dropped before
delivery (Spark's late filter admits ts == wm), watermarks are nondecreasing and lag arrivals by
``delay``, and armed event-time timers fire whenever the watermark passes
them (including cascaded firings during the final drain).

The references are brute-force sequential implementations over exactly the
DELIVERED events in (ts, event_id) order — what the batch mirrors (q64 /
q66) compute. Any divergence between buffered-replay streaming execution
and the batch semantics (ordering, gap boundaries, strictness, truncation,
timer scheduling) fails here with a shrunk counterexample.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from maxx_spark.streaming.cep import _make_funnel_fn, _make_paths_fn

STEPS = ("view", "click", "purchase")
TYPES = ["view", "click", "purchase", "noop"]


class FakeState:
    """The GroupState subset cep.py uses, with Spark's semantics: update()
    must carry a tuple matching the state schema, setTimeoutTimestamp must
    exceed the current watermark, remove() clears the timer."""

    def __init__(self):
        self.exists = False
        self._value = None
        self.hasTimedOut = False
        self.wm = 0
        self.timeout = None

    @property
    def get(self):
        assert self.exists
        return self._value

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, value):
        self._value = tuple(value)
        self.exists = True

    def remove(self):
        self._value = None
        self.exists = False
        self.timeout = None

    def setTimeoutTimestamp(self, ms):
        assert ms > self.wm, f"timer {ms} not ahead of watermark {self.wm}"
        self.timeout = ms


def _pdf(events):
    return pd.DataFrame(
        {
            "ts": [pd.Timestamp(ms * 1_000_000) for ms, _, _ in events],
            "event_id": [eid for _, eid, _ in events],
            "event_type": [t for _, _, t in events],
        }
    )


def _drive(fn, batches, delay_ms, horizon_ms):
    """Run fn over the batch schedule with Spark's watermark rules; returns
    (emitted row tuples, delivered events). Watermark for batch k = max
    event ts seen in batches 0..k-1 minus delay (never regressing); rows
    with ts < wm are dropped before delivery (ts == wm is admitted). After the schedule, the
    watermark advances to horizon and armed timers fire until quiescent."""
    state = FakeState()
    out, delivered = [], []
    wm, seen_max = 0, 0
    for batch in batches:
        live = [e for e in batch if e[0] >= wm]
        delivered.extend(live)
        if live:
            state.hasTimedOut = False
            for df in fn((7,), iter([_pdf(live)]), state):
                out.extend(tuple(r) for r in df.itertuples(index=False))
        seen_max = max([seen_max] + [e[0] for e in batch])
        wm = max(wm, seen_max - delay_ms)
        # fire any timer the new watermark has passed (Spark checks per batch)
        while state.exists and state.timeout is not None and state.timeout <= wm:
            state.wm = wm
            state.hasTimedOut = True
            for df in fn((7,), iter([]), state):
                out.extend(tuple(r) for r in df.itertuples(index=False))
            state.hasTimedOut = False
        state.wm = wm
    # final drain: heartbeats push the watermark to the horizon
    wm = horizon_ms
    state.wm = wm
    while state.exists and state.timeout is not None and state.timeout <= wm:
        state.hasTimedOut = True
        for df in fn((7,), iter([]), state):
            out.extend(tuple(r) for r in df.itertuples(index=False))
        state.hasTimedOut = False
        state.wm = wm
    return out, delivered


def _events_strategy():
    # unique (ts, event_id): ids are unique by construction; ts collides
    # freely to exercise the event_id tiebreak
    return st.lists(
        st.tuples(st.integers(min_value=1, max_value=60_000), st.sampled_from(TYPES)),
        min_size=0,
        max_size=14,
    ).map(lambda l: [(ts, i, t) for i, (ts, t) in enumerate(l)])


def _schedule_strategy():
    return st.tuples(
        _events_strategy(),
        st.randoms(use_true_random=False),
        st.integers(min_value=1, max_value=4),  # number of micro-batches
        st.sampled_from([5_000, 20_000, 100_000]),  # watermark delay ms
        # the pattern itself varies too: 1-4 steps, repeats allowed
        # (view>view requires strictly increasing ts between SAME types)
        st.lists(st.sampled_from(TYPES[:3]), min_size=1, max_size=4).map(tuple),
    )


def _split(events, rnd, n_batches):
    shuffled = list(events)
    rnd.shuffle(shuffled)
    cuts = sorted(rnd.randrange(0, len(shuffled) + 1) for _ in range(n_batches - 1))
    return [shuffled[a:b] for a, b in zip([0] + cuts, cuts + [len(shuffled)])]


@settings(max_examples=150, deadline=None, derandomize=True)
@given(_schedule_strategy())
def test_funnel_stream_fn_matches_sequential(sched):
    events, rnd, n_batches, delay, steps = sched
    batches = _split(events, rnd, n_batches)
    fn = _make_funnel_fn(steps, deadline_ms=10_000_000)
    out, delivered = _drive(fn, batches, delay, horizon_ms=100_000_000)

    # reference: strict first-touch funnel over delivered events in order
    want, last = [], None
    for ms, eid, t in sorted(delivered):
        k = len(want)
        if k < len(steps) and t == steps[k] and (last is None or ms > last):
            want.append((7, k, steps[k], ms))
            last = ms
    assert sorted(out) == sorted(want), (batches, delay, steps)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(_schedule_strategy())
def test_session_paths_fn_matches_sequential(sched):
    events, rnd, n_batches, delay, _steps = sched
    batches = _split(events, rnd, n_batches)
    gap = 8_000
    fn = _make_paths_fn(gap_ms=gap, max_len=3)
    out, delivered = _drive(fn, batches, delay, horizon_ms=100_000_000)

    # reference: gap sessionization over delivered events in order
    want, cur = [], []
    for ms, eid, t in sorted(delivered):
        if cur and ms > cur[-1][0] + gap:
            want.append((7, cur[0][0], ">".join(x[1] for x in cur[:3]), len(cur)))
            cur = []
        cur.append((ms, t))
    if cur:
        want.append((7, cur[0][0], ">".join(x[1] for x in cur[:3]), len(cur)))
    assert sorted(out) == sorted(want), (batches, delay)


def test_funnel_no_restart_after_completion():
    """Regression (r6 skew bench): a completed funnel must TOMBSTONE, not
    remove — state.remove() made a later event restart the funnel and
    re-emit (first-touch is once per user for the whole active horizon).
    The tombstone evicts only via the deadline timer."""
    fn = _make_funnel_fn(("view",), deadline_ms=10_000_000)
    batches = [
        [(1000, 0, "view")],
        [(30_000, 1, "noop")],   # watermark passes the view -> completion
        [(31_000, 2, "view")],   # post-completion event must NOT re-emit
    ]
    out, _ = _drive(fn, batches, 5_000, horizon_ms=100_000_000)
    assert out == [(7, 0, "view", 1000)]


def test_null_event_time_is_ignored():
    """Spark hands a null ts over as NaT, not None. Such an event cannot be
    ordered: neither operator may buffer, replay or emit it (a NaT once
    replayed as ts -9223372036855 ms, entered the funnel at step 0 and
    opened a session there)."""
    pdf = _pdf([(0, 0, "view"), (60_000, 1, "click"), (61_000, 2, "purchase")])
    pdf.loc[0, "ts"] = pd.NaT
    fns = {
        "funnel": _make_funnel_fn(STEPS, deadline_ms=10_000_000),
        "paths": _make_paths_fn(gap_ms=8_000, max_len=3),
    }
    got = {}
    for name, fn in fns.items():
        state, out = FakeState(), []
        out += [tuple(r) for df in fn((7,), iter([pdf]), state) for r in df.itertuples(index=False)]
        state.wm, state.hasTimedOut = 100_000_000, True  # the ripeness timer fires
        out += [tuple(r) for df in fn((7,), iter([]), state) for r in df.itertuples(index=False)]
        got[name] = out
    # no view with a ts, so no funnel entry; the session starts at the click
    assert got == {"funnel": [], "paths": [(7, 60_000, "click>purchase", 2)]}
