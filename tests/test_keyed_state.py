"""Keyed-state operators (``streaming/stateful.py``) vs plain-Python
per-key models (``tests/keyed_models.py``).

Each property replays a random event stream in three event-time
micro-batches through one operator. The key count is drawn from 1 up to
3x the operator's bucket count, so both one-key buckets and buckets
shared by several keys occur. Edges that cross batch boundaries come
for free from the event-time cuts; the generators add NULL event types
(``transition_pairs``), tombstones (``temporal_enrich``), NULL-valued
builds (``temporal_join``) and string keys (``temporal_join``,
``funnel_chain_n``).
"""

from __future__ import annotations

import random
from datetime import timedelta

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from gmall_flink_0526_spark.streaming import stateful as S
from gmall_flink_0526_spark.streaming.stateful import _bucket_count, _expire

from . import keyed_models as M

FUNNEL = ("view", "click", "cart")

# name -> (generator kwargs, operator, output rows -> comparable, model)
SPECS = {
    "daily_dedup": (
        dict(types=("view",), minutes=3 * 24 * 60),
        S.daily_dedup,
        lambda rs: {(r.user_id, r.dt, r.first_event_id) for r in rs},
        M.daily_dedup_model,
    ),
    "fix_is_new": (
        dict(types=("view",), minutes=3 * 24 * 60),
        S.fix_is_new,
        lambda rs: {(r.event_id, r.user_id, r.is_new) for r in rs},
        M.fix_is_new_model,
    ),
    "sessionize_bounce": (
        dict(types=("view",), minutes=600),
        lambda s: S.sessionize_bounce(s, gap_minutes=10),
        lambda rs: {(r.user_id, r.n_events, r.is_bounce, r.end_ts) for r in rs},
        lambda rows: M.sessionize_bounce_model(rows, 10),
    ),
    "temporal_enrich": (
        dict(
            types=("dimchange", "order", "view"), minutes=240,
            unique=("dimchange",), null_values=True,
        ),
        lambda s: S.temporal_enrich(s, val_cols=("value",)),
        lambda rs: {r.event_id: (r.build_ts, r.value) for r in rs},
        lambda rows: M.asof_model(rows, "dimchange", "order"),
    ),
    "temporal_join": (
        dict(
            types=("click", "purchase", "view"), minutes=240,
            unique=("click",), null_values=True, str_key=True,
        ),
        S.temporal_join,
        lambda rs: {
            (r.event_id, r.user_id, r.probe_ts, r.probe_value, r.build_ts, r.build_value)
            for r in rs
        },
        lambda rows: M.temporal_join_model(rows, "click", "purchase", 240),
    ),
    "transition_pairs": (
        dict(types=("view", "click", "cart", None), minutes=240),
        S.transition_pairs,
        lambda rs: sorted(((r.user_id, r.src, r.dst) for r in rs), key=repr),
        M.transition_pairs_model,
    ),
    "funnel_chain_n": (
        dict(
            types=(*FUNNEL, "purchase", "other"), minutes=240,
            unique=FUNNEL, str_key=True,
        ),
        lambda s: S.funnel_chain_n(s, stages=FUNNEL),
        lambda rs: {
            (r.event_id, r.user_id, r.probe_ts, r.cart_ts, r.click_ts, r.view_ts)
            for r in rs
        },
        lambda rows: M.funnel_chain_model(rows, FUNNEL, "purchase"),
    ),
}


@pytest.mark.parametrize("name", list(SPECS))
@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_keyed_operator_matches_per_key_model(spark, name, data):
    gen, op, got_of, model = SPECS[name]
    n_keys = data.draw(st.integers(1, 3 * _bucket_count(spark)), label="n_keys")
    seed = data.draw(st.integers(0, 2**32 - 1), label="seed")
    rows = M.gen_rows(random.Random(seed), n_keys, **gen)
    got = got_of(
        M.replay_rows(
            spark, rows, op, minutes=gen["minutes"], str_key=gen.get("str_key", False)
        )
    )
    assert got == model(rows)


class _FakeState:
    """The slice of ``GroupState`` a bucket body uses, on a clock the
    test sets, so processing-time TTLs can pass without waiting."""

    def __init__(self):
        self.value, self.deadline, self.now, self.hasTimedOut = None, None, 0, False

    exists = property(lambda self: self.value is not None)
    get = property(lambda self: self.value)

    def getCurrentProcessingTimeMs(self):
        return self.now

    def update(self, v):
        self.value = tuple(v)

    def remove(self):
        self.value = self.deadline = None

    def setTimeoutDuration(self, ms):
        self.deadline = self.now + ms


def test_expire_is_per_key_and_arms_earliest_deadline():
    """The TTL rule of the TTL operators, without Spark: a key expires
    once idle for the TTL (boundary included), independent of the other
    keys in its bucket; the keys that stay are written back, and the
    bucket's timer is armed at their earliest deadline — not a full TTL
    from now."""
    st = _FakeState()
    st.now = 100
    # fields (value, last update): 5 ago, exactly ttl ago, long ago, now
    stored = {"a": ["x", 95], "b": ["y", 90], "c": ["z", 10], "d": ["w", 100]}
    assert _expire(st, stored, 100, 10) == [("b", ["y", 90]), ("c", ["z", 10])]
    assert st.get == (["a", "d"], ["x", "w"], [95, 100])
    assert st.deadline == 105
    # a key updated every call never extends an idle key's lifetime
    for now in range(3, 13, 3):
        st.now = now
        gone = _expire(st, {"idle": [0], "busy": [now]}, now, 10)
        assert gone == ([("idle", [0])] if now >= 10 else [])
        assert st.deadline == (10 if now < 10 else now + 10)
    # nothing left: the state goes, with no timer
    assert _expire(st, {"a": [0]}, 100, 10) == [("a", [0])]
    assert not st.exists and st.deadline is None


def _bucket_body(monkeypatch, spark, op):
    """The per-bucket function ``op`` would hand to Spark."""
    monkeypatch.setattr(S, "_by_bucket", lambda events, key, fn, *_: fn)
    return op(spark.createDataFrame([], "event_id long, ts timestamp, user_id long"))


def _call(fn, st, now, rows=None):
    st.now, st.hasTimedOut = now, rows is None
    pdfs = [] if rows is None else [pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])]
    return pd.concat(list(fn((0,), iter(pdfs), st)) or [pd.DataFrame()])


def test_ttl_is_per_key_within_a_bucket(spark, monkeypatch):
    """Two keys share a bucket; key 2 gets data every half TTL, key 1
    goes idle. Key 1 must leave state (daily_dedup) or emit its open
    session (sessionize_bounce) once idle for the TTL, while key 2
    keeps the bucket busy, and the timer must stay at key 1's deadline
    instead of moving a full TTL past each call."""
    day = S.DAY_MS
    t0 = M.BASE
    dd = _bucket_body(monkeypatch, spark, S.daily_dedup)
    st = _FakeState()
    _call(dd, st, 0, [(1, t0, 1), (2, t0, 2)])
    _call(dd, st, day // 2, [(3, t0 + timedelta(hours=1), 2)])
    assert st.deadline == day
    _call(dd, st, day, [(4, t0 + timedelta(hours=2), 2)])
    assert list(st.get[0]) == [2]
    # key 1's state expired, so a same-day visit counts as new again
    out = _call(dd, st, day + 1, [(5, t0 + timedelta(hours=3), 1)])
    assert out["first_event_id"].tolist() == [5]

    gap_ms = 10 * 60 * 1000
    sb = _bucket_body(monkeypatch, spark, lambda s: S.sessionize_bounce(s, gap_minutes=10))
    st = _FakeState()
    _call(sb, st, 0, [(1, t0, 1), (2, t0, 2)])
    _call(sb, st, gap_ms // 2, [(3, t0 + timedelta(minutes=1), 2)])
    assert st.deadline == gap_ms
    out = _call(sb, st, gap_ms, [(4, t0 + timedelta(minutes=2), 2)])
    assert out[["user_id", "n_events", "is_bounce"]].values.tolist() == [[1, 1, True]]
    assert list(st.get[0]) == [2]
    # the timer fires with no data: key 2's open session closes
    out = _call(sb, st, gap_ms * 2)
    assert out[["user_id", "n_events"]].values.tolist() == [[2, 3]]
    assert not st.exists
