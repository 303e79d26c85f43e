"""Plain-Python per-key models of the keyed-state streaming operators
(``streaming/stateful.py``), plus a random event-stream generator and
a replay helper for checking the operators against them.

Each model walks one key's rows in event-time order with ordinary
Python; none knows about buckets, Arrow or the state store. Apart from
:func:`temporal_join_model` (whose NULL-value carry stops at a batch
boundary by contract) the models ignore micro-batching entirely, so a
state carry-over defect shows up as a difference.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timedelta

from pyspark.sql import functions as F

BASE = datetime(2026, 1, 1)
BASE_S = int((BASE - datetime(1970, 1, 1)).total_seconds())
N_BATCHES = 3


def gen_rows(
    rnd,
    n_keys: int,
    *,
    types: tuple,
    minutes: int,
    unique: tuple = (),
    null_values: bool = False,
    str_key: bool = False,
    max_rows: int = 150,
) -> list[tuple]:
    """Random ``(event_id, ts, key, event_type, value)`` rows over
    ``n_keys`` keys and ``minutes`` minutes of event time. Rows whose
    type is in ``unique`` keep (key, ts, type) unique — the operators'
    pre-aggregated-ties contract — by dropping repeats."""
    rows, used = [], set()
    for i in range(rnd.randint(1, max_rows)):
        k = rnd.randrange(n_keys)
        t = rnd.randint(0, minutes)
        typ = rnd.choice(types)
        if typ in unique:
            if (k, t, typ) in used:
                continue
            used.add((k, t, typ))
        val = None if null_values and rnd.random() < 0.25 else float(rnd.randint(0, 9))
        rows.append(
            (i, BASE + timedelta(minutes=t), f"u{k}" if str_key else k, typ, val)
        )
    return rows


def batch_of(ts: datetime, minutes: int) -> int:
    """Micro-batch of an event time: ``N_BATCHES`` event-time cuts, so
    equal timestamps always share a batch. Twin of :func:`file_of`."""
    m = int((ts - BASE).total_seconds()) // 60
    return min(m * N_BATCHES // (minutes + 1), N_BATCHES - 1)


def file_of(minutes: int):
    return F.expr(
        f"least((((unix_seconds(ts) - {BASE_S}) div 60) * {N_BATCHES}) "
        f"div {minutes + 1}, {N_BATCHES - 1})"
    )


def replay_rows(spark, rows: list[tuple], op, *, minutes: int, str_key: bool = False):
    """Replay ``rows`` through ``op`` in ``N_BATCHES`` event-time
    micro-batches and collect the output rows."""
    from gmall_flink_0526_spark.streaming.replay import replay_stateful

    src = spark.createDataFrame(
        rows,
        f"event_id long, ts timestamp, user_id {'string' if str_key else 'long'}, "
        "event_type string, value double",
    )
    return replay_stateful(
        spark, src, op, order_by=["ts", "event_id"], n_files=N_BATCHES,
        shuffle_partitions=2, file_of=file_of(minutes),
    ).collect()


def _by_key(rows):
    out = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        out[r[2]].append(r)
    return out


def daily_dedup_model(rows) -> set:
    """(key, day, first event id) per key per calendar day."""
    first = {}
    for i, ts, k, *_ in sorted(rows, key=lambda r: (r[1], r[0])):
        first.setdefault((k, ts.strftime("%Y-%m-%d")), i)
    return {(k, d, i) for (k, d), i in first.items()}


def fix_is_new_model(rows) -> set:
    """(event id, key, '1' on the key's first-seen day else '0')."""
    out = set()
    for k, rs in _by_key(rows).items():
        day0 = rs[0][1].date()
        out |= {(i, k, "1" if ts.date() == day0 else "0") for i, ts, *_ in rs}
    return out


def closed_sessions(ts_by_key, gap: timedelta) -> list[tuple]:
    """(key, n_events, end_ts) of every session closed by a successor
    event: a gap strictly greater than ``gap`` opens a new session, and
    each key's last (open) session is not emitted. ``ts_by_key`` maps a
    key to its event times in (ts, id) order."""
    out = []
    for k, tss in ts_by_key.items():
        n, last = 0, None
        for t in tss:
            if last is not None and (t - last) > gap:
                out.append((k, n, last))
                n = 0
            n += 1
            last = t
    return out


def sessionize_bounce_model(rows, gap_minutes: int) -> set:
    ts_by_key = {k: [r[1] for r in rs] for k, rs in _by_key(rows).items()}
    return {
        (k, n, n == 1, end)
        for k, n, end in closed_sessions(ts_by_key, timedelta(minutes=gap_minutes))
    }


def asof_model(rows, build_type: str, probe_type: str) -> dict:
    """Backward-inclusive as-of: each probe id -> (ts, value) of its
    key's latest build at or before it, (None, None) when there is
    none. A build with a NULL value (a tombstone) is a version too."""
    builds = {(r[2], r[1]): r[4] for r in rows if r[3] == build_type}
    out = {}
    for i, ts, k, typ, _ in rows:
        if typ != probe_type:
            continue
        cands = [(bt, bv) for (bk, bt), bv in builds.items() if bk == k and bt <= ts]
        out[i] = max(cands, key=lambda c: c[0]) if cands else (None, None)
    return out


def temporal_join_model(rows, build_type: str, probe_type: str, minutes: int) -> set:
    """(id, key, probe_ts, probe_value, build_ts, build_value). The
    build value is carried by a value-level fill, so a NULL-valued
    build shows the key's previous non-NULL value from the SAME batch;
    across a batch boundary only the stored last build carries."""
    out = set()
    for k, rs in _by_key(rows).items():
        bts = bval = None
        for b in range(N_BATCHES):
            seq = sorted(
                (r for r in rs if batch_of(r[1], minutes) == b and r[3] in (build_type, probe_type)),
                key=lambda r: (r[1], r[3] != build_type),
            )
            last_ts, last_val = bts, bval
            for i, ts, _, typ, val in seq:
                if typ == build_type:
                    last_ts = ts
                    last_val = val if val is not None else last_val
                    bts, bval = ts, val
                else:
                    out.add((i, k, ts, val, last_ts, last_val))
    return out


def transition_pairs_model(rows) -> list:
    """Sorted (key, src, dst) for every row with a predecessor and a
    non-NULL type; the predecessor's type may be NULL."""
    out = []
    for k, rs in _by_key(rows).items():
        out += [(k, a[3], b[3]) for a, b in zip(rs, rs[1:]) if b[3] is not None]
    return sorted(out, key=repr)


def funnel_chain_model(rows, stages: tuple, probe_type: str) -> set:
    """(id, key, probe_ts, stages[-1] ts, ..., stages[0] ts): the
    latest last-stage row at or before the probe, then for each level
    the latest previous-stage row at or before that one; NULL from the
    first missing level on."""
    out = set()
    for k, rs in _by_key(rows).items():
        at = {s: sorted(r[1] for r in rs if r[3] == s) for s in stages}
        for i, ts, _, typ, _ in rs:
            if typ != probe_type:
                continue
            chain, cur = [], ts
            for s in reversed(stages):
                prior = [t for t in at[s] if cur is not None and t <= cur]
                cur = prior[-1] if prior else None
                chain.append(cur)
            out.add((i, k, ts, *chain))
    return out
