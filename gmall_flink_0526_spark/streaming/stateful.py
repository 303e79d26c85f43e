"""Custom stateful streaming operators via ``applyInPandasWithState``.

These are the operators whose semantics Spark's built-ins cannot
express exactly (SURVEY §2.4/§2.9): keyed ValueState with TTL and
CEP-style timeout emission. Each mirrors a reference operator:

- :func:`daily_dedup`      — F2, UniqueVisitApp's ValueState<lastVisitDate>
                             with 1-day TTL (RT/app/dwm/UniqueVisitApp.java:41-84)
- :func:`fix_is_new`       — F3, BaseLogApp's first-seen correction
                             (RT/app/dwd/BaseLogApp.java:58-95)
- :func:`sessionize_bounce`— U2, the planned CEP user-jump job
                             (stub RT/app/dwm/UserJumpDetailApp.java; dep
                             gmall-realtime/pom.xml:52-56): close a session
                             when the gap exceeds the threshold OR state
                             times out; a 1-event session is a bounce.
- :func:`temporal_join` / :func:`temporal_enrich` — the Flink
                             temporal-table (as-of) join as keyed state.
- :func:`transition_pairs` — consecutive-event pairs per key.
- :func:`funnel_chain`     — multi-step CEP pattern state (the
                             flink-cep chain beyond the bounce job):
                             view->click->purchase last-touch links.

Semantics note: like the reference's ProcessFunctions, these process
records in *arrival order* (within a micro-batch we sort by (ts, id)).
Replayed in timestamp order they converge exactly to the batch twins in
``operators/filters.py`` / ``plans/logs.py`` — tests/test_streaming.py
asserts that.

State layout: the state is logically one small value per key (the
reference's keyed ValueState), but the state store is grouped by
BUCKET, not by key. Each row goes to bucket ``pmod(xxhash64(key), B)``;
one Python call per bucket per micro-batch sorts the bucket's rows by
(key, time) and runs the per-key logic vectorized over the key
segments. A bucket's state row holds its keys as the array ``ks`` plus
one parallel array per per-key field. The ``applyInPandasWithState``
wall is the per-group call (state fetch, Arrow round-trip, pandas fixed
cost), not the rows, so a batch pays at most B calls instead of one per
active key. B is decided once, by :func:`_bucket_count`: a few groups
per state partition, derived from the session's parallelism and
independent of key-space size, so state per bucket is O(keys / B). A
key never straddles buckets (the bucket is a pure function of the key),
so per-key order and carries are unaffected.

Per-key TTL: a bucket has one processing-time timer, so the TTL
operators (:func:`daily_dedup`, :func:`sessionize_bounce`) keep each
key's last-update time and write the bucket back through
:func:`_expire` on every call, with or without data: keys idle for at
least the TTL are dropped (or emitted), and the timer is armed at the
earliest remaining deadline. A busy key never extends an idle key's lifetime. TTLs bound
state to ~#active keys; the other operators keep their state forever,
as the reference's ValueStates without TTL do.

The as-of operators re-enter each carried version as a synthetic row,
but only for the stored keys present in the batch; the other stored
keys are written back unchanged, so per-batch sort work follows the
batch, not the key space.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DAY_MS = 24 * 3600 * 1000

_INTEGRAL_T = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _bucket_count(spark: SparkSession) -> int:
    """State bucket count: a few groups per state partition balances
    the worker pool here and on a cluster. Independent of key-space
    size, which keeps the group-call count bounded at any scale."""
    return 4 * min(32, spark.sparkContext.defaultParallelism)


def _by_bucket(
    events: DataFrame,
    key: str,
    fn,
    out_t,
    state_fields: list[tuple[str, T.DataType]],
    timeout: str,
) -> DataFrame:
    """Group ``events`` by the bucket of ``key`` and run ``fn`` per
    bucket. The state row is ``ks`` (the bucket's keys, typed as the
    input's key column) plus one array per ``(name, element type)`` in
    ``state_fields``, parallel to ``ks``."""
    state_t = T.StructType(
        [T.StructField("ks", T.ArrayType(events.schema[key].dataType, False))]
        + [T.StructField(n, T.ArrayType(t, True)) for n, t in state_fields]
    )
    buckets = _bucket_count(events.sparkSession)
    return (
        events.withColumn("_bkt", F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)))
        .groupBy("_bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=out_t,
            stateStructType=state_t,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def _state_value(dtype: T.DataType, v):
    """Coerce a pandas/numpy scalar to the DECLARED state type: a batch
    with any NULL in an integral column arrives float64-upcast, and a
    float written into a long state field is silently dropped by the
    state serializer. NaN/NA -> None."""
    if pd.isna(v):
        return None
    if isinstance(dtype, _INTEGRAL_T):
        return int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    return v.item() if hasattr(v, "item") else v


def _expire(state: GroupState, stored: dict, now: int, ttl: int) -> list:
    """Per-key TTL inside one bucket. ``stored`` maps each key to its
    per-key fields, the last of which is its last update (processing-
    time ms). Keys with ``now - um >= ttl`` leave; the rest are written
    back as the bucket's parallel arrays, and the bucket timer is armed
    at their earliest deadline ``min(um) + ttl - now`` — so a busy key
    never extends an idle key's lifetime, and a kept key is not granted
    a fresh TTL. Returns the expired ``(key, fields)`` pairs."""
    live = {k: v for k, v in stored.items() if now - v[-1] < ttl}
    if live:
        state.update((list(live), *map(list, zip(*live.values()))))
        state.setTimeoutDuration(min(v[-1] for v in live.values()) + ttl - now)
    else:
        state.remove()
    return [(k, v) for k, v in stored.items() if k not in live]


def _with_seeds(pdf: pd.DataFrame, seed: pd.DataFrame, id_col: str) -> pd.DataFrame:
    """Prepend synthetic state rows ``seed`` to the batch rows.

    Seed columns take the batch dtype where they can; a None read back
    from state cannot cast into a non-nullable numpy dtype (int64 /
    bool), so such a column is left for concat to upcast — the carry is
    positional, and the output serialization handles the upcast. The
    seed has no id column, and plain ``pd.concat`` NaN-pads it, which
    would widen an int64 id to float64 and corrupt ids >= 2^53: the id
    is cast to nullable Int64 first (read back with :func:`_exact_ids`)."""
    for c in seed.columns:
        try:
            seed[c] = seed[c].astype(pdf[c].dtype)
        except (TypeError, ValueError):
            pass
    if pd.api.types.is_integer_dtype(pdf[id_col].dtype):
        pdf = pdf.assign(**{id_col: pdf[id_col].astype("Int64")})
    return pd.concat([seed, pdf], ignore_index=True)


def _exact_ids(ids: pd.Series):
    """Output-side twin of :func:`_with_seeds`: probe/output rows
    are always real batch rows (seeds carry build/stage types only),
    so the nullable Int64 column never holds NA where it is read —
    cast back to exact int64 for Arrow serialization."""
    if pd.api.types.is_extension_array_dtype(ids.dtype):
        return ids.astype("int64").to_numpy()
    return ids.to_numpy()


def _batch(pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame | None:
    frames = [p for p in pdfs if len(p)]
    return pd.concat(frames) if frames else None


def daily_dedup(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First visit per key per calendar day (UV dedup), exact keyed-state
    form. Output: (user_id, dt, first_event_id).

    State per key: the last seen day and its update time. Sorted by
    time, a key's days are non-decreasing, so "first row of each new
    (key, day)" is ``~duplicated``, minus the key's stored day. The
    reference's 1-day StateTtlConfig is applied per key
    (:func:`_expire`)."""
    key_dt = events.schema[key].dataType

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        now = state.getCurrentProcessingTimeMs()
        st = state.get if state.exists else ([], [], [])
        stored = {k: [d, u] for k, d, u in zip(*st)}
        pdf = _batch(pdfs)
        out = None
        if pdf is not None:
            pdf = pdf.sort_values([key, ts, id_col])
            d = pdf[ts].dt.strftime("%Y-%m-%d")
            karr = pdf[key]
            keep = ~pd.DataFrame({"k": karr, "d": d}).duplicated().to_numpy()
            if stored:
                keep &= (d != karr.map({k: v[0] for k, v in stored.items()})).to_numpy()
            # the key's last (max) day this batch replaces its stored day
            last_rows = ~karr.duplicated(keep="last")
            for k, dv in zip(karr[last_rows], d[last_rows]):
                stored[_state_value(key_dt, k)] = [dv, now]
            first = pdf.loc[keep]
            out = pd.DataFrame(
                {
                    key: first[key].to_numpy(),
                    "dt": d.loc[keep].to_numpy(),
                    "first_event_id": first[id_col].to_numpy(),
                    "ts": first[ts].to_numpy(),
                }
            )
        _expire(state, stored, now, DAY_MS)
        if out is not None and len(out):
            yield out

    return _by_bucket(
        events, key, fn,
        f"{key} long, dt string, first_event_id long, ts timestamp",
        [("ld", T.StringType()), ("um", T.LongType())],
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def fix_is_new(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """is_new flag correction: '1' only on the key's first-seen day.
    Output: (event_id, user_id, is_new).

    The key's first-seen day is its stored day if set, else the day of
    its first batch row (rows sorted by key, ts, id)."""
    key_dt = events.schema[key].dataType

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        stored = dict(zip(*state.get)) if state.exists else {}
        pdf = _batch(pdfs)
        if pdf is None:
            return
        pdf = pdf.sort_values([key, ts, id_col])
        d = pdf[ts].dt.strftime("%Y-%m-%d")
        karr = pdf[key]
        # the key's first batch day, broadcast down its segment; the
        # stored first-seen day wins where set
        batch_first = d.groupby(karr.to_numpy()).transform("first")
        first = karr.map(stored).fillna(batch_first) if stored else batch_first
        head = ~karr.duplicated()
        for k, fd in zip(karr[head], first[head]):
            stored.setdefault(_state_value(key_dt, k), fd)
        state.update((list(stored), list(stored.values())))
        yield pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                key: karr.to_numpy(),
                "is_new": (d == first).map({True: "1", False: "0"}).to_numpy(),
            }
        )

    # NoTimeout: the reference keeps this ValueState forever (BaseLogApp
    # declares no TTL, unlike UniqueVisitApp) — first-seen must persist.
    return _by_bucket(
        events, key, fn,
        f"{id_col} long, {key} long, is_new string",
        [("fd", T.StringType())],
        GroupStateTimeout.NoTimeout,
    )


def sessionize_bounce(
    events: DataFrame,
    gap_minutes: int = 10,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """CEP bounce detection: a session closes when the next event
    arrives after the gap, or when state times out (the CEP ``within``
    timeout branch). Emits one row per *closed* session:
    (user_id, n_events, is_bounce, end_ts = last event of the session).
    Open sessions stay in state.

    State per key: the open session's last event time, event count and
    update time. Sessionization runs segmented per key: a per-key shift
    for the gap test, and session ids from a global entry cumsum made
    key-local by pairing with the key. A carried open session continues
    into the key's first batch session or closes at its own end. The
    ``within`` timeout is per key (:func:`_expire`): a key idle for the
    gap emits its open session and leaves state.
    """
    key_dt = events.schema[key].dataType
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        now = state.getCurrentProcessingTimeMs()
        st = state.get if state.exists else ([], [], [], [])
        stored = {k: [lu, n, um] for k, lu, n, um in zip(*st)}
        closed = []
        pdf = _batch(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([key, ts, id_col])
            karr = pdf[key]
            t_us = pdf[ts].astype("int64") // 1000  # pandas ns -> us
            prev = t_us.groupby(karr.to_numpy()).shift(1)
            head = ~karr.duplicated()
            if stored:
                prev = prev.where(~head, karr.map({k: v[0] for k, v in stored.items()}))
            entry = prev.isna() | ((t_us - prev) > gap_us)
            # (key, global entry-cumsum) is unique per session AND
            # ordered; a key-head continuation row reuses the previous
            # key's final sid, which the key pairing keeps distinct
            sid = entry.cumsum()
            sess = (
                pd.DataFrame({"k": karr.to_numpy(), "s": sid.to_numpy(), "t": t_us.to_numpy()})
                .groupby(["k", "s"], sort=False)
                .agg(cnt=("t", "size"), end=("t", "max"))
                .reset_index()
            )
            first_of_key = ~sess["k"].duplicated()
            last_of_key = ~sess["k"].duplicated(keep="last")
            if stored:
                in_state = karr.isin(stored.keys())
                # a carried open session continues into the key's first
                # batch session...
                cont = set(karr[head & ~entry & in_state])
                if cont:
                    add = sess["k"].map(lambda k: stored[k][1] if k in cont else 0)
                    sess["cnt"] = sess["cnt"] + add.where(first_of_key, 0)
                # ...or closes at its own end when the key's first batch
                # row opens a new session
                for k in karr[head & entry & in_state]:
                    lu, n, _ = stored[k]
                    closed.append((_state_value(key_dt, k), n, n == 1, lu))
            # every batch session but each key's last is closed
            done = sess.loc[~last_of_key]
            closed.extend(
                (k, int(c), c == 1, int(e))
                for k, c, e in zip(done["k"], done["cnt"], done["end"])
            )
            tail = sess.loc[last_of_key]
            for k, c, e in zip(tail["k"], tail["cnt"], tail["end"]):
                stored[_state_value(key_dt, k)] = [int(e), int(c), now]
        closed += [(k, n, n == 1, lu) for k, (lu, n, _) in _expire(state, stored, now, gap_ms)]
        if closed:
            out = pd.DataFrame(closed, columns=[key, "n_events", "is_bounce", "end_us"])
            out["end_ts"] = pd.to_datetime(out.pop("end_us"), unit="us")
            yield out

    return _by_bucket(
        events, key, fn,
        f"{key} long, n_events long, is_bounce boolean, end_ts timestamp",
        [("lu", T.LongType()), ("n", T.LongType()), ("um", T.LongType())],
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def temporal_enrich(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    build_type: str = "dimchange",
    probe_type: str = "order",
    val_cols: tuple = ("value",),
) -> DataFrame:
    """Multi-value stream-stream backward as-of enrichment — the
    streaming face of point-in-time dimension lookup (the Flink
    temporal-TABLE join), generalizing :func:`temporal_join` two ways
    a CDC dim stream needs:

    - N value columns carried together as ONE version (a dim version
      is a row, not a scalar);
    - NULL-SAFE carry: the carried version is addressed by build-row
      POSITION (the asof_join struct-marker precedent), not by
      per-column ignore-null fill — so a CDC DELETE tombstone (a
      build row whose value columns are all NULL) REPLACES the carried
      version with NULLs instead of being skipped, and probes after a
      delete correctly read "no live version".

    Same mechanics as temporal_join otherwise: one keyed stateful
    operator over a single stream carrying both sides; within a batch
    rows sort by (ts, build-before-probe) so a same-ts build is
    visible to its probe, and the carried state re-enters each
    batch's sort as a synthetic build row. Equal-(key, ts) builds are
    OUT OF CONTRACT (pre-aggregate upstream, as in asof_join) — value
    columns deliberately do not tie-break the sort, since a
    tombstone's NULL has no order against a typed value. State per
    key is ONE (ts, *values) version forever. Output: (id, key,
    probe_ts, build_ts, *val_cols) with LEFT semantics; ``val_cols``
    names must not collide with those four. Types derive from
    ``events.schema``, tombstone-safe for every type (an int value
    column survives a NULL carry via float upcast at the Arrow
    boundary). Known bound: that float64 upcast means integral value
    columns with magnitude > 2^53 lose precision when carried PAST a
    tombstone in the same batch — surrogate keys and counters are fine;
    carry 64-bit hashes as strings or split words if exactness matters.

    Per bucket, the batch sorts by (key, ts, build-before-probe) and
    the positional carry runs as a segmented ffill per key.
    """
    val_cols = list(val_cols)
    clash = set(val_cols) & {id_col, key, "probe_ts", "build_ts"}
    if clash:
        raise ValueError(f"temporal_enrich: value columns collide: {sorted(clash)}")
    field = {c: events.schema[c].dataType for c in (key, ts, id_col, *val_cols)}

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        ks, bts, *vals = (
            [list(a) for a in state.get] if state.exists
            else [[] for _ in range(2 + len(val_cols))]
        )
        pdf = _batch(pdfs)
        if pdf is None:
            return
        pdf = pdf[pdf[type_col].isin([build_type, probe_type])]
        if not len(pdf):
            return
        present = set(pdf[key].unique().tolist())
        seeded = [i for i, k in enumerate(ks) if k in present]
        if seeded:
            seed = pd.DataFrame(
                {
                    key: [ks[i] for i in seeded],
                    ts: pd.to_datetime(
                        pd.Series([bts[i] for i in seeded], dtype="int64"), unit="us"
                    ),
                    type_col: build_type,
                    **{
                        c: pd.Series([vals[j][i] for i in seeded], dtype="object")
                        for j, c in enumerate(val_cols)
                    },
                }
            )
            pdf = _with_seeds(pdf, seed, id_col)
        is_b = pdf[type_col] == build_type
        # sort by (key, ts, build-before-probe) ONLY: equal-(key, ts)
        # builds are out of contract, so value columns never need to
        # tie-break — and must not, since a tombstone's None does not
        # compare against a typed value; mergesort keeps seeds first
        pdf = (
            pdf.assign(_side=(~is_b).astype(int))
            .sort_values([key, ts, "_side"], kind="mergesort")
            .reset_index(drop=True)
        )
        is_b = (pdf[type_col] == build_type).to_numpy()
        # positional carry: each row sees the INDEX of its key's latest
        # build at or before it — NULL build values ride along faithfully
        bpos = (
            pd.Series(np.where(is_b, np.arange(len(pdf)), np.nan))
            .groupby(pdf[key].to_numpy())
            .ffill()
        )
        builds = pdf.loc[is_b]
        if len(builds):
            # each key's last build (rows are key/ts sorted) replaces
            # its stored version; keys absent from the batch keep theirs
            lastb = builds.groupby(key, sort=False).tail(1)
            new_ks = [_state_value(field[key], k) for k in lastb[key]]
            fresh = set(new_ks)
            kept = [i for i, k in enumerate(ks) if k not in fresh]
            state.update(
                (
                    [ks[i] for i in kept] + new_ks,
                    [bts[i] for i in kept] + (lastb[ts].astype("int64") // 1000).tolist(),
                    *(
                        [a[i] for i in kept] + [_state_value(field[c], v) for v in lastb[c]]
                        for a, c in zip(vals, val_cols)
                    ),
                )
            )
        probes = ~is_b
        if not probes.any():
            return
        pp = bpos[probes]
        matched = pp.notna().to_numpy()
        idx = pp.fillna(0).astype(int).to_numpy()
        out = {
            id_col: _exact_ids(pdf.loc[probes, id_col]),
            key: pdf.loc[probes, key].to_numpy(),
            "probe_ts": pdf.loc[probes, ts].to_numpy(),
        }
        m = pd.Series(matched)
        # .where (not masked assignment): upcasts an int64 carry to
        # float64-with-NaN instead of raising on None — Arrow maps the
        # integral floats back to the declared long output type
        out["build_ts"] = pdf[ts].iloc[idx].reset_index(drop=True).where(m).to_numpy()
        for c in val_cols:
            out[c] = pdf[c].iloc[idx].reset_index(drop=True).where(m).to_numpy()
        yield pd.DataFrame(out)

    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
            T.StructField("build_ts", field[ts]),
            *[T.StructField(c, field[c]) for c in val_cols],
        ]
    )
    # NoTimeout: the latest dim version must persist for the stream's
    # lifetime (fix_is_new's unbounded ValueState class)
    return _by_bucket(
        events, key, fn, out_t,
        [("bts", T.LongType())] + [(f"bv{i}", field[c]) for i, c in enumerate(val_cols)],
        GroupStateTimeout.NoTimeout,
    )


def temporal_join(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    build_type: str = "click",
    probe_type: str = "purchase",
    value_col: str = "value",
) -> DataFrame:
    """Stream-stream backward as-of (temporal) join as ONE keyed
    stateful operator — Flink's temporal/as-of join shape, the
    streaming twin of :func:`~..operators.joins.asof_join`.

    The input is a single stream carrying BOTH sides (the reference's
    union-then-keyBy idiom): ``build_type`` rows update the per-key
    state (the latest build row at or before any probe); ``probe_type``
    rows emit enriched with that state at their event-time position.
    Within a micro-batch rows sort by (ts, build-before-probe, value),
    so a same-timestamp build is visible to its probe (inclusive
    backward) and simultaneous builds resolve to the max value — the
    exact tie rule the batch twin's (key, ts)+MAX pre-aggregation
    defines. The tie rule holds ACROSS micro-batches too: the carried
    state re-enters every batch as a synthetic build row and competes
    in the same sort, so an equal-ts build pair split over two batches
    resolves to the max value — in the carry the probes see AND in the
    state update, which is thereby a max-merge rather than
    last-batch-wins. The carry is a vectorized pandas ffill; no
    per-row Python. State per key is ONE (ts, value) pair forever
    (the reference's unbounded ValueState class, like fix_is_new).

    Output: (id, key, probe_ts, probe_value, build_ts, build_value) —
    LEFT semantics: probes before any build emit NULL build columns.
    Equal-(key, ts) builds where one value is NULL are OUT of the tie
    contract (pandas sorts NaN last, so the NULL would win the carry
    while a batch MAX skips it) — pre-aggregate such ties upstream,
    exactly as the batch twin's (key, ts)+MAX pre-aggregation does.
    Output and state field TYPES are derived from ``events.schema``
    (the asof_join precedent), so a string key or an integer value
    column round-trips instead of silently miscasting; only the state
    ``bts`` is pinned long (epoch micros).

    The value carry is a value-level ffill (``where(is_b).ffill()``,
    segmented per key within the bucket), so a NULL-valued build shows
    the previous non-NULL build value of the same micro-batch, while
    its own ts is the build_ts; across a batch boundary only the stored
    last build (value possibly NULL) carries.
    """
    field = {c: events.schema[c].dataType for c in (key, ts, id_col, value_col)}

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        ks, bts, bval = (
            [list(a) for a in state.get] if state.exists else [[], [], []]
        )
        pdf = _batch(pdfs)
        if pdf is None:
            return
        pdf = pdf[pdf[type_col].isin([build_type, probe_type])]
        if not len(pdf):
            return
        present = set(pdf[key].unique().tolist())
        seeded = [i for i, k in enumerate(ks) if k in present]
        if seeded:
            seed = pd.DataFrame(
                {
                    key: [ks[i] for i in seeded],
                    ts: pd.to_datetime(
                        pd.Series([bts[i] for i in seeded], dtype="int64"), unit="us"
                    ),
                    type_col: build_type,
                    value_col: pd.Series([bval[i] for i in seeded], dtype="object"),
                }
            )
            pdf = _with_seeds(pdf, seed, id_col)
        is_b = pdf[type_col] == build_type
        pdf = (
            pdf.assign(_side=(~is_b).astype(int))
            .sort_values([key, ts, "_side", value_col], kind="mergesort")
            .reset_index(drop=True)
        )
        is_b = pdf[type_col] == build_type
        karr = pdf[key].to_numpy()
        carry_ts = pdf[ts].where(is_b).groupby(karr).ffill()
        carry_val = pdf[value_col].where(is_b).groupby(karr).ffill()
        builds = pdf.loc[is_b]
        if len(builds):
            # each key's last build is the max-merge of its stored and
            # batch versions; keys absent from the batch keep theirs
            lastb = builds.groupby(key, sort=False).tail(1)
            new_ks = [_state_value(field[key], k) for k in lastb[key]]
            fresh = set(new_ks)
            kept = [i for i, k in enumerate(ks) if k not in fresh]
            state.update(
                (
                    [ks[i] for i in kept] + new_ks,
                    [bts[i] for i in kept] + (lastb[ts].astype("int64") // 1000).tolist(),
                    [bval[i] for i in kept]
                    + [_state_value(field[value_col], v) for v in lastb[value_col]],
                )
            )
        probes = (~is_b).to_numpy()
        if probes.any():
            yield pd.DataFrame(
                {
                    id_col: _exact_ids(pdf.loc[probes, id_col]),
                    key: karr[probes],
                    "probe_ts": pdf.loc[probes, ts].to_numpy(),
                    "probe_value": pdf.loc[probes, value_col].to_numpy(),
                    "build_ts": carry_ts.loc[probes].to_numpy(),
                    "build_value": carry_val.loc[probes].to_numpy(),
                }
            )

    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
            T.StructField("probe_value", field[value_col]),
            T.StructField("build_ts", field[ts]),
            T.StructField("build_value", field[value_col]),
        ]
    )
    # NoTimeout: the latest dimension/build version must persist for
    # the stream's lifetime, exactly like fix_is_new's first-seen state
    return _by_bucket(
        events, key, fn, out_t,
        [("bts", T.LongType()), ("bval", field[value_col])],
        GroupStateTimeout.NoTimeout,
    )


def transition_pairs(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-key consecutive-event transition extraction, exact
    keyed-state form — the streaming twin of the batch LAG window
    behind ``behavior_pagerank``'s edge aggregation. State = the key's
    LAST event type plus the implicit had-any-event flag
    (membership in the bucket's key array), O(1) per key forever; each
    micro-batch sorts its rows by (key, ts, id), shifts the type column
    down one per key (vectorized), and fills each key's first row's
    predecessor from the carry — so a transition whose two events
    STRADDLE a micro-batch boundary is emitted exactly once, by the
    batch that sees the second event. A batch-local lead()/lag() would
    silently drop exactly those pairs: the cross-batch hazard that makes
    this an operator, not a window.

    NULL rule mirrors the batch window EXACTLY: a pair is emitted iff
    the row has a predecessor AND its own type (dst) is non-NULL —
    the batch's lead() filter keeps (NULL -> x) with a NULL src and
    drops (x -> NULL); a NULL carried type is stored DISTINCTLY from
    no-state (key membership disambiguates), so the pair after a NULL
    event still emits with a NULL src across a batch boundary. The
    key's output type derives from the input schema (the
    temporal_join standard), so non-long keys work unchanged.
    Output: (key, src, dst), one row per transition; replayed in
    event-time order it converges to the batch lag window exactly
    (cross-batch + NULL edge test-pinned)."""
    key_dt = events.schema[key].dataType

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        stored = dict(zip(*state.get)) if state.exists else {}
        pdf = _batch(pdfs)
        if pdf is None:
            return
        pdf = pdf.sort_values([key, ts, id_col])
        karr = pdf[key]
        dst = pdf[type_col]
        src = dst.groupby(karr.to_numpy()).shift(1)
        head = ~karr.duplicated()
        if stored:
            # key-segment heads read their stored predecessor (NaN for
            # a stored-NULL type — emitted as a NULL src)
            src = src.where(~head, karr.map(stored))
            has_prev = ~head | karr.isin(stored.keys())
        else:
            has_prev = ~head
        last_rows = ~karr.duplicated(keep="last")
        for k, t in zip(karr[last_rows], dst[last_rows]):
            stored[_state_value(key_dt, k)] = None if pd.isna(t) else t
        state.update((list(stored), list(stored.values())))
        mask = (has_prev & dst.notna()).to_numpy()
        if mask.any():
            yield pd.DataFrame(
                {
                    key: karr.to_numpy()[mask],
                    "src": src.to_numpy()[mask],
                    "dst": dst.to_numpy()[mask],
                }
            )

    return _by_bucket(
        events, key, fn,
        f"{key} {key_dt.simpleString()}, src string, dst string",
        [("lt", T.StringType())],
        GroupStateTimeout.NoTimeout,
    )


def funnel_chain_n(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click"),
    probe_type: str = "purchase",
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """N-stage CEP funnel attribution as ONE keyed stateful operator —
    the generalized pattern chain the reference's flink-cep dependency
    implies (r11 VERDICT #5 lifted the 3-stage query into an
    operator): ``stages`` lists the funnel's earlier stages IN ORDER;
    every ``probe_type`` row emits the user's latest ``stages[-1]`` at
    or before it, and for each resolved stage the latest PREVIOUS
    stage at or before THAT — each link binding at the later stage's
    ARRIVAL and stored with it, exactly when the Flink pattern step
    would fire (the state's single slot per stage may already hold a
    NEWER event than a stored link should see, so links are never
    recomputed from later state).

    State per key is M = len(stages) chain vectors, level i holding
    (own ts, i inherited link timestamps) — M(M+1)/2 scalars total,
    O(1) forever for a fixed funnel. Within a batch rows sort by
    (ts, stage order) so a same-instant earlier stage is visible to
    its successor — the inclusive-backward rule of the chained ASOF
    oracle; carries are vectorized positional ffills per level (the
    temporal_enrich idiom), so the per-batch cost is M gathers, not a
    python loop over rows. Seeded state re-entries keep their STORED
    vectors. Equal-(key, ts) duplicates within one stage are out of
    contract — ``distinct()`` the stage streams upstream, as the
    batch twin does.

    Output: (id, key, probe_ts, {stages[-1]}_ts, ..., {stages[0]}_ts)
    with LEFT semantics — a NULL suffix where the chain ran out.

    Per bucket, each stored key present in the batch re-enters as one
    seed row per non-empty level carrying its stored vector, the
    per-level carry ffills segmented by key, and each key's last stage
    row per level writes that key's new state slice.
    """
    stages = tuple(stages)
    M = len(stages)
    if M < 1:
        raise ValueError("funnel_chain_n: need at least one stage before the probe")
    if len(set(stages)) != len(stages):
        raise ValueError("funnel_chain_n: stage names must be distinct")
    _ORD = {s: i for i, s in enumerate(stages)}
    if probe_type in _ORD:
        raise ValueError("funnel_chain_n: probe_type must not repeat a stage")
    _ORD[probe_type] = M
    # flat state layout: level i occupies slots [offs[i], offs[i+1]) —
    # the vector [ts_i, link_{i-1}, ..., link_0], all epoch micros
    offs = [i * (i + 1) // 2 for i in range(M + 1)]
    total = offs[M]
    field = {c: events.schema[c].dataType for c in (key, ts, id_col)}

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        flat_by = dict(zip(*state.get)) if state.exists else {}
        pdf = _batch(pdfs)
        if pdf is None:
            return
        pdf = pdf[pdf[type_col].isin(list(_ORD))]
        if not len(pdf):
            return
        # _seed: which level this row re-enters from state (-1 = fresh)
        pdf = pdf.assign(_seed=-1)
        seeds = [
            {key: k, ts: pd.Timestamp(flat_by[k][offs[li]], unit="us"), type_col: stg, "_seed": li}
            for k in pdf[key].unique().tolist()
            if k in flat_by
            for li, stg in enumerate(stages)
            if flat_by[k][offs[li]] is not None
        ]
        if seeds:
            pdf = _with_seeds(pdf, pd.DataFrame(seeds), id_col)
        pdf = (
            pdf.assign(_ord=pdf[type_col].map(_ORD))
            .sort_values([key, ts, "_ord"], kind="mergesort")
            .reset_index(drop=True)
        )
        n = len(pdf)
        types_arr = pdf[type_col].to_numpy()
        seed_lvl = pdf["_seed"].to_numpy()
        karr = pdf[key].to_numpy()
        ts_us = pdf[ts].astype("int64").to_numpy() // 1000  # ns -> us
        carry = None  # after level li: (n, li+1) vector of last li-row <= pos
        new_flat_by = {k: list(v) for k, v in flat_by.items()}
        for li, stg in enumerate(stages):
            is_s = types_arr == stg
            vec = np.full((n, li + 1), np.nan)
            vec[is_s, 0] = ts_us[is_s]
            if li > 0:
                # fresh rows bind the previous level's carry AT their
                # position — the link resolves at arrival
                fresh = is_s & (seed_lvl != li)
                vec[fresh, 1:] = carry[fresh]
            for r in np.where(is_s & (seed_lvl == li))[0]:
                stored = flat_by[karr[r]][offs[li] : offs[li + 1]]
                vec[r] = [np.nan if v is None else float(v) for v in stored]
            pos = pd.Series(np.where(is_s, np.arange(n), np.nan)).groupby(karr).ffill()
            has = pos.notna().to_numpy()
            idx = pos.fillna(0).astype(int).to_numpy()
            carry = vec[idx]
            carry[~has] = np.nan
            if is_s.any():
                # each key's LAST stage row writes its state slice
                srows = np.where(is_s)[0]
                for k, r in pd.Series(srows).groupby(karr[srows]).max().items():
                    nf = new_flat_by.setdefault(_state_value(field[key], k), [None] * total)
                    nf[offs[li] : offs[li + 1]] = [
                        None if np.isnan(v) else int(v) for v in vec[int(r)]
                    ]
        state.update((list(new_flat_by), list(new_flat_by.values())))
        is_p = types_arr == probe_type
        if not is_p.any():
            return
        out = {
            id_col: _exact_ids(pdf.loc[is_p, id_col]),
            key: karr[is_p],
            "probe_ts": pdf.loc[is_p, ts].to_numpy(),
        }
        pv = carry[is_p]  # columns: [ts_{M-1}, link_{M-2}, ..., link_0]
        for j in range(M):
            # explicit µs->ns conversion instead of pd.to_datetime's
            # float path: carries are integral µs in float64 slots
            # (< 2^53, exactly representable), so int64*1000 is the
            # same value to_datetime would produce — and the pandas
            # float path intermittently raised FloatingPointError on
            # VALID NaN-mixed arrays inside long-lived reused workers
            # (observed twice, never reproducible in isolation; bench
            # log 2026-08-18). NaN carries become NaT by hand.
            vals = pv[:, j]
            mask = np.isnan(vals)
            good = vals[~mask]
            if len(good) and (good.min() < -9.2e15 or good.max() > 9.2e15):
                # out-of-ns-range carry = corrupted state; never mask
                raise RuntimeError(
                    f"funnel bucket {key_tuple[0]}: level {j} carry out "
                    f"of datetime64[ns] range: min={good.min()} "
                    f"max={good.max()} n={len(vals)}"
                )
            ns = np.where(mask, 0, vals).astype("int64") * 1000
            arr = ns.view("M8[ns]").copy()
            arr[mask] = np.datetime64("NaT")
            out[f"{stages[M - 1 - j]}_ts"] = arr
        yield pd.DataFrame(out)

    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
        ]
        + [T.StructField(f"{s}_ts", field[ts]) for s in reversed(stages)]
    )
    # NoTimeout: funnel attribution state must persist for the
    # stream's lifetime, like the other as-of carries
    return _by_bucket(
        events, key, fn, out_t,
        [("flats", T.ArrayType(T.LongType(), True))],
        GroupStateTimeout.NoTimeout,
    )


def funnel_chain(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    view_type: str = "view",
    click_type: str = "click",
    probe_type: str = "purchase",
) -> DataFrame:
    """The 3-stage funnel (view -> click -> purchase) as an instance of
    :func:`funnel_chain_n` — kept as the named operator the certified
    funnel_attribution_stream query and its tests run through, so the
    generalization is re-proven by the existing oracle rows. Output:
    (id, key, probe_ts, click_ts, view_ts), LEFT semantics."""
    return funnel_chain_n(
        events,
        stages=(view_type, click_type),
        probe_type=probe_type,
        key=key,
        ts=ts,
        id_col=id_col,
        type_col=type_col,
    )
