"""Custom stateful streaming operator: per-key latest value with TTL.

Ref: Store.Set(k, v, ttl) + the memory backend's expiry sweep
(kstream/store/store.go:119-149, backend/memory/memory.go:88-100) and the
version-gated writability check (global_table_stream_instance.go:236-268).

Spark mapping: ``applyInPandasWithState`` — keyed state holds (version,
payload-json); a processing-time timeout implements TTL eviction.  This is
the (b)-tier implementation from the custom-operator preference order
(composition of built-ins can't express per-key timers); the state payload
is deliberately tiny (one row per key) so state size is O(live keys), which
scales linearly with executors at 100 TB stream volume.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def latest_with_ttl(df: DataFrame, key_col: str, version_col: str,
                    payload_cols: list[str], ttl_ms: int | None = None
                    ) -> DataFrame:
    """Streaming latest-by-key with optional per-key TTL.

    Emits (key, version, payload_json, expired) rows on every update; when a
    key's TTL elapses with no updates, a tombstone row (expired=true) is
    emitted and state is dropped — the streaming analog of the reference's
    background cleaner deleting expired entries."""
    out_schema = T.StructType([
        T.StructField(key_col, df.schema[key_col].dataType),
        T.StructField("version", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("expired", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("version", T.LongType()),
        T.StructField("payload", T.StringType()),
    ])

    def update(key, pdfs, state: GroupState):
        (k,) = key
        if state.hasTimedOut:
            ver, payload = state.get
            state.remove()
            yield pd.DataFrame([{key_col: k, "version": ver, "payload": payload,
                                 "expired": True}])
            return
        best_ver, best_payload = state.get if state.exists else (None, None)
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                v = int(row[version_col])
                # ref writability rule: new version must exceed current
                if best_ver is None or v > best_ver:
                    best_ver = v
                    best_payload = json.dumps(
                        {c: (None if pd.isna(row[c]) else
                             (row[c].item() if hasattr(row[c], "item") else row[c]))
                         for c in payload_cols}, sort_keys=True, default=str)
        state.update((best_ver, best_payload))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame([{key_col: k, "version": best_ver,
                             "payload": best_payload, "expired": False}])

    timeout = GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None \
        else GroupStateTimeout.NoTimeout
    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout)


def session_stream(df: DataFrame, user_col: str, ts_col: str,
                   gap: str = "30 minutes") -> DataFrame:
    """Streaming gap sessionization with event-time timeouts: per user,
    events closer than ``gap`` belong to one session; a session closes
    (and emits one row) either when a later event arrives past the gap
    (in-batch close) or when the WATERMARK passes last_ts + gap with no
    new events (timeout close — the open session can't be re-opened by
    anything the watermark still admits).

    The streaming counterpart of operators/behavior.sessionize: batch
    labels rows, this emits (user, session_start, session_end, n_events)
    per closed session.  Caller must set ``withWatermark(ts_col, ...)``
    upstream (EventTimeTimeout requires it).

    State is three numbers per live user (start_ms, last_ms, n) —
    O(active users), safe at any stream volume; the shuffle key is
    user_col, the same key every downstream per-user consumer needs.
    """
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    out_schema = T.StructType([
        T.StructField(user_col, df.schema[user_col].dataType),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def row(k, s, l, n):
        return {user_col: k,
                "session_start": pd.Timestamp(s, unit="ms"),
                "session_end": pd.Timestamp(l, unit="ms"),
                "n_events": n}

    def update(key, pdfs, state: GroupState):
        (k,) = key
        if state.hasTimedOut:
            s, l, n = state.get
            state.remove()
            yield pd.DataFrame([row(k, s, l, n)])
            return
        ts = sorted(int(t) for pdf in pdfs
                    for t in pdf[ts_col].astype("int64") // 1_000_000)
        open_sess = state.get if state.exists else None
        closed = []
        for t in ts:
            if open_sess is None:
                open_sess = (t, t, 1)
            elif t > open_sess[1] + gap_ms:
                closed.append(open_sess)
                open_sess = (t, t, 1)
            else:
                open_sess = (open_sess[0], max(open_sess[1], t),
                             open_sess[2] + 1)
        state.update(open_sess)
        # timeout must sit strictly above the current watermark
        state.setTimeoutTimestamp(max(
            open_sess[1] + gap_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame([row(k, s, l, n) for s, l, n in closed])

    return df.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout)


def funnel_stream(df: DataFrame, user_col: str, type_col: str, ts_col: str,
                  steps: list[str]) -> DataFrame:
    """Streaming strictly-ordered funnel: emits one row per user per stage
    ADVANCE (stage k completed at ts) — the streaming counterpart of
    operators/behavior.funnel with the same earliest-first semantics.

    State per user is one number per funnel step (completion ms or -1),
    so state size is O(users x steps) regardless of stream volume.
    Events are folded in event-time order inside each batch; an event can
    advance multiple stages in one batch (view+click+purchase arriving
    together emits three rows).  Out-of-order arrivals WITHIN a batch are
    handled by the sort; across batches the usual watermark caveat
    applies (a step event older than an already-recorded later step is
    ignored — strict ordering means it could not have contributed).
    """
    n = len(steps)
    out_schema = T.StructType([
        T.StructField(user_col, df.schema[user_col].dataType),
        T.StructField("stage", T.LongType()),
        T.StructField("step", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    state_schema = T.StructType([
        T.StructField(f"t{i}", T.LongType()) for i in range(n)])
    step_idx = {s: i for i, s in enumerate(steps)}

    def update(key, pdfs, state: GroupState):
        (k,) = key
        done = list(state.get) if state.exists else [-1] * n
        events = sorted(
            (int(t), str(ty)) for pdf in pdfs
            for t, ty in zip(pdf[ts_col].astype("int64") // 1_000_000,
                             pdf[type_col])
            if ty in step_idx)
        advanced = []
        for t, ty in events:
            i = step_idx[ty]
            prev_done = done[i - 1] if i > 0 else 0
            # strict order: step i needs step i-1 completed strictly before
            if done[i] < 0 and prev_done >= 0 and (i == 0 or t > prev_done):
                done[i] = t
                advanced.append((i, ty, t))
        state.update(tuple(done))
        if advanced:
            yield pd.DataFrame([
                {user_col: k, "stage": i + 1, "step": ty,
                 "ts": pd.Timestamp(t, unit="ms")}
                for i, ty, t in advanced])

    return df.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
