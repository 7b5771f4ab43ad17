"""The one per-key streaming state operator: ``funnel_stream``.

Spark has no built-in for a strict-order stage cascade, so the streaming
funnel keeps its own per-user state through ``applyInPandasWithState``,
the PySpark form of Structured Streaming's ``mapGroupsWithState``.  The
other keyed state of a stream is the engine's: sessions are
``streaming/core.session_agg`` (Spark's session window), latest-by-key
state is the registry's ``Store`` fed by ``streaming/core.materialize_stream``
(per-record TTL as a ``ttl_col`` expired at read time, the contract of
the reference's cleaner, kstream/store/store.go:119-149), and the
stream-stream join keeps its kernel for the reasons ``streaming/join.py``
gives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


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
