"""Stateful streaming stream-stream join with REFERENCE semantics.

Ref: kstream/processors/join/side_joiner.go:54-93 + join/window.go:5-29 —
each side buffers every record in an unbounded per-key map; an arriving left
record joins against ALL buffered right records (and vice versa); entries
are never evicted, not even on match.

Spark's built-in stream-stream join runs an inner equi-join without a
watermark too, keeping both sides in state with no eviction.  This custom
operator stays because it is faster and uses less memory, and has the
per-key TTL below.  One run each, perfbench's ``stream_join`` (seed 7001, 4 cores),
``stateful_stream_join`` swapped for ``left.join(right, "k")``; the pair
counts were right in every run:

    variant                         records/s  batch_ms_p50  peak_rss_mb
    this operator                   31.7k      676 ms        1691
    native join, default provider   27.6k      785 ms        2330
    native join, RocksDB provider   18.2k      1223 ms       2279

Both streams are tagged and unioned, hashed into ``buckets`` state groups,
and ``applyInPandasWithState`` hands each bucket's micro-batch rows to
``join_kernel``, which emits the cross-matches exactly as the reference's
SideJoiner does.

State layout: one binary blob per bucket, a pickled dict of named numpy
column arrays — per side the join keys plus the typed payload columns
(one row per buffered record), and a key -> last-seen-ms pair of arrays
for per-key TTL.  Matching is one factorize + counting-sort match over
whole arrays, so a batch costs O(new rows + bucket-state bytes) numpy
work with no per-key interpreter loop: the state's growth shows up as
memcpy and pickle bytes, not as Python iterations.  Payloads stay TYPED
COLUMNS end to end (no JSON), and the output schema is the payload
columns themselves.

Measured floor (4 cores, perfbench's ``stream_join`` input, 16 buckets):
with the kernel replaced by a no-op the micro-batch median is still
0.9-1.0 s of fixed Spark and Arrow machinery, and this kernel runs at
that floor (about 0.9 s); the kernel alone takes 10-17 ms per batch on
one core for all 16 buckets.

Null join keys never match and are never buffered (SQL equality; a naive
``pandas.merge`` would pair NaN with NaN).

Caveat: integral payload columns ride through pandas as float64 when a
micro-batch mixes sides (Arrow null-widening), so integer payloads are
exact up to 2^53 — use string/binary payload columns if you need full
64-bit identity through this operator (the reference's payloads are
opaque bytes, so this matches its contract).  Integral keys widen the
same way in a batch that holds a null key.

State growth: O(records per key) — the reference has the same unbounded
growth (its maps leak identically); ``ttl_ms`` bounds it with a per-key
processing-time expiry for production use (the recommended mode at
scale; None reproduces the reference exactly).
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def tag_sides(left: DataFrame, right: DataFrame, key: str,
              left_payload: list[str], right_payload: list[str]) -> DataFrame:
    """Union-tag the two streams: (k, side, __l_*..., __r_*...) with the
    other side's payload columns typed-null — the payload columns keep
    their source types through the union (no serialization)."""
    l_types = {f.name: f.dataType for f in left.schema.fields}
    r_types = {f.name: f.dataType for f in right.schema.fields}
    l = left.select(
        F.col(key).alias("k"), F.lit("L").alias("side"),
        *[F.col(c).alias(f"__l_{c}") for c in left_payload],
        *[F.lit(None).cast(r_types[c]).alias(f"__r_{c}")
          for c in right_payload])
    r = right.select(
        F.col(key).alias("k"), F.lit("R").alias("side"),
        *[F.lit(None).cast(l_types[c]).alias(f"__l_{c}")
          for c in left_payload],
        *[F.col(c).alias(f"__r_{c}") for c in right_payload])
    return l.unionByName(r)


def resolve_buckets(spark, buckets: int | str,
                    checkpoint_dir: str | None = None) -> int:
    """Resolve ``buckets`` ONCE per query lifetime and pin it.

    State is keyed by ``xxhash64(k) % B``, so B is part of the state
    layout: restarting a checkpointed query with a different B silently
    remaps keys to different state groups — old buffers become
    unreachable and cross-matches are dropped.  ``"auto"`` resolves from
    ``defaultParallelism`` at build time, which CHANGES when the cluster
    is resized.  With ``checkpoint_dir`` given, the first resolution is
    recorded in a ``kstream_buckets.json`` sidecar next to the
    checkpoint and every restart reuses the pinned value regardless of
    current parallelism (or of the caller's requested value).  Without a
    checkpoint the query has no recoverable state, so fresh resolution
    is safe.  The sidecar uses local-filesystem I/O — for object-store
    checkpoints pass an explicit integer ``buckets`` instead and keep it
    constant across restarts.

    A sidecar pinned to ``None`` was written by the removed one-group-
    per-key layout; that checkpoint cannot resume (its state is keyed by
    the join key, not the bucket), so it raises ValueError here."""
    resolved = (spark.sparkContext.defaultParallelism * 4
                if buckets == "auto" else buckets)
    if checkpoint_dir is not None:
        import json
        import os
        os.makedirs(checkpoint_dir, exist_ok=True)
        pin = os.path.join(checkpoint_dir, "kstream_buckets.json")
        if os.path.exists(pin):
            with open(pin) as fh:
                resolved = json.load(fh)["buckets"]
        else:
            with open(pin, "w") as fh:
                json.dump({"buckets": resolved}, fh)
    if not isinstance(resolved, int) or resolved < 1:
        raise ValueError(
            f"stateful_stream_join: buckets must be a positive int or "
            f"'auto', got {resolved!r} (a checkpoint pinned to None comes "
            "from the removed per-key state layout and cannot resume)")
    return resolved


def _take(cols: dict, idx) -> dict:
    return {c: a[idx] for c, a in cols.items()}


def _cat1(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Concatenate; an empty operand keeps the other's dtype (an empty
    placeholder must not widen int64 keys to object or float64)."""
    return b if not len(a) else a if not len(b) else np.concatenate((a, b))


def _cat(a: dict, b: dict) -> dict:
    return {c: _cat1(a[c], b[c]) for c in a}


def _match(a: np.ndarray, b: np.ndarray, n: int):
    """All (i, j) with a[i] == b[j] over factorized key codes in [0, n);
    code -1 (null key) matches nothing.  Counting sort of ``b`` plus one
    vectorized expansion — each pair once, duplicates kept."""
    a = np.where(a < 0, n, a)
    b = np.where(b < 0, n, b)
    counts = np.bincount(b, minlength=n + 1)
    counts[n] = 0
    starts = np.cumsum(counts) - counts
    order = np.argsort(b, kind="stable")
    per_a = counts[a]
    total = int(per_a.sum())
    ai = np.repeat(np.arange(len(a)), per_a)
    first = np.repeat(np.cumsum(per_a) - per_a, per_a)
    bj = order[np.repeat(starts[a], per_a) + np.arange(total) - first]
    return ai, bj


def _from_per_key_dict(store: dict, lcols: list[str],
                       rcols: list[str]) -> dict:
    """Decode the previous bucket layout — ``{k: (lbuf, rbuf[, stamp])}``
    with each buffer a list of column arrays or None, and 2-tuples
    carrying no stamp (last seen at 0) — into the columnar layout."""
    keys = [k for k in store if not pd.isna(k)]
    karr = pd.Series(keys, dtype=object).infer_objects().to_numpy()

    def side(i: int, cols: list[str]) -> dict:
        held = [j for j, k in enumerate(keys) if store[k][i] is not None]
        bufs = [store[keys[j]][i] for j in held]
        out = {"k": np.repeat(karr[held], [len(b[0]) for b in bufs])}
        for j, c in enumerate(cols):
            out[c] = (np.concatenate([b[j] for b in bufs]) if bufs
                      else np.empty(0))
        return out

    return {"L": side(0, lcols), "R": side(1, rcols),
            "seen": {"k": karr,
                     "ms": np.array([store[k][2] if len(store[k]) == 3
                                     else 0 for k in keys], np.int64)}}


def join_kernel(blob: bytes | None, batch: pd.DataFrame, now: int,
                ttl_ms: int | None) -> tuple[bytes, pd.DataFrame]:
    """One bucket's micro-batch: (state blob, tagged rows) -> (new blob,
    pairs).  Spark-free and pure; ``stateful_stream_join`` drives it once
    per bucket per batch.

    ``batch`` is ``tag_sides`` output (k, side, __l_*..., __r_*...).  With
    ``ttl_ms`` set, keys last seen at or before ``now - ttl_ms`` are
    dropped from the buffers first, and every key in ``batch`` is then
    stamped ``now``.  The pairs are (new L x (buffered R + new R)) +
    (buffered L x new R): each (left, right) record pair exactly once,
    when the later of the two arrives, with duplicate multiplicity kept —
    the set the reference's record-at-a-time SideJoiner emits.  The pairs
    frame has columns k, __l_*..., __r_* in ``batch`` order."""
    lcols = [c for c in batch.columns if c.startswith("__l_")]
    rcols = [c for c in batch.columns if c.startswith("__r_")]
    k = batch["k"].to_numpy()
    is_l = batch["side"].to_numpy() == "L"
    new_l = {"k": k[is_l], **{c: batch[c].to_numpy()[is_l] for c in lcols}}
    new_r = {"k": k[~is_l], **{c: batch[c].to_numpy()[~is_l] for c in rcols}}
    state = pickle.loads(blob) if blob is not None else {}
    # the previous layout maps each key to a (lbuf, rbuf[, stamp]) tuple
    if not state or isinstance(next(iter(state.values())), tuple):
        state = _from_per_key_dict(state, lcols, rcols)
    old_l, old_r, seen = state["L"], state["R"], state["seen"]

    parts = (old_l["k"], new_l["k"], old_r["k"], new_r["k"], seen["k"])
    codes, uniq = pd.factorize(np.concatenate([p for p in parts if len(p)]))
    ol, nl, orr, nr, sk = np.split(codes, np.cumsum([len(p) for p in parts])
                                   [:-1])
    n = len(uniq)
    if ttl_ms is not None:
        # stamps are kept only while ttl_ms is set, so a buffered key with
        # no stamp (state written without TTL) counts as last seen at 0
        alive = np.zeros(n + 1, bool)
        alive[sk[seen["ms"] > now - ttl_ms]] = True
        old_l, ol = _take(old_l, alive[ol]), ol[alive[ol]]
        old_r, orr = _take(old_r, alive[orr]), orr[alive[orr]]
    new_l, nl = _take(new_l, nl >= 0), nl[nl >= 0]
    new_r, nr = _take(new_r, nr >= 0), nr[nr >= 0]

    all_r = _cat(old_r, new_r)
    ai, bj = _match(nl, np.concatenate((orr, nr)), n)
    ci, dj = _match(ol, nr, n)
    pairs = pd.DataFrame(
        {"k": _cat1(new_l["k"][ai], old_l["k"][ci]),
         **{c: _cat1(new_l[c][ai], old_l[c][ci]) for c in lcols},
         **{c: _cat1(all_r[c][bj], new_r[c][dj]) for c in rcols}})

    if ttl_ms is not None:
        hit = np.zeros(n + 1, bool)
        hit[nl] = hit[nr] = True
        keep = ~hit[sk] & alive[sk]
        fresh = np.flatnonzero(hit[:n])
        seen = {"k": _cat1(seen["k"][keep], uniq[fresh]),
                "ms": _cat1(seen["ms"][keep],
                            np.full(len(fresh), now, np.int64))}
    state = {"L": _cat(old_l, new_l), "R": all_r, "seen": seen}
    return pickle.dumps(state), pairs


def stateful_stream_join(left: DataFrame, right: DataFrame, key: str,
                         left_payload: list[str], right_payload: list[str],
                         ttl_ms: int | None = None,
                         buckets: int | str = "auto",
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Unbounded-buffer stream-stream inner join (reference parity).

    Emits one row per (left record, right record) cross-match per key —
    matched entries STAY buffered and match again later (side_joiner.go
    keeps them; window.go never evicts).  Per micro-batch the emitted set
    is (new lefts x (buffered rights + new rights)) + (buffered lefts x
    new rights): each pair appears exactly once, when the later of its
    two records arrives — the same set the reference's record-at-a-time
    loop produces.  Null keys never match.

    State is keyed by ``xxhash64(k) % buckets``: each bucket holds the
    columnar buffers of all its keys (module docstring) and ``join_kernel``
    matches a bucket's whole micro-batch against them in one vectorized
    pass, so Spark's fixed per-group cost (Arrow slicing, state get/put)
    is paid ``buckets`` times per batch, never once per live key.  A
    bucket's state (de)serializes as one blob per batch, so pick
    ``buckets`` large enough that state/buckets fits comfortably in task
    memory (thousands to tens of thousands at scale).  Default ``"auto"``
    = 4 x defaultParallelism.

    ``ttl_ms``: per-key processing-time expiry — each key carries a
    last-seen stamp inside the bucket and is pruned once idle past
    ``ttl_ms`` (a hot neighbor can't keep cold keys alive); the bucket's
    own timeout stays only as GC for fully-idle buckets.

    ``checkpoint_dir``: pass the query's checkpointLocation to PIN the
    resolved bucket count across restarts (``resolve_buckets`` sidecar)
    — B is part of the state layout, and ``"auto"`` re-resolving under
    different cluster parallelism would orphan checkpointed buffers.
    Checkpoints written by the previous per-key-dict bucket layout resume
    (``join_kernel`` decodes them on first load).

    Output: (k, __l_<left_payload cols>..., __r_<right_payload cols>...),
    all typed — ``parse_joined`` regroups them into (k, l struct, r struct).
    """
    tagged = tag_sides(left, right, key, left_payload, right_payload)
    l_types = {f.name: f.dataType for f in left.schema.fields}
    r_types = {f.name: f.dataType for f in right.schema.fields}
    out_schema = T.StructType(
        [T.StructField("k", left.schema[key].dataType)]
        + [T.StructField(f"__l_{c}", l_types[c]) for c in left_payload]
        + [T.StructField(f"__r_{c}", r_types[c]) for c in right_payload])
    state_schema = T.StructType([T.StructField("buf", T.BinaryType())])

    def update(pkey, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        blob, pairs = join_kernel(state.get[0] if state.exists else None,
                                  pd.concat(list(pdfs), ignore_index=True),
                                  state.getCurrentProcessingTimeMs(), ttl_ms)
        state.update((blob,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if len(pairs):
            yield pairs

    timeout = GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None \
        else GroupStateTimeout.NoTimeout
    b = resolve_buckets(left.sparkSession, buckets, checkpoint_dir)
    return (tagged.withColumn("__b", F.pmod(F.xxhash64("k"), F.lit(b)))
            .groupBy("__b").applyInPandasWithState(
                update, out_schema, state_schema, "append", timeout))


def parse_joined(df: DataFrame, left_schema: T.StructType,
                 right_schema: T.StructType) -> DataFrame:
    """Regroup the flat typed output back into (k, l struct, r struct) —
    a pure projection (the decode step JSON payloads used to need is gone)."""
    return df.select(
        "k",
        F.struct(*[F.col(f"__l_{f.name}").cast(f.dataType).alias(f.name)
                   for f in left_schema.fields]).alias("l"),
        F.struct(*[F.col(f"__r_{f.name}").cast(f.dataType).alias(f.name)
                   for f in right_schema.fields]).alias("r"))


def watermarked_stream_join(left: DataFrame, right: DataFrame, key: str,
                            left_ts: str, right_ts: str,
                            watermark: str = "10 minutes",
                            within: str = "5 minutes",
                            how: str = "inner") -> DataFrame:
    """Spark-NATIVE bounded-state stream-stream join — the production
    complement to ``stateful_stream_join``'s reference parity.

    The reference buffers both sides FOREVER (window.go never evicts), so
    the parity joiner reproduces that with explicit state + TTL.  What a
    100 TB deployment should actually run is this: watermark both sides
    and constrain the match to a time interval
    (``|left_ts - right_ts| <= within``), and Spark's symmetric hash join
    manages the buffers AND evicts rows older than watermark + interval
    on its own — bounded state with engine-native cleanup, no Python in
    the loop, and late data handled by the same watermark contract as
    the windowed aggregations (§2.5).

    Column hygiene: the native join keeps both schemas, so a right-side
    payload column whose name collides with a left-side one (the shared
    timestamp name being the common case) is emitted with a ``_right``
    suffix; non-colliding names pass through unchanged.  A right side
    that ALREADY contains both ``c`` and ``c_right`` would make the
    suffixed name collide again, so that shape is rejected up front
    (ValueError) rather than emitting duplicate output names.  Outer
    joins (``how='leftOuter'``/``'rightOuter'``/``'fullOuter'``) are
    supported by Spark with the same condition; null rows emit once the
    watermark passes the interval bound.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    # Qualify the timestamp refs (left_ts == right_ts would otherwise be
    # ambiguous) and coalesce the key so right-only rows of outer joins
    # keep a non-NULL join key instead of the dropped side's NULL.
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"interval {within}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"interval {within}"))
    )
    joined = lw.join(rw, cond, how)
    # Non-key name collisions (left_ts == right_ts being the common one)
    # would otherwise emit two output columns under the same name, making
    # downstream by-name selection ambiguous — suffix the right side's.
    left_names = {c for c in left.columns if c != key}
    right_out = {c: f"{c}_right" if c in left_names else c
                 for c in right.columns if c != key}
    out_names = ([key] + [c for c in left.columns if c != key]
                 + list(right_out.values()))
    dupes = {n for n in out_names if out_names.count(n) > 1}
    if dupes:
        # e.g. the right side already carries both `v` and `v_right`
        raise ValueError(
            "watermarked_stream_join: output would contain duplicate "
            f"column names {sorted(dupes)} after suffixing colliding "
            "right-side columns with '_right' — rename before joining")
    return joined.select(
        F.coalesce(lw[key], rw[key]).alias(key),
        *[lw[c] for c in left.columns if c != key],
        *[rw[c].alias(right_out[c]) for c in right.columns if c != key])
