"""Spark-free checks of ``streaming/join.join_kernel`` — the per-bucket
micro-batch kernel behind ``stateful_stream_join`` — against a plain-Python,
record-at-a-time SideJoiner (side_joiner.go:54-93, window.go:5-29) over
random multi-batch inputs, and against state blobs in the previous
per-key-dict bucket layout (checkpoint restart)."""

import math
import pickle
from collections import Counter

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kstream_spark.streaming.join import join_kernel


class SideJoiner:
    """The reference, one record at a time: per-key buffers for both
    sides; an arriving record matches every buffered record of the other
    side and is then buffered itself; nothing is evicted on match.  With
    ``ttl_ms``, keys last seen at or before ``now - ttl_ms`` are dropped
    when a batch starts and every key in a batch is stamped ``now``.  Null
    keys never match and are never buffered."""

    def __init__(self):
        self.buf = {}                       # k -> [lefts, rights, last_seen]

    def batch(self, records, now, ttl_ms):
        if ttl_ms is not None:
            self.buf = {k: v for k, v in self.buf.items()
                        if v[2] > now - ttl_ms}
        out = []
        for k, side, payload in records:
            if k is None:
                continue
            entry = self.buf.setdefault(k, [[], [], now])
            entry[2] = now
            if side == "L":
                out += [(k, payload, r) for r in entry[1]]
                entry[0].append(payload)
            else:
                out += [(k, l, payload) for l in entry[0]]
                entry[1].append(payload)
        return out


def frame(records, key_type):
    """Tagged rows as applyInPandasWithState hands them over: Arrow ->
    pandas, so a null in an int64 column widens it to float64 NaN."""
    return pa.table({
        "k": pa.array([k for k, _, _ in records], key_type),
        "side": pa.array([s for _, s, _ in records], pa.string()),
        "__l_lv": pa.array([p if s == "L" else None for _, s, p in records],
                           pa.int64()),
        "__r_rv": pa.array([None if s == "L" or p is None else f"r{p}"
                            for _, s, p in records], pa.string()),
        "__b": pa.array([0] * len(records), pa.int64()),
    }).to_pandas()


def _norm(x):
    if isinstance(x, float) and math.isnan(x):
        return None
    return x.item() if isinstance(x, np.generic) else x


def pairs_set(pairs):
    assert list(pairs.columns) == ["k", "__l_lv", "__r_rv"]
    return Counter(tuple(_norm(x) for x in row)
                   for row in pairs.itertuples(index=False))


def expected(out):
    return Counter((k, l, None if r is None else f"r{r}") for k, l, r in out)


def key_of(kind, v):
    if v is None:
        return None
    return v + 2**40 if kind == "long" else f"k{v}"


KEY_TYPE = {"long": pa.int64(), "string": pa.string()}
# a hot key (0) drawn most of the time, a few cold ones, and nulls
RAW_KEY = st.one_of(st.just(0), st.integers(0, 4), st.none())
RECORD = st.tuples(RAW_KEY, st.sampled_from("LR"),
                   st.one_of(st.integers(0, 2), st.none()))
BATCHES = st.lists(st.tuples(st.lists(RECORD, min_size=1, max_size=12),
                             st.integers(0, 40)),        # now advance
                   min_size=1, max_size=6)
TTL = st.one_of(st.none(), st.integers(1, 60))


def _records(kind, raw):
    return [(key_of(kind, k), s, p) for k, s, p in raw]


@settings(max_examples=300, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.sampled_from(["long", "string"]), BATCHES, TTL)
def test_kernel_matches_record_at_a_time_side_joiner(kind, batches, ttl_ms):
    ref, blob, now = SideJoiner(), None, 1_000
    for raw, advance in batches:
        now += advance
        recs = _records(kind, raw)
        blob, pairs = join_kernel(blob, frame(recs, KEY_TYPE[kind]), now,
                                  ttl_ms)
        assert pairs_set(pairs) == expected(ref.batch(recs, now, ttl_ms))


def test_null_keys_never_match():
    recs = [(None, "L", 1), (None, "R", 1), (5, "L", 2)]
    blob, pairs = join_kernel(None, frame(recs, pa.int64()), 0, None)
    assert len(pairs) == 0
    blob, pairs = join_kernel(
        blob, frame([(None, "R", 3), (5, "R", 4)], pa.int64()), 0, None)
    assert pairs_set(pairs) == Counter({(5, 2, "r4"): 1})


def test_ttl_prunes_idle_key_not_hot_neighbor():
    """Same bucket: key 1 stays active, key 2 goes idle past ttl_ms."""
    b, _ = join_kernel(None, frame([(1, "L", 1), (2, "L", 2)], pa.int64()),
                       0, 100)
    b, _ = join_kernel(b, frame([(1, "L", 3)], pa.int64()), 60, 100)
    b, pairs = join_kernel(b, frame([(1, "R", 0), (2, "R", 0)], pa.int64()),
                           120, 100)
    assert pairs_set(pairs) == Counter({(1, 1, "r0"): 1, (1, 3, "r0"): 1})


def _legacy_blob(ref, stamped):
    """The previous bucket layout, as its kernel pickled it: {k: (lbuf,
    rbuf[, stamp])} with each buffer a list of column arrays or None."""
    def buf(vals, dtype):
        return [np.array(vals, dtype=dtype)] if vals else None
    return pickle.dumps({
        k: (buf([np.nan if p is None else p for p in ls], np.float64),
            buf([None if p is None else f"r{p}" for p in rs], object),
            *((seen,) if stamped else ()))
        for k, (ls, rs, seen) in ref.buf.items()})


def test_restart_from_legacy_bucket_blob():
    """Hand-built 2-tuple blob: later matches equal what the per-key loop
    emitted for the same buffers, and the decoded buffers keep matching."""
    legacy = pickle.dumps({
        np.int64(1): ([np.array([10.0])], [np.array(["b1"], object)]),
        np.int64(2): (None, [np.array(["b2", "b2"], object)]),
    })
    batch = pa.table({
        "k": pa.array([1, 2, 1], pa.int64()),
        "side": pa.array(["L", "L", "R"]),
        "__l_lv": pa.array([11, 12, None], pa.int64()),
        "__r_rv": pa.array([None, None, "b3"]),
    }).to_pandas()
    blob, pairs = join_kernel(legacy, batch, 0, None)
    assert pairs_set(pairs) == Counter({
        (1, 11, "b1"): 1, (1, 11, "b3"): 1, (1, 10, "b3"): 1,
        (2, 12, "b2"): 2})
    _, pairs = join_kernel(blob, frame([(2, "R", 7)], pa.int64()), 0, None)
    assert pairs_set(pairs) == Counter({(2, 12, "r7"): 1})


@settings(max_examples=100, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(BATCHES, BATCHES, TTL)
def test_restart_from_legacy_blob_matches_reference(before, after, ttl_ms):
    """Buffers the old kernel would have checkpointed (3-tuples with
    last-seen stamps; 2-tuples without TTL) resume with the same later
    matches as the uninterrupted reference."""
    ref, now = SideJoiner(), 1_000
    for raw, advance in before:
        now += advance
        ref.batch(_records("long", raw), now, ttl_ms)
    blob = _legacy_blob(ref, stamped=ttl_ms is not None)
    for raw, advance in after:
        now += advance
        recs = _records("long", raw)
        blob, pairs = join_kernel(blob, frame(recs, pa.int64()), now, ttl_ms)
        assert pairs_set(pairs) == expected(ref.batch(recs, now, ttl_ms))
