"""Stores hold executed state: each micro-batch is checkpointed once inside
its batch and folded into one compacted relation on read (stores/registry.py
``Store._fold``).  Exactly-once through a stateful upstream operator, a
bounded store without reads, a crash after a batch's part was appended, a
fold that frees its parts but never a base a reader may hold, and readers
running while a stream writes."""

import datetime
import json
import sys
import threading
import urllib.request

import numpy as np
import pyspark.sql.functions as F
import pytest

from kstream_spark import StreamBuilder, util
from kstream_spark.stores import registry
from kstream_spark.stores.registry import PersistentStoreRegistry
from kstream_spark.streaming import core as SC

EPOCH = datetime.datetime(2024, 1, 1)


def _write_batches(spark, path, batches, schema="uuid long, k long, ver long"):
    """One parquet file per entry of ``batches``, written in order, so a
    ``maxFilesPerTrigger=1`` source reads one micro-batch per file."""
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(path))


def _source(spark, path):
    schema = spark.read.parquet(str(path)).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1) \
        .parquet(str(path))


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(10)


def _latest(rows):
    """Latest ``ver`` per key ``k`` over (uuid, k, ver) rows."""
    out = {}
    for _, k, ver, *_ in rows:
        out[k] = max(out.get(k, ver), ver)
    return out


def _key_batches(n_batches, per_batch, keys, seed):
    rng = np.random.default_rng(seed)
    n = n_batches * per_batch
    ks, vers = rng.integers(0, keys, n), rng.permutation(n)
    rows = [(i, int(ks[i]), int(vers[i])) for i in range(n)]
    return [rows[i * per_batch:(i + 1) * per_batch] for i in range(n_batches)]


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_fold_frees_its_parts_and_keeps_read_frames_valid(spark, tmp_path,
                                                          monkeypatch):
    # every part is a checkpoint the store made, so freeing one never falls
    # back; a replaced base is dropped, not freed, so a frame read before
    # any number of folds stays valid
    def no_fallback(exc):
        raise AssertionError(f"free_local_checkpoint fell back: {exc}")
    monkeypatch.setattr(util, "_warn_free_checkpoint_fallback", no_fallback)

    b = StreamBuilder(spark)
    batches = _key_batches(3, 40, 15, seed=1)
    _write_batches(spark, tmp_path / "in", batches)
    _drain(SC.materialize_stream(_source(spark, tmp_path / "in"), b.stores,
                                 "owned", key="k", version="ver",
                                 checkpoint_dir=str(tmp_path / "ck")))
    store = b.stores.store("owned")
    parts = [_rdd_id(df) for df in store._pending]
    rows = [r for part in batches for r in part]
    early = store.get_all()
    want_early = _latest(rows)
    assert {r.k: r.ver for r in early.collect()} == want_early
    for i in range(4):   # batch writes of lazy file reads, one fold each
        extra = [(1000 + i, i, 10_000 + i), (2000 + i, 99, i)]
        _write_batches(spark, tmp_path / f"extra{i}", [extra])
        b.stores.materialize("owned", spark.read.parquet(
            str(tmp_path / f"extra{i}")), key="k", version="ver")
        parts += [_rdd_id(df) for df in store._pending]
        rows += extra
        assert {r.k: r.ver for r in store.get_all().collect()} == _latest(rows)
    assert len(parts) == 7 and not set(parts) & _persisted(spark)
    assert {r.k: r.ver for r in early.collect()} == want_early
    assert _rdd_id(store._base) in _persisted(spark)

    reg = PersistentStoreRegistry(spark, str(tmp_path / "snap"))
    reg.materialize("p", spark.createDataFrame(
        [(1, 1, 1)], "uuid long, k long, ver long"), key="k", version="ver")
    reg = PersistentStoreRegistry(spark, str(tmp_path / "snap"))
    loaded = reg.load("p", key="k")
    for ver in (2, 3, 4):   # folds over the loaded snapshot, then its own
        reg.materialize("p", spark.createDataFrame(
            [(ver, 1, ver)], "uuid long, k long, ver long"),
            key="k", version="ver")
        assert [r.ver for r in loaded.get_all().collect()] == [ver]


@pytest.mark.parametrize("persistent", [False, True],
                         ids=["memory", "persistent"])
def test_reads_stay_valid_while_a_stream_writes(spark, tmp_path, persistent):
    # a reader thread pages a frame it read before the stream started, and
    # pages the live store over HTTP, while a streaming query writes one
    # micro-batch per file; the persistent registry folds on every write,
    # the in-memory one on every read after a write.  A fold that freed a
    # base the reader still held would fail the held frame's collect
    from kstream_spark.stores.http import StoreHttpServer
    from kstream_spark.stores.registry import StoreRegistry

    reg = (PersistentStoreRegistry(spark, str(tmp_path / "snap"))
           if persistent else StoreRegistry(spark))
    batches = _key_batches(8, 30, 20, seed=5)
    _write_batches(spark, tmp_path / "first", batches[:1])
    _write_batches(spark, tmp_path / "in", batches[1:])
    schema = "uuid long, k long, ver long"
    store = reg.materialize("live", spark.createDataFrame(batches[0], schema),
                            key="k", version="ver")
    folds = []
    execute = store._execute

    def counting(df):
        folds.append(1)
        return execute(df)
    store._execute = counting
    held = store.get_all()
    want_held = sorted(tuple(r) for r in held.collect())

    def page(df, size=7):
        out, offset = [], 0
        while True:
            chunk = df.orderBy("k").offset(offset).limit(size).collect()
            out += [tuple(r) for r in chunk]
            if len(chunk) < size:
                return sorted(out)
            offset += size

    server = StoreHttpServer(reg).start()
    done, errors, rounds = threading.Event(), [], []

    def reader():
        try:
            while not done.is_set():
                assert page(held) == want_held
                # each page is a fresh read of a store that may have
                # grown since the last page, so only a page is consistent
                offset, pages = 0, 0
                while offset is not None:
                    with urllib.request.urlopen(
                            f"http://127.0.0.1:{server.port}/stores/live"
                            f"?limit=7&offset={offset}", timeout=120) as r:
                        keys = [row["k"] for row in json.loads(r.read())]
                        nxt = r.headers.get("X-Next-Offset")
                    assert keys == sorted(set(keys))
                    offset, pages = (int(nxt) if nxt else None), pages + 1
                rounds.append(pages)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        _drain(SC.materialize_stream(_source(spark, tmp_path / "in"), reg,
                                     "live", key="k", version="ver",
                                     checkpoint_dir=str(tmp_path / "ck")))
    finally:
        done.set()
        t.join(timeout=300)
        server.stop()
    assert not t.is_alive() and not errors, errors
    assert rounds and len(folds) >= 2
    assert page(held) == want_held
    rows = [r for part in batches for r in part]
    assert {r.k: r.ver for r in store.get_all().collect()} == _latest(rows)


def test_dedup_then_materialize_is_exactly_once(spark, tmp_path):
    # redelivery: each file repeats a third of the previous file's records
    # with the same uuid and event time, all inside the 10 minute watermark
    rng = np.random.default_rng(3)
    files, per_file = 4, 60
    n = files * per_file
    ks, vers = rng.integers(0, 25, n), rng.permutation(n)
    base = [(i, int(ks[i]), int(vers[i]), EPOCH + datetime.timedelta(seconds=i))
            for i in range(n)]
    batches = []
    for f in range(files):
        cur = base[f * per_file:(f + 1) * per_file]
        if f:
            prev = base[(f - 1) * per_file:f * per_file]
            cur = cur + [prev[j] for j in rng.permutation(per_file)[:per_file // 3]]
        batches.append(cur)
    _write_batches(spark, tmp_path / "in", batches,
                   "uuid long, k long, ver long, ts timestamp")

    b = StreamBuilder(spark)
    q = SC.materialize_stream(
        SC.dedup_stream(_source(spark, tmp_path / "in"), ["uuid"], "ts"),
        b.stores, "eo", key="k", version="ver",
        checkpoint_dir=str(tmp_path / "ck"))
    _drain(q)
    got = {r.k: r.ver for r in b.stores.store("eo").get_all().collect()}
    assert got == _latest(base)


def _lookup_jobs(spark, store, key) -> int:
    sc = spark.sparkContext
    group = f"lookup-{store.name}"
    sc.setJobGroup(group, "point lookup")
    try:
        store.get(key).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_stays_bounded_without_reads(spark, tmp_path):
    threshold = registry._FOLD_AT
    batches = _key_batches(12, 30, 20, seed=2)
    _write_batches(spark, tmp_path / "in12", batches)
    _write_batches(spark, tmp_path / "in1", batches[:1])

    b = StreamBuilder(spark)
    write = b.stores.materialize
    pending = []

    def spy(*args, **kwargs):
        store = write(*args, **kwargs)
        pending.append(len(store._pending))
        return store
    b.stores.materialize = spy
    for name in ("in12", "in1"):
        _drain(SC.materialize_stream(_source(spark, tmp_path / name), b.stores,
                                     name, key="k", version="ver",
                                     checkpoint_dir=str(tmp_path / f"ck{name}")))
    assert len(pending) == 13 and max(pending) < threshold

    many, one = b.stores.store("in12"), b.stores.store("in1")
    rows = [r for part in batches for r in part]
    assert {r.k: r.ver for r in many.get_all().collect()} == _latest(rows)
    plan = many.get_all()._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan
    one.get_all().collect()
    key = batches[0][0][1]
    assert _lookup_jobs(spark, many, key) == _lookup_jobs(spark, one, key)


def test_materialize_stream_crash_mid_batch_replays_to_same_store(spark, tmp_path):
    batches = _key_batches(3, 40, 15, seed=4)
    _write_batches(spark, tmp_path / "in", batches)

    def run(registry, ck):
        _drain(SC.materialize_stream(_source(spark, tmp_path / "in"), registry,
                                     "s", key="k", version="ver",
                                     checkpoint_dir=str(tmp_path / ck)))

    clean = StreamBuilder(spark).stores
    run(clean, "ck-clean")
    want = sorted(tuple(r) for r in clean.store("s").get_all().collect())

    b = StreamBuilder(spark)
    write = b.stores.materialize
    appended = []

    def crash_after_append(*args, **kwargs):
        store = write(*args, **kwargs)
        appended.append(len(store._pending))
        if len(appended) == 2:
            raise RuntimeError("crash after the batch's part was appended")
        return store
    b.stores.materialize = crash_after_append
    with pytest.raises(Exception, match="crash after"):
        run(b.stores, "ck")
    assert appended == [1, 2]
    del b.stores.materialize
    run(b.stores, "ck")         # restart: the crashed batch is replayed
    got = sorted(tuple(r) for r in b.stores.store("s").get_all().collect())
    assert got == want


def test_concurrent_writes_lose_no_update(spark):
    # more writer threads than cores append to one store while threshold
    # folds run inside their writes; a part appended during a fold and then
    # dropped with the folded ones would be missing from the final read
    b = StreamBuilder(spark)
    threads, writes = 8, 4
    errors = []

    def writer(t):
        try:
            for i in range(writes):
                b.stores.materialize("conc", spark.range(1).select(
                    F.lit(t * writes + i).alias("k"),
                    F.lit(i).alias("ver")), key="k", version="ver")
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        workers = [threading.Thread(target=writer, args=(t,))
                   for t in range(threads)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers) and not errors
    got = {r.k: r.ver for r in b.stores.store("conc").get_all().collect()}
    assert got == {t * writes + i: i for t in range(threads)
                   for i in range(writes)}
