"""GlobalTable / store semantics mirroring kstream/store tests and
global_table_stream_test.go (latest-by-key, tombstones, version gating,
point/range/scan/index lookups, TTL)."""

import datetime

import pyspark.sql.functions as F
import pytest

from kstream_spark import StreamBuilder
from kstream_spark.global_table import compact_latest


@pytest.fixture(scope="module")
def changes(spark):
    # (key, version, payload, deleted)
    return spark.createDataFrame(
        [
            ("k1", 1, "a", False),
            ("k1", 3, "c", False),
            ("k1", 2, "b", False),      # stale: lower version than 3
            ("k2", 1, "x", False),
            ("k2", 2, None, True),      # tombstone wins -> k2 gone
            ("k3", 5, "z", False),
        ],
        "key string, version long, payload string, deleted boolean",
    )


def test_latest_by_key_version_gated(spark, changes):
    # ref builder.go:231-233: upsert wins iff new.version > current.version
    out = compact_latest(changes, "key", version="version")
    rows = {r.key: (r.version, r.payload) for r in out.collect()}
    assert rows["k1"] == (3, "c")
    assert rows["k3"] == (5, "z")


def test_tombstone_removes_key(spark, changes):
    # ref global_table.go:36-41: nil value deletes the key
    out = compact_latest(changes, "key", version="version",
                         tombstone=F.col("deleted"))
    assert {r.key for r in out.collect()} == {"k1", "k3"}


def test_tombstone_then_reinsert_survives(spark):
    df = spark.createDataFrame(
        [("k", 1, None, True), ("k", 2, "back", False)],
        "key string, version long, payload string, deleted boolean")
    out = compact_latest(df, "key", version="version", tombstone=F.col("deleted"))
    assert [(r.key, r.payload) for r in out.collect()] == [("k", "back")]


def test_store_registry_crud(spark, changes):
    b = StreamBuilder(spark)
    store = b.stores.materialize("s1", changes, key="key", version="version",
                                 tombstone=F.col("deleted"))
    assert b.stores.stores() == ["s1"]
    # point lookup (ref store/http.go:333-392)
    assert store.get("k1").collect()[0].payload == "c"
    # range scan (ref store.go GetRange)
    assert {r.key for r in store.get_range("k1", "k2").collect()} == {"k1"}
    # full scan
    assert store.get_all().count() == 2
    # secondary-index lookup (ref indexed_store.go) — a filter IS the index
    assert store.get_indexed("payload", "z").collect()[0].key == "k3"
    # SQL surface: reads the store by name, current after every write
    assert b.stores.sql("SELECT count(*) AS n FROM s1").collect()[0].n == 2
    b.stores.materialize("s1", spark.createDataFrame(
        [("k4", 1, "w", False)],
        "key string, version long, payload string, deleted boolean"),
        key="key", version="version", tombstone=F.col("deleted"))
    assert b.stores.sql("SELECT count(*) AS n FROM s1").collect()[0].n == 3


def test_store_rematerialize_merges(spark):
    b = StreamBuilder(spark)
    df1 = spark.createDataFrame([("a", 1, "v1")], "key string, version long, p string")
    b.stores.materialize("m", df1, key="key", version="version")
    df2 = spark.createDataFrame([("a", 2, "v2"), ("b", 1, "w1")],
                                "key string, version long, p string")
    store = b.stores.materialize("m", df2, key="key", version="version")
    rows = {r.key: r.p for r in store.get_all().collect()}
    assert rows == {"a": "v2", "b": "w1"}


def test_store_rematerialize_version_gate_keeps_newer(spark):
    # out-of-order re-materialization: older version must NOT overwrite
    b = StreamBuilder(spark)
    b.stores.materialize("vg", spark.createDataFrame(
        [("a", 5, "new")], "key string, version long, p string"),
        key="key", version="version")
    store = b.stores.materialize("vg", spark.createDataFrame(
        [("a", 2, "old")], "key string, version long, p string"),
        key="key", version="version")
    assert store.get("a").collect()[0].p == "new"


def test_ttl_expiry(spark):
    # ref store.go:119-149 + memory.go:88-100 (lazy TTL expiry)
    b = StreamBuilder(spark)
    now = datetime.datetime.now(datetime.timezone.utc)
    df = spark.createDataFrame(
        [("live", 1, now + datetime.timedelta(hours=1)),
         ("dead", 1, now - datetime.timedelta(hours=1)),
         ("forever", 1, None)],
        "key string, version long, expiry timestamp")
    store = b.stores.materialize("ttl", df, key="key", version="version",
                                 ttl_col="expiry")
    assert {r.key for r in store.get_all().collect()} == {"live", "forever"}
    assert {r.key for r in b.stores.sql("SELECT key FROM ttl").collect()} \
        == {"live", "forever"}


def test_global_table_point_lookup(spark, changes):
    b = StreamBuilder(spark)
    gt = b.global_table(changes, key="key", version="version", sync=True)
    assert gt.get("k1").collect()[0].payload == "c"


def test_persistent_registry_survives_restart(spark, tmp_path):
    from kstream_spark.stores.registry import PersistentStoreRegistry
    reg = PersistentStoreRegistry(spark, str(tmp_path / "stores"))
    df1 = spark.createDataFrame([("a", 1, "v1"), ("b", 1, "w1")],
                                "key string, version long, p string")
    reg.materialize("ps", df1, key="key", version="version")
    # incremental re-materialize (merges with prior snapshot)
    df2 = spark.createDataFrame([("a", 2, "v2")], "key string, version long, p string")
    reg.materialize("ps", df2, key="key", version="version")
    assert {r.key: r.p for r in reg.store("ps").get_all().collect()} == \
        {"a": "v2", "b": "w1"}

    # "restart": a fresh registry loads the latest snapshot from disk
    reg2 = PersistentStoreRegistry(spark, str(tmp_path / "stores"))
    store = reg2.load("ps", key="key")
    assert {r.key: r.p for r in store.get_all().collect()} == {"a": "v2", "b": "w1"}
    # and further materializations continue from the restored state
    reg2.materialize("ps", spark.createDataFrame(
        [("b", 0, "stale")], "key string, version long, p string"),
        key="key", version="version")
    assert reg2.store("ps").get("b").collect()[0].p == "w1"   # version gate held

    import pytest as _p
    with _p.raises(KeyError):
        reg2.load("missing", key="key")


@pytest.mark.parametrize("persistent", [False, True],
                         ids=["memory", "persistent"])
def test_fold_publishes_no_temp_view(spark, tmp_path, persistent):
    """A fold binds no session temp view, so nothing keeps a store's base
    stored once its registry and frames are gone; ``StoreRegistry.sql``
    binds the name only for its own query, whose frame outlives it."""
    from kstream_spark.stores.registry import (PersistentStoreRegistry,
                                               StoreRegistry)
    root = str(tmp_path / "stores")
    reg = PersistentStoreRegistry(spark, root) if persistent \
        else StoreRegistry(spark)
    reg.materialize("viewless", spark.createDataFrame(
        [("a", 1, "v1")], "key string, version long, p string"),
        key="key", version="version").get_all().collect()
    assert not spark.catalog.tableExists("viewless")
    got = reg.sql("SELECT p FROM viewless")
    assert not spark.catalog.tableExists("viewless")
    assert [r.p for r in got.collect()] == ["v1"]
    if persistent:
        PersistentStoreRegistry(spark, root).load("viewless", key="key")
        assert not spark.catalog.tableExists("viewless")


def test_concurrent_sql_calls_read_their_own_stores(spark):
    """Two registries with a store of the same name, queried from two
    threads at once: each query reads its own registry's store."""
    import threading

    from kstream_spark.stores.registry import StoreRegistry
    regs = [StoreRegistry(spark) for _ in range(2)]
    for i, reg in enumerate(regs):
        reg.materialize("same_name", spark.createDataFrame(
            [(i, 1)], "key long, version long"), key="key", version="version")
    seen, errors = [[], []], []

    def query(i):
        try:
            for _ in range(10):
                seen[i] += [r.key for r in regs[i].sql(
                    "SELECT key FROM same_name").collect()]
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=query, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert seen == [[0] * 10, [1] * 10]


def test_composite_version_column(spark):
    # version comparator over a composite (epoch, seq) — the analog of the
    # reference's pluggable RecordVersionExtractor (materializer.go:10-11)
    df = spark.createDataFrame(
        [("k", 1, 5, "old-epoch-high-seq"),
         ("k", 2, 1, "new-epoch-low-seq")],
        "key string, epoch long, seq long, p string")
    out = compact_latest(df, "key", version=F.struct("epoch", "seq"))
    assert out.collect()[0].p == "new-epoch-low-seq"
