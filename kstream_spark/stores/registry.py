"""Named store registry + interactive query surface.

Ref:
  Store iface      kstream/store/store.go:20-31 (Set/Get/GetRange/GetAll/Delete,
                   per-record TTL store.go:119-149)
  IndexedStore     kstream/store/indexed_store.go:16-33,59-160
  StateStore       kstream/store/state_store.go:10-69
  Registry         kstream/store/registry.go:12-63
  HTTP query layer kstream/store/http.go:120-401 (list stores, full scan,
                   point lookup, index lookup)
  Backend          backend/backend.go:16-28, backend/memory/memory.go:52-100

Spark-first: a "store" is a named latest-by-key relation (compacted with the
GlobalTable machinery), queryable by name with full Spark SQL through
``StoreRegistry.sql``.  Secondary indexes need no maintenance: a filter on
any column IS the index lookup (Catalyst prunes/pushes down), and the
driver-local copy below hashes a column on its first lookup.

A store holds executed state, as the reference applies each record to its
store on arrival (processors/materializer.go:65-94): a compacted base plus a
short list of pending parts — Structured Streaming's per-batch state deltas
folded into snapshots.  A write executes its input once into a
``localCheckpoint`` the store owns and appends it as a part; for a
foreachBatch micro-batch that happens inside its batch, so the batch's
upstream operator state commits and the lineage back to the source files is
cut.  Every read folds the pending parts and the base into a new base under
a per-store lock (``Store._fold``, the one place the registry runs
``compact_latest``), so a lookup scans one compacted relation and never
re-runs the pipeline that fed the store.  Writes fold too once ``_FOLD_AT``
parts are pending, so a store nobody reads stays bounded.  The in-memory
registry's base is a ``localCheckpoint``; ``PersistentStoreRegistry``'s is the
parquet snapshot the fold just wrote.  A fold frees the parts it folded (no
reader ever saw them) and only drops its reference to the base it replaced:
a frame a reader still holds keeps that base's blocks alive, and Spark's
ContextCleaner frees them once no frame does.  A registry made inside a
``util.cache_scope`` is the scope's: the scope's exit frees the checkpoints
its stores hold.  No store publishes a temp view: ``StoreRegistry.sql``
binds each store's live rows under its name only while Spark analyzes
that one query.

Point and index lookups (``Store.lookup``, behind the HTTP routes) read a
driver-local copy of the base when it fits the driver: the one size gate
``util.fits_driver``, fed the bytes the base really holds (the
``localCheckpoint``'s stored blocks, the snapshot's file sizes).  The copy
is collected on the first lookup after a fold, each column hashed into
``value -> rows`` on its first lookup, and a fold drops it, so a lookup is
a dict hit as in the reference's memory backend.  A larger base keeps the
Spark filter; ``get``/``get_indexed`` always return the filtered DataFrame.

TTL (store.go:25, memory cleaner memory.go:88-100): rows carry an expiry
timestamp; reads filter ``expiry > now`` — lazy expiry, same observable
semantics as the reference's background cleaner.
"""

from __future__ import annotations

import datetime
import logging
import threading
from functools import reduce
from typing import Callable, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (AtomicType, BinaryType, StructType,
                               TimestampType)

from kstream_spark import util
from kstream_spark.global_table import compact_latest
from kstream_spark.util import (checkpoint_bytes, fits_driver,
                                free_local_checkpoint, plan_size_bytes)

log = logging.getLogger(__name__)

# a write that leaves this many parts pending folds them: the default of
# Structured Streaming's own delta-to-snapshot threshold
# (spark.sql.streaming.stateStore.minDeltasForSnapshot)
_FOLD_AT = 10

# serializes ``StoreRegistry.sql``'s session-wide temp views
_SQL_LOCK = threading.Lock()


def _checkpoint(df: DataFrame) -> DataFrame:
    """Execute ``df`` once into a local checkpoint the caller owns."""
    # serialized blocks (PySpark's MEMORY_AND_DISK is the JVM's
    # MEMORY_AND_DISK_SER): one buffer per partition instead of one Java
    # object per row.  Against the JVM default (deserialized) on the
    # ingest_store benchmark (4 cores, five pairs): JVM peak RSS 7-85 MB
    # lower (median 60), point lookups 1-13 ms slower (median 4),
    # micro-batches no slower
    return df.localCheckpoint(eager=True,
                              storageLevel=StorageLevel.MEMORY_AND_DISK)


_NAN = object()


def _hkey(value):
    """``value`` as a key of a local index: NaN equals NaN in Spark's
    ``=`` but not in Python's, so every NaN maps to one key."""
    return _NAN if isinstance(value, float) and value != value else value


class Store:
    """A named latest-by-key KV relation with the reference Store surface.

    ``key``, ``version`` and ``tombstone`` are those of the latest write;
    the fold compacts with them and executes the result with ``execute``
    (the registry's: a ``localCheckpoint`` or a parquet snapshot), whose
    size ``measure`` reports in bytes."""

    def __init__(self, name: str, key: str | Sequence[str],
                 ttl_col: str | None = None, base: DataFrame | None = None,
                 execute: Callable[[DataFrame], DataFrame] = _checkpoint,
                 measure: Callable[[DataFrame], int | None] =
                 checkpoint_bytes):
        self.name = name
        self.key = [key] if isinstance(key, str) else list(key)
        self.ttl_col = ttl_col
        self.version: str | None = None
        self.tombstone: Column | str | None = None
        self._base = base          # compacted relation; None until a fold
        self._pending: list[DataFrame] = []   # checkpoints of the writes
        self._execute = execute
        self._measure = measure
        self._lock = threading.RLock()
        self._drop_copy()

    def _drop_copy(self) -> None:
        """Forget the driver-local copy of the base (see ``lookup``)."""
        self._bytes: int | None = None    # the base's measured size
        self._measured = False
        self._rows = None                 # the collected base, once needed
        self._by_col: dict[str, dict] = {}  # column -> value -> rows

    def _fold(self) -> DataFrame:
        """The store as one compacted relation: fold the pending parts into
        the base and execute it once into a new base.

        The folded parts are freed: they are checkpoints the store made, and
        no reader ever saw them.  The replaced base is only dropped, never
        freed, so a frame read before this fold stays valid through any
        number of folds."""
        with self._lock:
            if self._pending:
                parts = ([self._base] if self._base is not None else []) \
                    + self._pending
                merged = reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    parts)
                base = self._execute(compact_latest(
                    merged, self.key, version=self.version,
                    tombstone=self.tombstone))
                for df in self._pending:
                    free_local_checkpoint(df)
                self._base, self._pending = base, []
                self._drop_copy()
            return self._base

    def _unexpired(self, df: DataFrame) -> DataFrame:
        if self.ttl_col:
            return df.filter(
                F.col(self.ttl_col).isNull()
                | (F.col(self.ttl_col) > F.current_timestamp())
            )
        return df

    def _live(self) -> DataFrame:
        return self._unexpired(self._fold())

    # ref: store.go Get / GetRange / GetAll
    def get(self, key_value) -> DataFrame:
        return self._live().filter(F.col(self.key[0]) == F.lit(key_value))

    def get_range(self, lo, hi) -> DataFrame:
        k = F.col(self.key[0])
        return self._live().filter((k >= F.lit(lo)) & (k <= F.lit(hi)))

    def get_all(self) -> DataFrame:
        return self._live()

    # ref: indexed_store.go GetIndexedRecords(index, key) — a filter IS the
    # index lookup in Spark; no maintained secondary structure needed.
    def get_indexed(self, index_col: str, value) -> DataFrame:
        return self._live().filter(F.col(index_col) == F.lit(value))

    def lookup(self, col: str, value, local: bool | None = None) \
            -> list[dict]:
        """The live rows whose ``col`` equals ``value`` (a value of the
        column's type), as row dicts: the rows, in their order, of
        ``get_indexed(col, value).collect()``.  The HTTP point and index
        routes read through here.

        A base that fits the driver (``util.fits_driver`` fed the bytes
        ``measure`` reports for it) is collected once, on the first lookup
        after its fold, and a column is hashed into ``value -> rows`` on its
        first lookup, so a lookup is a dict hit, as the reference's
        (backend/memory/memory.go:52-86).  A fold drops the copy; TTL
        expiry is checked against the clock on every lookup.  A larger
        base, and a column of a type with no hashable Python value, keep
        the Spark filter.  ``local`` pins the arm (the parity tests compare
        the two)."""
        with self._lock:
            base = self._fold()
            if col not in base.columns:
                raise KeyError(f"store {self.name} has no column {col}")
            if self.fits_driver(local) and self._local_ok(base, col):
                return self._local_lookup(base, col, value)
        rows = self._unexpired(base).filter(F.col(col) == F.lit(value))
        return [r.asDict() for r in rows.collect()]

    def fits_driver(self, local: bool | None = None) -> bool:
        """Whether the folded base passes ``util.fits_driver`` fed the
        bytes ``measure`` reports for it, measured once per fold."""
        with self._lock:
            base = self._fold()
            if not self._measured:
                self._bytes, self._measured = self._measure(base), True
                self._log_arm(base)
            return fits_driver(base, local, self._bytes)

    def _local_ok(self, base: DataFrame, col: str) -> bool:
        """Whether the local copy can answer a lookup on ``col``: its
        values collect as hashable Python values, and an expiry collects
        as a datetime comparable with the clock."""
        types = base.schema
        return (isinstance(types[col].dataType, AtomicType)
                and not isinstance(types[col].dataType, BinaryType)
                and (not self.ttl_col or isinstance(
                    types[self.ttl_col].dataType, TimestampType)))

    def _local_lookup(self, base: DataFrame, col: str, value) -> list[dict]:
        if self._rows is None:
            self._rows = base.collect()
        index = self._by_col.get(col)
        if index is None:
            index = self._by_col[col] = {}
            for r in self._rows:
                index.setdefault(_hkey(r[col]), []).append(r)
        hits = [] if value is None else index.get(_hkey(value), [])
        if self.ttl_col:
            # a timestamp column collects as local wall-clock time
            now = datetime.datetime.now()
            hits = [r for r in hits
                    if r[self.ttl_col] is None or r[self.ttl_col] > now]
        return [r.asDict() for r in hits]

    def _log_arm(self, base: DataFrame) -> None:
        """Say, once per fold, which arm lookups on ``base`` take and why."""
        log.info("store %s: base holds %s bytes, driver gate %d: lookups %s",
                 self.name,
                 "unknown (Catalyst's size decides)" if self._bytes is None
                 else self._bytes, util.DRIVER_LOCAL_BYTES,
                 "read a driver-local copy"
                 if fits_driver(base, size=self._bytes)
                 else "filter with Spark")

    # ref: indexed_store.go Indexes() — in the Spark model every non-key
    # column supports an index lookup (the filter IS the index, pushed to
    # the scan), so the listing is the schema minus the key
    def indexes(self) -> list[str]:
        return sorted(c for c in self._fold().columns if c not in self.key)

    def schema(self) -> StructType:
        return self._fold().schema

    def df(self) -> DataFrame:
        return self._live()


class StoreRegistry:
    """Process-global name -> store map.  Ref: store/registry.go:12-63.

    ``materialize`` is the write path (ref processors/materializer.go:65-94):
    it executes the incoming change-set once and appends it to the named
    store as a pending part; the next read folds it into the store's
    compacted base, version-gated latest-per-key (the batch analog of the
    upsert, MERGE-free: no Delta dependency).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._stores: dict[str, Store] = {}
        util.on_scope_exit(self._free)

    def _free(self) -> None:
        """Free the checkpoints every store holds: its base and its pending
        parts."""
        for store in self._stores.values():
            with store._lock:
                for df in [store._base, *store._pending]:
                    if df is not None:
                        free_local_checkpoint(df)

    def _new_store(self, name: str, key, ttl_col: str | None = None,
                   base: DataFrame | None = None) -> Store:
        return Store(name, key, ttl_col=ttl_col, base=base)

    def materialize(self, name: str, df: DataFrame, key: str | Sequence[str],
                    version: str | None = None,
                    tombstone: Column | str | None = None,
                    ttl_col: str | None = None) -> Store:
        """Execute ``df`` once into a checkpoint and append it to the store
        ``name``, creating the store on first write."""
        part = _checkpoint(df)
        store = self._stores.setdefault(name, self._new_store(name, key))
        with store._lock:
            store.key = [key] if isinstance(key, str) else list(key)
            store.version, store.tombstone = version, tombstone
            store.ttl_col = ttl_col
            store._pending.append(part)
            if len(store._pending) >= _FOLD_AT:
                store._fold()
        return store

    def store(self, name: str) -> Store:
        # ref: registry.go:115-125 — unknown store is an error
        return self._stores[name]

    def stores(self) -> list[str]:
        # ref: http.go GET /stores
        return sorted(self._stores)

    def indexes(self) -> dict[str, list[str]]:
        # ref: http.go GET /indexes (registry.Indexes(), http.go:138-147) —
        # store name -> its index-able (non-key) columns
        return {name: self._stores[name].indexes()
                for name in sorted(self._stores)}

    def sql(self, query: str) -> DataFrame:
        """Interactive query surface (supersedes ref store/http.go REST API):
        ``query`` reads each store by its name, as its live rows: the
        freshly folded base less the rows whose TTL expired.

        The names are bound as temp views only while Spark analyzes the
        query, which resolves them into the returned frame, and are dropped
        before it returns, so no view outlives the call or keeps a replaced
        base stored.  One lock serializes the calls: temp views are
        session-wide, and one call must not drop another's."""
        with _SQL_LOCK:
            bound = []
            try:
                for name, store in list(self._stores.items()):
                    store._live().createOrReplaceTempView(name)
                    bound.append(name)
                return self.spark.sql(query)
            finally:
                for name in bound:
                    self.spark.catalog.dropTempView(name)


class PersistentStoreRegistry(StoreRegistry):
    """Registry with a disk-backed snapshot per store.

    Ref: the rocksdb backend the reference stubs out entirely
    (backend/rocks/rocks.go:10-302 is 100% commented out) and the
    local-offset resume path (global_table_stream_instance.go:93-98) —
    here: every materialize folds into a new parquet snapshot, reads are
    served from that snapshot, and ``load`` restores stores after a
    restart.  Snapshots are partitioned-overwrite parquet — at scale this
    is the same pattern as a Delta/Iceberg table without the transaction
    log (no lake-format dependency).
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark)
        self.root = root.rstrip("/")
        self._epochs: dict[str, int] = {}

    def _latest_epoch(self, name: str) -> int | None:
        import glob
        import os
        dirs = glob.glob(f"{self.root}/{name}/epoch=*")
        if not dirs:
            return None
        return max(int(os.path.basename(d).split("=")[1]) for d in dirs)

    def _free(self) -> None:
        # a base is a snapshot's files, and every write folds its part at
        # once: no store holds a checkpoint
        pass

    def _new_store(self, name, key, ttl_col=None, base=None) -> Store:
        return Store(name, key, ttl_col=ttl_col, base=base,
                     execute=lambda df: self._snapshot(name, df),
                     measure=plan_size_bytes)

    def _snapshot(self, name: str, df: DataFrame) -> DataFrame:
        """Write the folded store as a NEW snapshot directory and serve
        reads from it: the base survives executor and driver loss, and a
        frame read from an older snapshot stays valid."""
        epoch = self._epochs.get(name, self._latest_epoch(name) or 0) + 1
        self._epochs[name] = epoch
        path = f"{self.root}/{name}/epoch={epoch}"
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def materialize(self, name, df, key, version=None, tombstone=None,
                    ttl_col=None) -> Store:
        # the snapshot must be durable per write, so fold now
        store = super().materialize(name, df, key, version=version,
                                    tombstone=tombstone, ttl_col=ttl_col)
        store._fold()
        return store

    def load(self, name: str, key, ttl_col: str | None = None) -> Store:
        """Restore a store from its latest snapshot (restart path)."""
        epoch = self._latest_epoch(name)
        if epoch is None:
            raise KeyError(f"no snapshot for store: {name}")
        self._epochs[name] = epoch
        df = self.spark.read.parquet(f"{self.root}/{name}/epoch={epoch}")
        store = self._new_store(name, key, ttl_col=ttl_col, base=df)
        self._stores[name] = store
        return store
