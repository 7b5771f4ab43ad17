"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# The one size gate for every driver-local arm: an input whose Catalyst
# size is known and at most this many bytes runs its bounded setup or
# training loop on the driver (one collect instead of one job per round).
DRIVER_LOCAL_BYTES = 32 << 20

# The repartition floor of the CPU-heavy fan-out operators (shingling,
# hashing, n-gram explodes grow each row ~10-50x), passed to
# ``ensure_parallelism`` in place of its plain-codegen default.
FANOUT_MIN_BYTES = 256 << 10


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimizer estimate of the plan's output volume (file
    sizes for scans) — no job, no rdd conversion.

    SINGLE choke point for the py4j-private ``_jdf.queryExecution()``
    stats handle: it is not public API (stable on the pinned Spark 4.x,
    could move in a future release), so it lives behind this one helper
    and every caller must tolerate ``None``.  Any attribute/py4j change on
    a Spark upgrade lands in the except and degrades to the conservative
    no-stats path instead of crashing — the Spark-Connect case (no _jdf at
    all) degrades the same way.

    Relations Catalyst cannot size (in-memory createDataFrame rows, some
    views) report ``spark.sql.defaultSizeInBytes`` — a Long.MaxValue-ish
    SENTINEL meaning "unknown", not a real estimate.  Returning it as a
    size made gates read "huge" (an 8 EiB warning for a 3-row relation),
    so the sentinel maps to ``None`` like every other no-stats case."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
        sentinel = int(df.sparkSession.conf.get(
            "spark.sql.defaultSizeInBytes", str((1 << 63) - 1)))
        if size >= sentinel:
            return None
        return size
    except Exception:
        return None


def fits_driver(df: DataFrame, local: bool | None = None,
                size: int | None = None) -> bool:
    """Whether ``df`` is small enough for a driver-local arm: the ``local``
    pin when one is given (parity tests compare the two arms through it),
    else True iff the size of ``df`` is known and at most
    ``DRIVER_LOCAL_BYTES``.  The size is ``size`` when the caller measured
    one (``checkpoint_bytes``), else Catalyst's.  Missing stats (in-memory
    rows, mapInPandas children, views) cannot prove the input small, so
    they keep the distributed arm — the safe choice at any scale."""
    if local is not None:
        return local
    if size is None:
        size = plan_size_bytes(df)
    return size is not None and size <= DRIVER_LOCAL_BYTES


def checkpoint_bytes(df: DataFrame) -> int | None:
    """The bytes the BlockManager stores for a ``localCheckpoint``-ed
    frame (memory plus disk), or None when it holds no blocks for it.

    Catalyst's size of a checkpoint is an estimate of the plan that
    filled it, which can read gigabytes for a few thousand rows (4.99 GB
    for the ~7.9k-row store of the ``ingest_store`` benchmark); the
    storage info is what the checkpoint really holds.  It comes from the
    driver's block status, so it runs no job.  Same py4j-private handle as
    ``free_local_checkpoint``; any failure reads as unknown."""
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        sc = df.sparkSession.sparkContext._jsc.sc()
        for info in sc.getRDDStorageInfo():
            if info.id() == rdd_id:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:  # noqa: BLE001 - no handle, no measured size
        pass
    return None


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None,
                       min_bytes: int = 8 << 20) -> DataFrame:
    """Repartition iff the input is both under-partitioned AND big enough
    for the shuffle to pay for itself.

    Single small files scan as ONE partition, serializing CPU-heavy per-row
    operators (shingling, hashing, vector math) onto one core — that's what
    the repartition fixes.  But at toy scale the round-trip shuffle costs
    more than the serialization it removes (r2 bench: sim_cosine_topk and
    text_quality both ~1.9x slower purely from this repartition), so inputs
    whose optimizer-estimated size is under ``min_bytes`` are left alone.
    The size comes from Catalyst plan statistics (file sizes for scans) —
    no job, no rdd conversion on the skip path.  At real scale inputs
    arrive in many splits and the partition check is a no-op anyway.

    ``min_bytes`` is per-operator: CPU-heavy fan-out operators pass
    ``FANOUT_MIN_BYTES``; plain codegen passes keep the default.  When
    Catalyst stats are unavailable the size threshold is skipped and the
    partition check alone decides."""
    spark = df.sparkSession
    size = plan_size_bytes(df)
    if size is not None and size < min_bytes:
        return df
    # stats unavailable -> fall through to the partition check
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def free_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint``-ed frame.

    ``Dataset.unpersist`` only drops CacheManager entries, and a
    localCheckpointed frame is not registered there — its data lives in
    the checkpointed RDD's own persistence, which ``unpersist`` never
    touches (verified empirically on PySpark 4.1.2: numCachedPartitions
    unchanged after ``df.unpersist(True)``; ADVICE r9).  Iterative
    algorithms that checkpoint per round (graph BSP loops) would
    accumulate one O(|nodes|) block set per round until ContextCleaner
    GC got around to them.

    The real handle is the LogicalRDD the checkpoint planted at the root
    of the analyzed plan: ``queryExecution().analyzed().rdd()`` is the
    persisted internal-row RDD, and unpersisting THAT frees the blocks
    immediately (probe: storage info goes to [] right after).  Uses the
    py4j-private ``_jdf`` like ``plan_size_bytes``; any failure (plan
    shape changed on a Spark upgrade, Spark Connect) degrades to the
    old behavior — GC-driven cleanup — rather than crashing, with a
    once-per-process ``RuntimeWarning`` naming the exception."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001
        _warn_free_checkpoint_fallback(exc)


_warned: set[str] = set()


def warn_once(key: str, message: str) -> None:
    """A ``RuntimeWarning`` with ``message``, said at most once per
    process for each ``key`` — how a degraded fallback path announces
    itself without flooding a per-batch loop."""
    if key in _warned:
        return
    _warned.add(key)
    import warnings
    warnings.warn(message, RuntimeWarning, stacklevel=3)


def _warn_free_checkpoint_fallback(exc: Exception) -> None:
    """Say once per process that ``free_local_checkpoint`` could not
    unpersist the checkpointed RDD, and why."""
    warn_once("free_local_checkpoint",
              f"free_local_checkpoint: unpersist failed "
              f"({type(exc).__name__}: {exc}); the checkpoint blocks stay "
              f"until ContextCleaner GC")


def skew_join(left: DataFrame, right: DataFrame, key: str,
              how: str = "inner", hot_keys: list | None = None,
              hot_threshold: int = 100_000,
              sample_fraction: float = 0.01,
              max_isin_keys: int = 64) -> DataFrame:
    """Hot-key-split join for skewed fact/fact joins.

    AQE's skew-join only splits oversized partitions of a sort-merge join
    AFTER a full skewed shuffle of both sides; when a handful of keys carry
    a large share of the rows, splitting the RELATION beats splitting the
    partition: rows with hot keys join via broadcast (no shuffle of the hot
    mass at all), the long tail joins via the normal shuffle path, and the
    two unions back.  ``hot_keys`` pins the split explicitly; otherwise hot
    keys are estimated from a ``sample_fraction`` sample of the left side
    (sampled count / fraction > hot_threshold).

    The right side must be filter-small on the hot keys (dimension-or-less
    per key) — that subset is broadcast.

    A hot set up to ``max_isin_keys`` becomes an ``isin`` literal (codegen
    comparisons, pushable to the scan); a LARGER set would degrade the
    literal (a thousands-long OR chain bloats codegen and the plan), so it
    rides as a broadcast key table instead and the split becomes
    semi/anti joins — same relation split, scan-speed either way.
    """
    from pyspark.sql import functions as F
    if hot_keys is None:
        est = (left.sample(fraction=sample_fraction, seed=42)
               .groupBy(key).count()
               .filter(F.col("count") > hot_threshold * sample_fraction)
               .select(key).collect())
        hot_keys = [r[key] for r in est]
    if not hot_keys:
        return left.join(right, key, how)
    if len(hot_keys) <= max_isin_keys:
        is_hot = F.col(key).isin(hot_keys)
        l_hot, l_cold = left.filter(is_hot), left.filter(~is_hot)
        r_hot, r_cold = right.filter(is_hot), right.filter(~is_hot)
    else:
        hk = F.broadcast(local_df(
            left.sparkSession, [(k,) for k in hot_keys],
            left.select(key).schema))
        l_hot = left.join(hk, key, "left_semi")
        l_cold = left.join(hk, key, "left_anti")
        r_hot = right.join(hk, key, "left_semi")
        r_cold = right.join(hk, key, "left_anti")
    hot = l_hot.join(F.broadcast(r_hot), key, how)
    cold = l_cold.join(r_cold, key, how)
    return hot.unionByName(cold)


def local_df(spark, rows, schema) -> DataFrame:
    """Build a TINY driver-side relation as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list_of_rows, ...)`` produces a PYTHON-RDD-
    backed plan (``Scan ExistingRDD``) sliced into ``defaultParallelism``
    partitions — on ``local[32]`` that is 32 Python worker round-trips
    per ACTION for a 15-row probe table (measured r14: ~0.4 s evaluated
    in parallel, ~4.5 s under ``coalesce(1)``), re-paid every time the
    relation is scanned because nothing caches it.  Routing the same
    rows through a pandas DataFrame + Arrow yields a real JVM local
    relation: zero Python at execution time, correct (tiny) stats, and
    the same values bit-for-bit (measured: 0.06 s vs 0.4 s for the same
    15-row probe; plan shows ``LocalTableScan``).

    Values round-trip exactly: the pandas frame is built with
    ``dtype=object`` so ints/floats/strings/None and (nested) lists
    reach Arrow unchanged, and the explicit ``schema`` drives the
    conversion — no pandas type inference, no NaN coercion.  Schemas
    containing timestamp/date types fall back to the classic row path
    (Arrow's tz-localization semantics differ from the pickle path);
    Arrow conversion failures (e.g. nested Row objects) also fall back,
    with a once-per-process ``RuntimeWarning`` naming the exception.

    ``rows`` must be a list of tuples/Rows matching ``schema``."""
    import pandas as pd
    from pyspark.sql import types as T

    def _temporal(dt) -> bool:
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                           T.DateType)):
            return True
        if isinstance(dt, T.ArrayType):
            return _temporal(dt.elementType)
        if isinstance(dt, T.MapType):
            return _temporal(dt.keyType) or _temporal(dt.valueType)
        if isinstance(dt, T.StructType):
            return any(_temporal(f.dataType) for f in dt.fields)
        return False

    struct = schema
    if not isinstance(struct, T.StructType):
        try:
            struct = T._parse_datatype_string(schema)
        except Exception as exc:  # noqa: BLE001
            _warn_local_df_fallback(exc)
            return spark.createDataFrame(rows, schema)
    if rows and not _temporal(struct):
        try:
            pdf = pd.DataFrame([tuple(r) for r in rows], dtype=object)
            pdf.columns = [f.name for f in struct.fields]
            return spark.createDataFrame(pdf, struct)
        except Exception as exc:  # noqa: BLE001
            # nested Rows / exotic types: classic path below
            _warn_local_df_fallback(exc)
    return spark.createDataFrame(rows, struct)


def _warn_local_df_fallback(exc: Exception) -> None:
    """Say once per process that ``local_df`` fell back to the
    Python-RDD ``createDataFrame`` path, and why."""
    warn_once("local_df",
              f"local_df: Arrow local relation failed "
              f"({type(exc).__name__}: {exc}); falling back to the "
              f"Python-RDD createDataFrame path")


def collect_freeing(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a BOUNDED final relation, unpersist the cached inputs
    it consumed, and return the result as a local relation with the same
    schema.

    Multi-consumer query bodies persist shared subtrees (scan once, feed
    N consumers) — but a query function that returns lazily can't
    unpersist them itself, and a long-lived session running the full
    inventory sweep would accumulate every such cache for its lifetime
    (ADVICE r8: inventory_corpus/inventory_pipeline leaks).  This helper
    is the contract: the caller asserts `out` is final-result-sized
    (audit rows, top-k, pair lists — never a corpus), so one bounded
    collect lets the caches be dropped deterministically the moment the
    result exists.  The distributed plan behind that collect stays
    inspectable: it is a recorded SQL execution (tools/dump_plans.py)."""
    rows = out.collect()
    schema = out.schema
    for df in cached:
        df.unpersist()
    # local_df (r14): the materialized result comes back as a JVM
    # LocalTableScan, not a Python-RDD scan — the caller's downstream
    # actions (the bench noop write, joins onto the audit rows) no
    # longer pay defaultParallelism Python worker round-trips per action
    return local_df(out.sparkSession, rows, schema)
