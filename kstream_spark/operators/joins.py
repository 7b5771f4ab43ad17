"""Joins: lookup (stream–global-table) and stream–stream.

Ref:
  J1 lookup join   kstream/processors/join/global_table_joiner.go:11-132
                   (Join: 94-124; inner-miss => error, lines 109-113)
  J2 stream join   kstream/k_stream.go:383-516, join/side_joiner.go:9-108,
                   join/stream_joiner.go:8-73, join/window.go:1-29
  join types       kstream/processors/join/joiner.go:10-13 (Left|Inner)
  repartitioning   kstream/processors/join/repartition.go:16-85

Scale notes (the part the reference cannot do):
  * Lookup joins take ``table.lookup_relation()`` which is broadcast-hinted —
    at 100 TB fact scale the dimension broadcasts and the fact side never
    shuffles.  For non-broadcastable dims AQE picks shuffle-hash vs sort-merge.
  * The DLQ path computes matches and misses off ONE left-outer join (single
    probe of the hash table), then splits by null-ness of the right key —
    no second join, no second shuffle.
  * Stream-stream joins are equi-joins on the key plus an optional time-bound
    (interval join).  The reference buffers both sides forever
    (join/window.go:5-29 — unbounded map, no eviction).  With
    ``within=None`` an inner join reproduces those semantics, in batch and in
    streaming: Spark runs an inner stream-stream join without a watermark,
    and its state then grows without bound.  Watermarks plus ``within`` let
    Spark evict state, and outer streaming joins require them; rows later
    than the watermark are then dropped (COMPAT DELTA).
    streaming/join.py is the reference-parity streaming operator.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DLQ:
    """Dead-letter queue collecting records that failed an operator.

    Ref: kstream/dlq/dlq.go:12-79 — failed records produce to a DLQ topic,
    either one global topic or PER-SOURCE-TOPIC via a ``%s`` format string
    (dlg.go:29-45).  ``topic_format`` mirrors that: '{}' is replaced with the
    failing record's source name, so each source routes to its own DLQ
    topic; with no placeholder every failure lands on the one named topic.

    Batch mapping: failed rows accumulate as DataFrame lineage tagged with
    (dlq_reason, dlq_topic); ``df()`` unions them, a streaming sink writes
    each ``dlq_topic`` partition to its topic per batch.
    """

    def __init__(self, name: str = "dlq", topic_format: str | None = None):
        self.name = name
        self.topic_format = topic_format
        self._parts: list[DataFrame] = []

    def topic_for(self, source: str | None) -> str:
        """Resolve the destination topic for a failing source (dlq.go:29-45)."""
        if self.topic_format is None:
            return self.name
        return self.topic_format.format(source or self.name)

    def add(self, df: DataFrame, reason: str, source: str | None = None) -> None:
        self._parts.append(
            df.withColumn("dlq_reason", F.lit(reason))
              .withColumn("dlq_topic", F.lit(self.topic_for(source))))

    def topics(self) -> list[str]:
        """Distinct destination topics across accumulated failures."""
        d = self.df()
        if d is None:
            return []
        return sorted(r["dlq_topic"] for r in d.select("dlq_topic").distinct().collect())

    def df(self) -> DataFrame | None:
        if not self._parts:
            return None
        out = self._parts[0]
        for p in self._parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out


def join_global_table(stream, table, on, how: str = "inner", dlq: DLQ | None = None,
                      select: Sequence | None = None):
    """Per-record lookup into a GlobalTable.

    ``on``: FK column name on the stream (joined to the table's key), or a
    full join Column.  ``KeyMapper`` (FK extraction, joiner.go:20) is the
    caller computing the FK column; ``ValueMapper`` is ``select``.

    how='inner' + dlq: reference treats a missing right side as a per-record
    ERROR (retry -> DLQ), not a silent drop (global_table_joiner.go:109-113).
    We probe once with a left join and split on right-key null-ness.
    """
    right = table.lookup_relation()
    right_key = table.key[0]
    drop_right_key = None
    if isinstance(on, Column):
        cond = on
    else:
        cond = stream.df[on] == right[right_key]
        if right_key in stream.df.columns:
            # FK and table key share a name: keep the stream's instance only
            drop_right_key = right[right_key]

    if how == "left" or dlq is None:
        joined = stream.df.join(right, cond, "left" if how == "left" else how)
        if drop_right_key is not None:
            joined = joined.drop(drop_right_key)
        if select is not None:
            joined = joined.select(*select)
        return stream._derive(joined, name=f"{stream.name}⋈{table.name}")

    # inner with DLQ: ONE left-outer probe, split by match-ness.
    marked = right.withColumn("__rk_matched", F.lit(True))
    probed = stream.df.join(marked, cond, "left")
    if drop_right_key is not None:
        probed = probed.drop(marked[right_key])
    matched = probed.filter(F.col("__rk_matched").isNotNull()).drop("__rk_matched")
    missed = probed.filter(F.col("__rk_matched").isNull()).select(*stream.df.columns)
    dlq.add(missed, reason=f"inner lookup miss: {table.name}", source=stream.name)
    if select is not None:
        matched = matched.select(*select)
    return stream._derive(matched, name=f"{stream.name}⋈{table.name}")


def asof_join(left: DataFrame, right: DataFrame, key: str, left_ts: str,
              right_ts: str, right_cols: Sequence[str], how: str = "left",
              tolerance: str | None = None,
              right_key: str | None = None,
              direction: str = "backward") -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` on the same key (capability superset — the
    reference has no temporal joins, SURVEY §2.3 "not present").

    ``direction`` (pandas merge_asof parity):
      * ``backward`` (default): latest right with rt <= lt;
      * ``forward``: earliest right with rt >= lt;
      * ``nearest``: whichever of the two is closer in time, ties to the
        backward match (equal-distance and exact-ts cases — pandas rule).
    All three run on the SAME tag-union-window plan: one shuffle+sort per
    key; ``nearest`` adds a second window SPEC over the same partitioning
    (Spark reuses the exchange and sort), not a second shuffle.

    Scale-first implementation: tag both sides, UNION, one
    shuffle+sort per key, then ``last(value, ignorenulls=True)`` over an
    unbounded-preceding window — O(n log n) with NO row explosion, unlike the
    naive inequality join (which Spark would execute as a broadcast
    nested-loop).  This is the standard distributed as-of; pandas
    ``merge_asof`` per group (applyInPandas) would be the fallback, but the
    window form stays entirely JVM-side.

    The right side is compacted to one row per (key, ts) first (greatest
    row wins) so results are deterministic.

    ``tolerance``: optional max age of the match, e.g. "90 days" — older
    matches become nulls (left) / drop the row (inner).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join direction must be backward/forward/"
                         f"nearest, got {direction!r}")
    if right_key and right_key != key:
        right = right.withColumnRenamed(right_key, key)
    clash = (set(right_cols) & set(left.columns)) | \
        ({"__t", "__side", "__rt"} & set(left.columns))
    if clash:
        raise ValueError(f"asof_join column collision: {sorted(clash)} — "
                         "rename/project before joining")
    r = right.groupBy(key, right_ts).agg(
        F.max_by(F.struct(*right_cols), F.struct(*right_cols)).alias("__r")
    ).select(key, right_ts, "__r.*")

    ltypes, rtypes = dict(left.dtypes), dict(r.dtypes)
    l_payload = [c for c in left.columns if c != key]
    # equal-ts matches must be visible to the fill: right rows sort BEFORE
    # left rows at the same ts for backward/nearest (the preceding frame
    # sees them; nearest then wins the tie at distance 0), AFTER for
    # forward (the following frame sees them)
    l_side, r_side = (0, 1) if direction == "forward" else (1, 0)
    lhs = left.select(
        F.col(key),
        *l_payload,
        F.col(left_ts).alias("__t"),
        F.lit(l_side).alias("__side"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in right_cols],
        F.lit(None).cast(rtypes[right_ts]).alias("__rt"),
    )
    rhs = r.select(
        F.col(key),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in l_payload],
        F.col(right_ts).alias("__t"),
        F.lit(r_side).alias("__side"),
        *right_cols,
        F.col(right_ts).alias("__rt"),
    )

    from pyspark.sql import Window as W
    wb = (W.partitionBy(key).orderBy("__t", "__side")
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy(key).orderBy("__t", "__side")
          .rowsBetween(0, W.unboundedFollowing))
    tol = (F.expr(f"INTERVAL {tolerance}") if tolerance is not None
           else None)
    filled = lhs.unionByName(rhs)
    fill_cols = [*right_cols, "__rt"]
    if direction == "backward":
        for c in fill_cols:
            filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(wb))
        out = filled.filter(F.col("__side") == l_side)
        if tol is not None:
            in_tol = F.col("__rt") >= F.col("__t") - tol
            for c in fill_cols:
                out = out.withColumn(c, F.when(in_tol, F.col(c)))
    elif direction == "forward":
        for c in fill_cols:
            filled = filled.withColumn(c, F.first(c, ignorenulls=True).over(wf))
        out = filled.filter(F.col("__side") == l_side)
        if tol is not None:
            in_tol = F.col("__rt") <= F.col("__t") + tol
            for c in fill_cols:
                out = out.withColumn(c, F.when(in_tol, F.col(c)))
    else:  # nearest: both fills over the SAME sort (one exchange reused)
        for c in fill_cols:
            filled = (filled
                      .withColumn(f"{c}__b",
                                  F.last(c, ignorenulls=True).over(wb))
                      .withColumn(f"{c}__f",
                                  F.first(c, ignorenulls=True).over(wf)))
        out = filled.filter(F.col("__side") == l_side)
        b_valid = F.col("__rt__b").isNotNull()
        f_valid = F.col("__rt__f").isNotNull()
        if tol is not None:  # out-of-tolerance candidates never compete
            b_valid = b_valid & (F.col("__rt__b") >= F.col("__t") - tol)
            f_valid = f_valid & (F.col("__rt__f") <= F.col("__t") + tol)
        ftypes = dict(out.dtypes)

        def _sec(name: str) -> Column:  # date can't cast to double directly
            c = F.col(name)
            if ftypes[name] in ("date",) or ftypes[name].startswith("timestamp"):
                return c.cast("timestamp").cast("double")
            return c.cast("double")

        dist_b = _sec("__t") - _sec("__rt__b")
        dist_f = _sec("__rt__f") - _sec("__t")
        use_b = b_valid & (~f_valid | (dist_b <= dist_f))
        for c in fill_cols:
            out = out.withColumn(c, F.when(use_b, F.col(f"{c}__b"))
                                      .when(f_valid, F.col(f"{c}__f")))
        out = out.drop(*[f"{c}__{s}" for c in fill_cols for s in "bf"])
    if how == "inner":
        out = out.filter(F.col("__rt").isNotNull())
    return out.drop("__t", "__side", "__rt")


def join_stream(left, right, on, within=None, ts_col: str = "ts", how: str = "inner",
                select: Sequence | None = None):
    """Stream-stream join on key, optional time bound.

    ``on``: key column name present on both sides, or a join Column.
    ``within``: None (unbounded — reference parity; a streaming inner join
    then keeps all of both sides in state) or a string
    like "10 minutes" / a pair (lower, upper) bounding
    ``right.ts - left.ts``  ∈ [-lower, +upper].
    """
    l = left.df.alias("l")
    r = right.df.alias("r")
    if isinstance(on, Column):
        cond = on
    else:
        cond = F.col(f"l.{on}") == F.col(f"r.{on}")

    if within is not None:
        if isinstance(within, str):
            lower = upper = within
        else:
            lower, upper = within
        lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
        cond = cond & (rts >= lts - F.expr(f"INTERVAL {lower}")) \
                    & (rts <= lts + F.expr(f"INTERVAL {upper}"))

    joined = l.join(r, cond, how)
    if select is not None:
        joined = joined.select(*select)
    return left._derive(joined, name=f"{left.name}⋈{right.name}")


def range_join(left: DataFrame, right: DataFrame, left_val: str,
               lo_col: str, hi_col: str, bucket_width: float | None = None,
               select: Sequence | None = None,
               clamp: tuple[float, float] | None = None) -> DataFrame:
    """Range (theta) join: match left rows whose ``left_val`` falls in the
    right row's [lo, hi) interval (capability superset — SURVEY §2.3 lists
    range/theta joins as absent from the reference).

    Scale paths:
      * ``bucket_width=None``: plain non-equi join — Catalyst picks
        broadcast-nested-loop, correct when the interval side is small
        (the common "banding dimension" case).
      * ``bucket_width=w``: BUCKETIZED — each interval explodes to the
        integer buckets it overlaps, the point side maps to one bucket, and
        the join becomes an EQUI-join on bucket + exact filter.  This is the
        large×large path: shuffle-hash instead of O(n·m) nested loop, with
        fan-out bounded by interval_length/w per right row.

    ``clamp=(lo, hi)`` bounds the bucket DOMAIN for open-ended interval
    schemes (a catch-all band like [40000, 1e9) would otherwise explode
    hi/w bucket rows — measured 200k dead rows for one band on the
    price-band demo): BOTH sides clip into [lo, hi) before bucketing, so
    everything past the clamp shares the boundary bucket and per-interval
    fan-out is capped at (hi-lo)/w.  EXACTNESS IS UNAFFECTED — the
    original [lo_col, hi_col) predicate still verifies every candidate;
    the clamp only coarsens candidate granularity at the extremes.
    """
    if bucket_width is None:
        cond = (F.col(left_val) >= right[lo_col]) & (F.col(left_val) < right[hi_col])
        out = left.join(right, cond)
        return out.select(*select) if select is not None else out

    w = float(bucket_width)

    def clip(c):
        if clamp is None:
            return c
        clo, chi = float(clamp[0]), float(clamp[1])
        return F.least(F.greatest(c, F.lit(clo)), F.lit(chi - 1e-9))

    lbuck = F.floor(clip(F.col(left_val)) / w)
    r_expanded = right.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(clip(F.col(lo_col)) / w),
                             F.floor(clip(F.col(hi_col) - F.lit(1e-9)) / w))))
    out = (left.withColumn("__bucket", lbuck)
           .join(r_expanded, "__bucket")
           .filter((F.col(left_val) >= F.col(lo_col))
                   & (F.col(left_val) < F.col(hi_col)))
           .drop("__bucket"))
    return out.select(*select) if select is not None else out


def interval_overlap_join(a: DataFrame, b: DataFrame, key: str,
                          a_id: str, a_start: str, a_end: str,
                          b_id: str, b_start: str, b_end: str,
                          bucket: int = 7) -> DataFrame:
    """Interval-overlap join (a.start <= b.end AND b.start <= a.end,
    per key) as an EQUI-join: each interval explodes into the integer
    time buckets it covers, candidates meet on (key, bucket), the exact
    overlap predicate verifies, and (a_id, b_id) dedups the multi-bucket
    matches.

    Why: Spark plans a raw inequality join as a broadcast-nested-loop or
    cartesian per key — quadratic in the key's interval count.  Bucket
    decomposition turns it into a shuffle-partitioned hash join whose
    cost is sum-of-bucket-cooccupancy, the standard range-join
    technique (Spark's own range-join hints implement the same idea).
    ``bucket`` trades duplication for selectivity: intervals spanning d
    units explode into ~d/bucket rows, while a bucket containing many
    long-lived intervals degrades toward all-pairs within it — size it
    near the TYPICAL interval length.  Start/end are integer columns in
    any consistent unit (days, epoch-seconds); integer arithmetic keeps
    every engine bit-identical."""
    w = F.lit(bucket)
    ab = a.withColumn("__bk", F.explode(F.sequence(
        F.floor(F.col(a_start) / w).cast("long"),
        F.floor(F.col(a_end) / w).cast("long"))))
    bb = b.withColumn("__bk", F.explode(F.sequence(
        F.floor(F.col(b_start) / w).cast("long"),
        F.floor(F.col(b_end) / w).cast("long"))))
    return (ab.join(bb, [key, "__bk"])
            .filter((F.col(a_start) <= F.col(b_end))
                    & (F.col(b_start) <= F.col(a_end)))
            .dropDuplicates([key, a_id, b_id])
            .drop("__bk"))


def bloom_semi_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                    dim_key: str | None = None, m_bits: int = 1 << 20,
                    k: int = 3, seed: str = "bloom") -> DataFrame:
    """Bloom-pruned EXACT semi join: keep fact rows whose key appears in
    ``dim``, pre-filtering the fact scan with a compact Bloom filter built
    from the dim keys before the exact join runs.

    The dynamic-filtering pattern (Trino dynamic filters / Spark's own
    runtime row-level bloom, which only injects under AQE cost rules):
    when the dim side is too big to broadcast AS ROWS, its ~m_bits/8-byte
    Bloom bitmap still broadcasts, and the fact side sheds non-matching
    rows INSIDE the scan stage — the shuffle that feeds the exact join
    then carries only survivors (selective semi joins shed 10-100x).

    Exactness: the bloom admits false positives, never false negatives,
    and an exact left-semi join runs on the survivors — output is
    bit-identical to ``fact SEMI JOIN dim`` for every (m_bits, k).

    Plumbing: k portable md5 positions per key; the bitmap is built as
    32-bit words via one combiner-friendly bit_or aggregation (≤ m/32
    rows ever reach the driver — 256 KiB at the m=2^20 default), then
    embedded as one literal array so the probe is pure codegen
    (element_at + an exact power-of-two bit test — shiftleft/shiftright
    take only LITERAL shift amounts, and every word stays < 2^32 < 2^53
    so the double pow/floor arithmetic is exact), no UDF, no shuffle.

    Ref: no kstream analog (lookup joins hit the local store per record,
    kstream/processors/join/global_table_joiner.go:94-124); this is the
    scan-stage shedding a store-less engine needs at 100 TB.
    """
    from kstream_spark.functions.text import hash_str
    from kstream_spark.util import owned
    if dim_key is None:
        dim_key = fact_key
    ft, dt = dict(fact.dtypes)[fact_key], dict(dim.dtypes)[dim_key]
    if ft != dt:
        # the bloom hashes each side's STRING RENDERING independently; a
        # type mismatch (decimal "9000.00" vs double "9000.0") would hash
        # the same logical key to different positions and silently DROP
        # matching fact rows — refuse instead
        raise ValueError(f"bloom_semi_join key types must match exactly "
                         f"({fact_key}: {ft} vs {dim_key}: {dt}); cast one "
                         f"side first")
    words = 1 + (m_bits - 1) // 32

    def positions(col: Column) -> list[Column]:
        return [(F.conv(F.substring(hash_str(col.cast("string"),
                                             f"{seed}{i}"), 1, 8), 16, 10)
                 .cast("long") % m_bits) for i in range(k)]

    # no .distinct() anywhere: bit_or is idempotent under duplicate keys
    # (the bloom build combines map-side into <= m/32 words) and left-semi
    # already has at-most-once match semantics — a distinct would only add
    # an exchange.  The projected key column is PERSISTED: two consumers
    # read it (the bloom build's collect below, then the exact semi
    # join's broadcast/shuffle side), and without the cache the second
    # re-runs the dim scan + filter from source (r12)
    dim_keys = owned(dim.select(F.col(dim_key).alias("__k")).persist())
    bits = (dim_keys.select(F.explode(F.array(*positions(F.col("__k"))))
                            .alias("__p"))
            .select((F.col("__p") / 32).cast("long").alias("__w"),
                    F.pow(F.lit(2.0), (F.col("__p") % 32).cast("double"))
                    .cast("long").alias("__b"))
            .groupBy("__w").agg(F.bit_or("__b").alias("__word"))
            .collect())
    bitmap = [0] * words
    for r in bits:
        bitmap[r["__w"]] = r["__word"]
    arr = F.lit(bitmap)

    probe = None
    for p in positions(F.col(fact_key)):
        word = F.element_at(arr, (p / 32).cast("int") + 1)
        hit = (F.floor(word / F.pow(F.lit(2.0), (p % 32).cast("double")))
               % 2) == 1
        probe = hit if probe is None else (probe & hit)
    survivors = fact.filter(probe)
    return survivors.join(dim_keys.withColumnRenamed("__k", fact_key),
                          on=fact_key, how="left_semi")
