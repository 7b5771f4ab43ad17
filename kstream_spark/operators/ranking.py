"""Distributed global ranking — the scale path for ORDER-BY-the-whole-
-table window functions.

A window with ``orderBy`` and no ``partitionBy`` (rank/ntile/percent_rank
over a full table) serializes the ENTIRE input onto one task — fine when
the input is a small aggregate, a cliff when the ranked relation itself is
large (the r4 verdict flagged ``wf_ntile``'s global window as exactly this
shape).  ``with_global_rank`` computes the identical total-order rank with
no single-partition sort:

  1. ``repartitionByRange`` on the sort key — one balanced range shuffle,
     partition i holds keys strictly before partition i+1's;
  2. ``sortWithinPartitions`` — local sort, no shuffle;
  3. ``monotonically_increasing_id`` — after the local sort this encodes
     (partition_id << 33) | local_row_index, so the local rank is a bit
     mask, not a window;
  4. per-partition row counts -> cumulative offsets (at most one row per
     partition — driver-size by construction) broadcast-joined back;
     global rank = offset + local index + 1.

CORRECTNESS GUARD: the ranked rows, the per-partition counts, and the
total are three plan branches over the SAME range exchange — and
``repartitionByRange`` SAMPLES its boundaries while
``monotonically_increasing_id`` is nondeterministic, so the scheme is
only sound if all branches read the identical physical shuffle.  Spark's
ReuseExchange usually dedupes the subtree, but with AQE and a complex
upstream (measured: the bigram-LM-scored corpus at sf1) the branches can
re-execute with RESAMPLED boundaries — offsets from one partitioning
paired with local indices from another, producing duplicate/overflowing
ranks (an 11th ntile bucket out of 10).  ``local`` is therefore pinned
with ``localCheckpoint(eager=False)``: the range-shuffled, id-stamped
rows materialize exactly once on first use and every branch reads that
one RDD.  The materialization is the price of ANY two-pass global
ranking (the alternative is recomputing the shuffle per branch); lineage
truncation is harmless here because the checkpoint sits immediately
above its own shuffle.

``ntile``/``percent_rank`` then derive from (rank, total) arithmetically:
  percent_rank = (rank - 1) / (total - 1)
  ntile(b): with q = total div b, r = total mod b (SQL NTILE gives the
  FIRST r buckets q+1 rows, the rest q):
    rank <= r*(q+1)  ->  floor((rank - 1) / (q + 1)) + 1
    otherwise        ->  r + floor((rank - r*(q+1) - 1) / q) + 1
(the tempting floor((rank-1)*b/total)+1 distributes the big buckets
EVENLY through the sequence, not front-loaded — it disagrees with SQL
at r boundary rows whenever total % b != 0.)

Contract: the sort key must be a TOTAL order (add a unique tie-break
column, e.g. the primary key) — with ties left unbroken, rank() semantics
(equal ranks, gaps) would differ; this operator computes row_number-style
ranks, which equal rank()/percent_rank() only when the order is total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOCAL_BITS = 33  # monotonically_increasing_id: pid << 33 | row_in_partition


def with_global_rank(df: DataFrame, order_by: list[Column],
                     rank_col: str = "rank",
                     num_partitions: int | None = None,
                     total_col: str | None = None) -> DataFrame:
    """Append a 1-based global rank column in the total order ``order_by``
    (list of Column sort expressions, e.g. ``[F.desc("total"),
    F.asc("id")]``) without ever sorting the data on a single task.
    ``total_col`` optionally also attaches the table row count (a
    broadcast scalar derived from the same per-partition counts)."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n_parts, *order_by)
              .sortWithinPartitions(*order_by))
    mid = F.monotonically_increasing_id()
    local = ranged.withColumn("__pid", F.shiftright(mid, _LOCAL_BITS)) \
        .withColumn("__lrn", mid.bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1)))
    # pin ONE materialization: counts/offsets/total must see the same
    # sampled range boundaries and the same nondeterministic ids as the
    # ranked rows (see module docstring — ReuseExchange is not guaranteed)
    from kstream_spark.util import owned
    local = owned(local.localCheckpoint(eager=False))
    # per-partition counts -> cumulative offsets: <= n_parts rows, so the
    # single-partition running sum is over a driver-sized relation, and the
    # join back is a broadcast (no second shuffle of the ranked data)
    from pyspark.sql import Window as W
    counts = local.groupBy("__pid").count()
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("count").over(
                W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)))
    keep = ["__pid", "__off"]
    if total_col is not None:
        # the total rides the SAME tiny offsets relation (an unbounded
        # window over <= n_parts rows) — one broadcast join carries both,
        # where a separate counts.agg paid a second broadcast exchange +
        # join per query (the r12 selection job-collapse)
        offsets = offsets.withColumn(
            total_col,
            F.sum("count").over(
                W.orderBy("__pid").rowsBetween(W.unboundedPreceding,
                                               W.unboundedFollowing)))
        keep.append(total_col)
    return (local.join(F.broadcast(offsets.select(*keep)), "__pid")
            .withColumn(rank_col, (F.col("__off") + F.col("__lrn") + 1)
                        .cast("long"))
            .drop("__pid", "__lrn", "__off"))


def with_ntile_percent_rank(df: DataFrame, order_by: list[Column],
                            n_buckets: int = 4,
                            ntile_col: str = "quartile",
                            pct_col: str = "pct_rank",
                            num_partitions: int | None = None) -> DataFrame:
    """ntile + percent_rank over a total order, two-phase: distributed
    global rank (see with_global_rank) + a broadcast row-count scalar —
    output-identical to ``ntile(b).over(W.orderBy(...))`` /
    ``percent_rank().over(W.orderBy(...))`` but with no single-partition
    window sort of the data in the plan.

    ``num_partitions=1`` is the caller's assertion that the relation is
    BOUNDED (a kept top-n slice, an audit table): the two-phase
    machinery would then range-shuffle to one partition anyway, so the
    plain window form — the exact SQL definition, one stage, no
    checkpoint/offsets jobs — is used instead (the distributed path
    spends ~4 extra jobs reproducing what a single sorted partition
    gives for free)."""
    if num_partitions == 1:
        from pyspark.sql import Window as W
        w = W.orderBy(*order_by)
        return (df.withColumn(ntile_col,
                              F.ntile(n_buckets).over(w).cast("long"))
                .withColumn(pct_col, F.round(F.percent_rank().over(w), 6)))
    ranked = with_global_rank(df, order_by, rank_col="__grank",
                              num_partitions=num_partitions,
                              total_col="__n")
    rk, n = F.col("__grank"), F.col("__n")
    q = F.floor(n / n_buckets)            # base bucket size
    r = n % n_buckets                     # how many buckets get q+1 rows
    ntile = F.when(
        rk <= r * (q + 1),
        F.floor((rk - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((rk - r * (q + 1) - 1) / q) + 1)
    return (ranked
            .withColumn(ntile_col, ntile.cast("long"))
            .withColumn(pct_col,
                        F.when(n == 1, F.lit(0.0))   # percent_rank() gives
                        # 0.0 on a 1-row relation; (rk-1)/(n-1) would be 0/0
                        .otherwise(F.round((rk - 1) / (n - 1), 6)))
            .drop("__grank", "__n"))
