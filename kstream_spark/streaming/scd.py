"""Streaming SCD2 dimension maintenance — the CDC-consumer shape.

The streaming face of ``operators/scd.scd2_apply``: each arriving
micro-batch of change events merges into a PERSISTED dimension laid out
as two relations —

  ``<dim>/closed``  append-only validity intervals, an epoch store
                    (``streaming/core.write_epoch``: replays are
                    idempotent);
  ``<dim>/open``    one row per live key, overwritten per batch into
                    partition ``__epoch=N`` of the batch that wrote it.

This is the warehouse upgrade of the reference's last-write-wins
GlobalTable (kstream/global_table.go:32-42 keeps only the latest value):
every state a key ever held stays queryable with its time range, and
``operators/scd.scd2_lookup`` over closed+open serves point-in-time
reads.

Scale shape: per-batch work is bounded by the change batch plus one row
per LIVE key (the open relation) — closed history is never read, never
shuffled, never rewritten.

CONTRACTS (what the parity test asserts and what it does not):
  * batch == stream: consuming a log split at strict event-time
    thresholds yields the identical dimension to one batch
    scd2_history over the full log;
  * ties across batches are OUT of contract: scd2_apply's late-data
    watermark drops changes at ts <= the open row's valid_from, so a
    key emitting two SAME-timestamp events that straddle a micro-batch
    boundary loses the second one (batch derivation would tie-break on
    id).  A CDC source with per-key monotone positions never produces
    this; if yours can, include the position in the event time.
  * a replayed batch whose open swap already landed (crash after the
    swap, before Spark's commit log) is skipped: ``<dim>/open`` holds
    its ``__epoch`` partition, and its closed rows are on disk.
    Re-applying it would merge the batch into its own output, where the
    late-change watermark drops every change, and the empty result
    would replace the batch's closed intervals;
  * crash between the open-relation delete and its rewrite (the one
    non-atomic step) leaves ``<dim>/open`` without data; the next batch
    REFUSES to run (it will not silently treat live state as absent)
    and the last good open relation, with its epoch partition, is
    recoverable at ``<dim>/open.tmp``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.streaming import core as SC


def read_dimension(spark, dim_path: str) -> DataFrame:
    """The full SCD2 dimension (closed history + live rows), e.g. for
    scd2_lookup point-in-time reads.  A dimension where no interval has
    ever closed (all-new keys, no attribute changes yet) reads as just its
    open rows."""
    open_rows = spark.read.parquet(f"{dim_path}/open").drop(SC.EPOCH)
    closed = SC.read_epochs(spark, f"{dim_path}/closed")
    return open_rows if closed is None else closed.unionByName(open_rows)


def scd2_stream(df: DataFrame, dim_path: str, checkpoint_dir: str,
                key_col: str, attr_cols: Sequence[str], ts_col: str,
                id_col: str | None = None):
    """Maintain a persisted SCD2 dimension from a change stream.
    Returns the StreamingQuery."""
    from kstream_spark.operators.scd import scd2_apply, scd2_history

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        open_path = f"{dim_path}/open"
        if SC.path_exists(spark, f"{open_path}/{SC.EPOCH}={int(epoch_id)}"):
            return  # a replay whose open swap landed: nothing left to do
        open_rows = SC.read_epochs(spark, open_path)
        if open_rows is None and SC.path_exists(spark, f"{dim_path}/closed"):
            # closed history exists but the live relation is gone: a
            # crash landed between the open delete and its rewrite.
            # Refusing beats silently merging against an empty open
            # relation (which would drop every live key's state); the
            # snapshot being swapped in is still at open.tmp.
            raise RuntimeError(
                f"{open_path} has no data but {dim_path}/closed exists — "
                f"dimension state is torn (crash during the open-relation "
                f"swap?).  Restore {open_path} from {dim_path}/open.tmp "
                f"and restart the query.")
        if open_rows is None:  # first batch: no dimension yet
            if batch.isEmpty():
                # an empty open relation would have no epoch partition,
                # so it is never written: every key has one open row
                return
            open_rows = spark.createDataFrame(
                [], scd2_history(batch.limit(0), key_col, attr_cols,
                                 ts_col, id_col=id_col).schema)
        merged = scd2_apply(open_rows, batch, key_col, attr_cols, ts_col,
                            id_col=id_col)
        # the open snapshot holds no closed rows, so every non-current
        # output row was closed BY THIS BATCH -> epoch-keyed append
        newly_closed = merged.filter(~F.col("is_current"))
        still_open = merged.filter(F.col("is_current"))
        # order matters for crash-safety: (1) materialize the new open
        # snapshot, tagged with this epoch, to open.tmp, (2) epoch-write
        # the closed rows (replay-idempotent), (3) swap open — its epoch
        # partition marks the batch applied; the swap is the only
        # non-atomic step, detected (not absorbed) on the next batch
        (still_open.withColumn(SC.EPOCH, F.lit(int(epoch_id)))
         .write.mode("overwrite").partitionBy(SC.EPOCH)
         .parquet(f"{dim_path}/open.tmp"))
        SC.write_epoch(newly_closed, f"{dim_path}/closed", epoch_id)
        tmp = spark.read.parquet(f"{dim_path}/open.tmp")
        tmp.write.mode("overwrite").partitionBy(SC.EPOCH).parquet(open_path)

    return (df.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir).start())
