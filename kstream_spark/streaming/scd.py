"""Streaming SCD2 dimension maintenance — the CDC-consumer shape.

The streaming face of ``operators/scd.scd2_apply``: each arriving
micro-batch of change events merges into a PERSISTED dimension laid out
as two relations —

  ``<dim>/closed``  append-only validity intervals, an epoch store
                    (``streaming/core.write_epoch``: replays are
                    idempotent);
  ``<dim>/open``    one row per live key, overwritten per batch.

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
  * crash between the open-relation delete and its rewrite (the one
    non-atomic step) leaves ``<dim>/open`` missing; the next batch
    REFUSES to run (it will not silently treat live state as absent)
    and the last good open relation is recoverable at
    ``<dim>/open.tmp``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.streaming import core as SC


def _hdfs_exists(spark, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def read_dimension(spark, dim_path: str) -> DataFrame:
    """The full SCD2 dimension (closed history + live rows), e.g. for
    scd2_lookup point-in-time reads.  A dimension where no interval has
    ever closed (all-new keys, no attribute changes yet) reads as just its
    open rows."""
    open_rows = spark.read.parquet(f"{dim_path}/open")
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
        if _hdfs_exists(spark, open_path):
            open_rows = spark.read.parquet(open_path)
        elif _hdfs_exists(spark, f"{dim_path}/closed"):
            # closed history exists but the live relation is gone: a
            # crash landed between the open delete and its rewrite.
            # Refusing beats silently merging against an empty open
            # relation (which would drop every live key's state); the
            # pre-swap snapshot is still at open.tmp.
            raise RuntimeError(
                f"{open_path} is missing but {dim_path}/closed exists — "
                f"dimension state is torn (crash during the open-relation "
                f"swap?).  Restore {open_path} from {dim_path}/open.tmp "
                f"and restart the query.")
        else:  # first batch: no dimension yet
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
        # snapshot to open.tmp, (2) epoch-append the closed rows
        # (replay-idempotent), (3) swap open — the only non-atomic step,
        # detected (not absorbed) on the next batch if it tears
        (still_open.write.mode("overwrite")
         .parquet(f"{dim_path}/open.tmp"))
        SC.write_epoch(newly_closed, f"{dim_path}/closed", epoch_id)
        tmp = spark.read.parquet(f"{dim_path}/open.tmp")
        tmp.write.mode("overwrite").parquet(open_path)

    return (df.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir).start())
