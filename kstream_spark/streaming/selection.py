"""Streaming data-selection admission — importance-gated ingestion.

The streaming face of ``operators/selection``: a DSIR weight table is
trained ONCE on a reference corpus (``dsir_weights``, persisted to
parquet — the "model"), and each arriving micro-batch is scored against
it (``dsir_apply``) with only documents above an importance threshold
admitted.  This is the filter-at-ingest shape of target-domain data
curation: the corpus never stores what selection would later discard.

Scale shape: per-batch work is one tokenize + broadcast-join against the
n_buckets-row weight table + one per-doc integer sum — O(|batch|), zero
state beyond the static weight table, no shuffle of history.  Admitted
rows go to the epoch store (``streaming/core.write_epoch``), so replays
are idempotent.

No reference analog (the reference has no selection surface); part of the
training-data capability superset.  Scores are exact integers, so the
streamed admission decision is bit-identical to the batch operator's —
asserted by the parity test (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.streaming import core as SC


def admit_stream(df: DataFrame, weights_path: str, out_path: str,
                 checkpoint_dir: str, id_col: str, text_col: str,
                 min_micro: int = 0, n_buckets: int = 256):
    """Admit only documents whose DSIR importance score clears
    ``min_micro`` (exact integer micro-log units).  Returns the
    StreamingQuery.  The weight table is re-read per batch so a model
    refresh (retraining ``dsir_weights`` in place) takes effect on the
    next trigger without restarting the query."""
    from kstream_spark.operators.selection import dsir_apply

    def _admit(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        weights = spark.read.parquet(weights_path)
        scored = dsir_apply(batch, id_col, text_col, weights, n_buckets)
        admitted = (batch.join(
            scored.filter(F.col("dsir_micro") >= min_micro)
            .select(id_col, "dsir_micro"), id_col))
        SC.write_epoch(admitted, out_path, epoch_id)

    return (df.writeStream.foreachBatch(_admit)
            .option("checkpointLocation", checkpoint_dir).start())


def admit_cluster_balanced_stream(df: DataFrame, centroids_path: str,
                                  out_path: str, checkpoint_dir: str,
                                  id_col: str, vec_col: str,
                                  per_cell_quota: int = 100):
    """Cluster-balanced admission — the streaming face of
    ``operators/selection.cluster_balanced_select``: arriving vectors are
    assigned to their nearest persisted k-means cell (the same
    literal-projection argmax as the batch operator) and admitted only
    while the cell's quota has room, so the head cluster can never swamp
    the admitted mix no matter how skewed the arrival stream is.

    State discipline: there is NO separate counts table to tear — the
    admitted store itself is quota-bounded (<= k * per_cell_quota rows
    total, forever), so per-batch remaining-quota is one cheap
    aggregation over the store.  Crash/replay safety: admitted rows go to
    the epoch store (``streaming/core.write_epoch``), the quota count
    EXCLUDES the current epoch (a replayed batch re-derives its own
    admissions instead of double-counting them), and re-arriving ids
    already admitted in other epochs are anti-joined away against the
    bounded (hence broadcastable) store.

    Within a batch the per-cell pick orders by the batch op's
    ``cluster_balance_key`` with id tie-break — the window is bounded by
    the micro-batch size, and the admitted set for a given (store, batch) pair is a pure
    function of ids and centroids.  Returns the StreamingQuery."""
    from pyspark.sql import Window as W
    from kstream_spark.functions.vectors import as_double, nearest_cell, norm
    from kstream_spark.operators.selection import cluster_balance_key
    from kstream_spark.operators.similarity import load_centroids

    def _admit(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        spark = batch.sparkSession
        cents = load_centroids(spark, centroids_path)
        # only a store never written reads as "first batch, empty quota";
        # any other read failure fails the batch (read_epochs raises)
        store = SC.read_epochs(spark, out_path, exclude_epoch=epoch_id)
        src = (batch.select(F.col(id_col).alias("vec_id"),
                            as_double(F.col(vec_col)).alias("v"))
               .withColumn("_n", norm(F.col("v"))))
        assigned = src.select(
            "vec_id",
            nearest_cell(F.col("v"), F.col("_n"), cents).alias("cell_id"),
            cluster_balance_key(F.col("vec_id")).alias("_sk"))
        if store is not None:
            taken = F.broadcast(
                store.groupBy("cell_id").agg(F.count("*").alias("_taken")))
            assigned = (assigned.join(
                F.broadcast(store.select(F.col("vec_id"))),
                "vec_id", "left_anti")
                .join(taken, "cell_id", "left")
                .fillna(0, subset=["_taken"]))
        else:
            assigned = assigned.withColumn("_taken", F.lit(0))
        w = W.partitionBy("cell_id").orderBy("_sk", "vec_id")
        admitted = (assigned
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= per_cell_quota - F.col("_taken"))
                    .select("vec_id", "cell_id"))
        SC.write_epoch(
            admitted.join(batch.withColumnRenamed(id_col, "vec_id"), "vec_id"),
            out_path, epoch_id)

    return (df.writeStream.foreachBatch(_admit)
            .option("checkpointLocation", checkpoint_dir).start())
