"""Streaming drift monitoring — per-micro-batch PSI against a persisted
reference distribution.

The streaming face of ``operators/quality.drift_psi``: reference bucket
counts are computed ONCE over a trusted snapshot (``bucket_counts``,
persisted to parquet — the "model" of what the data should look like),
and every arriving micro-batch is scored against it, appending one PSI
report per (epoch, group, bucket) — the alarm feed a pipeline pages on
before bad data reaches training (PSI > 0.25 = major shift).

Scale shape: per-batch work is one bucket-count aggregation over the
batch plus a join of two bucket-count relations (each at most
groups x n_buckets rows) — O(|batch|), zero streaming state; the
reference is re-read per trigger, so refreshing it takes effect on the
next batch without restarting the query.  Reports go to the epoch store
(``streaming/core.write_epoch``), so replays are idempotent.

No reference analog (tryfix/kstream validates nothing); part of the
data-quality capability superset.  The per-batch PSI is computed by the
same drift_psi_from_counts core as the batch operator, so a single-batch
stream reproduces the batch report bit-for-bit (parity test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kstream_spark.streaming import core as SC


def drift_stream(df: DataFrame, ref_counts_path: str, out_path: str,
                 checkpoint_dir: str, bucket_col,
                 group_cols: list[str] | None = None,
                 n_buckets: int = 10):
    """Score every micro-batch's bucket distribution against the
    persisted reference counts (parquet with columns group..., bucket,
    count_ref).  Emits (group..., bucket, count_ref, count_cur,
    psi_micro) per epoch.  Returns the StreamingQuery."""
    from kstream_spark.operators.quality import (bucket_counts,
                                                 drift_psi_from_counts)
    gcols = list(group_cols or [])

    def _score(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        ref = spark.read.parquet(ref_counts_path)
        cur = bucket_counts(batch, bucket_col, gcols, "count_cur")
        psi = drift_psi_from_counts(ref, cur, gcols, n_buckets)
        SC.write_epoch(psi, out_path, epoch_id)

    return (df.writeStream.foreachBatch(_score)
            .option("checkpointLocation", checkpoint_dir).start())
