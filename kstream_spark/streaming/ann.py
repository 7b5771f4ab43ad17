"""Streaming ANN index maintenance: encode arriving vectors against the
PERSISTED index (coarse centroids + PQ codebooks — train once, encode
forever) and append their m-byte codes to a code store, an epoch store
(``streaming/core.write_epoch``: replays are idempotent); searches run over
the accumulated store without ever touching raw vectors again.

This is the streaming arm of the IVF-PQ lifecycle (operators/similarity:
kmeans_centroids -> save_centroids, pq_codebooks -> save_codebooks):
``admit_stream`` keeps the index CURRENT as data arrives —
the batch-mode counterpart of FAISS's add() — and ``adc_topk_from_codes``
is the search half that reads codes only.  Per micro-batch cost is one
literal-projection cell assignment + one Arrow encode pass over JUST the
new vectors; the 100 TB standing corpus is never re-scanned.

Streamed and batch results agree by construction: encoding goes through
operators/similarity's cell assignment and encoder, and search through
its ``adc_tables``, ``probe_cells`` and ADC scorer — the same functions
the batch searchers call.

Capability superset: the reference has no vector tooling; the lifecycle
mirrors its changelog-backed store maintenance (continuously-updated
derived state) applied to an ANN index.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.functions.vectors import as_double
from kstream_spark.operators import similarity as S
from kstream_spark.streaming import core as SC


def encode_against_index(batch: DataFrame, id_col: str, vec_col: str,
                         centroids: list, codebooks: list,
                         residual: bool = False) -> DataFrame:
    """Encode vectors against a FIXED index: nearest-cell assignment as a
    literal projection (no join/shuffle), PQ codes as one Arrow pass —
    the encoder the batch IVF-PQ searchers use, so codes are
    reproducible from any engine.  ``residual=True`` encodes the
    spherical residual v/||v|| - centroid[cell] (the ivfpq_residual_topk
    formulation — codebooks must have been trained on residuals).
    Returns (id, cell_id, codes array<int>)."""
    return (S._encode_cells(batch, id_col, vec_col, centroids, codebooks,
                            residual=residual)
            .withColumnRenamed("_id", id_col))


def admit_stream(emb_stream: DataFrame, id_col: str, vec_col: str,
                 centroids: list, codebooks: list, store_dir: str,
                 checkpoint_dir: str, residual: bool = False):
    """Continuously encode arriving vectors against the persisted index
    and append (id, cell_id, codes) to the code store.  Returns the
    StreamingQuery."""
    def _admit(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        codes = encode_against_index(batch, id_col, vec_col,
                                     centroids, codebooks,
                                     residual=residual)
        SC.write_epoch(codes, store_dir, epoch_id)

    return (emb_stream.writeStream.foreachBatch(_admit)
            .option("checkpointLocation", checkpoint_dir).start())


def adc_topk_from_codes(codes: DataFrame, queries: DataFrame,
                        id_col: str, vec_col: str, codebooks: list,
                        k: int = 10, centroids: list | None = None,
                        n_probe: int | None = None) -> DataFrame:
    """ADC top-k over a CODE STORE: identical ranking to
    operators/similarity.pq_adc_topk, but the corpus side is the
    (id, codes) relation admit_stream maintains — the search job reads
    m bytes per vector and never the raw embeddings.  ``queries`` is a
    small DataFrame of (id, vector) rows.  With ``centroids`` the store
    is a residual index and each query gets per-(query, cell) tables;
    ``n_probe`` then restricts scoring to the query's nearest cells
    (candidates in unprobed cells drop out of the equi-join on cell_id
    — the IVF cost dial; None scores every cell).  Returns (query_id,
    neighbor_id, adist, rank)."""
    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    qrows = queries.select(F.col(id_col).alias("query_id"),
                           as_double(F.col(vec_col)).alias("qv")).collect()
    id_dt = queries.schema[id_col].dataType.simpleString()
    if centroids is None:           # plain ADC: one table per query
        tab_rows = [(qid, S.adc_tables(np.asarray(qv, dtype=np.float64),
                                       bks)) for qid, qv in qrows]
        return S._adc_topk(
            codes.select(F.col(id_col).alias("neighbor_id"), "codes"),
            tab_rows, id_dt, len(bks), k)
    # residual store: a table per (query, probed cell); the probe uses
    # the fold-order query norm that also normalizes the query
    cents = np.asarray(centroids, dtype=np.float64)
    tab_rows = []
    for qid, qv in qrows:
        qv = np.asarray(qv, dtype=np.float64)
        qnorm = S.fold_norm(qv)
        cells = (range(cents.shape[0]) if n_probe is None
                 else S.probe_cells(qv, cents, n_probe, qnorm=qnorm))
        tab_rows += [(qid, cell, S.adc_tables(qv / qnorm - cents[cell], bks))
                     for cell in cells]
    return S._adc_topk(
        codes.select(F.col(id_col).alias("neighbor_id"), "cell_id", "codes"),
        tab_rows, id_dt, len(bks), k, on="cell_id")


def compact_code_store(spark, store_dir: str, out_dir: str,
                       id_col: str) -> DataFrame:
    """Compact the epoch partitions ``admit_stream`` accumulates into one
    cell-partitioned layout — the maintenance op a production vector
    pipeline runs periodically.

    Two things happen: (1) LATEST-WINS dedup — a vector re-admitted in a
    later micro-batch supersedes its earlier codes
    (``streaming/core.compact_epochs``), so the store stays one row per
    id no matter how many epochs replayed it; (2) the output is
    repartitioned and PARTITIONED BY cell_id, so a probed search
    (``adc_topk_from_codes`` with n_probe) reading the compacted store
    prunes whole partitions at the scan — at 100 TB the probe dial then
    bounds IO, not just compute.  The compacted store is a serving
    snapshot, not an epoch store: it has no epoch column, and new
    arrivals go to a fresh ``admit_stream`` store that the next
    compaction folds in.

    Out-of-place: writes ``out_dir`` and leaves ``store_dir`` untouched —
    swap directories (or re-point the reader) only after the write
    commits, and only while the admitting query is stopped (the
    stop-compact-swap-resume discipline; compacting under a live writer
    would race the epoch listing).  Returns the compacted DataFrame.
    """
    latest = SC.compact_epochs(spark, store_dir, id_col)
    (latest.select(id_col, "cell_id", "codes").repartition("cell_id")
     .write.mode("overwrite").partitionBy("cell_id").parquet(out_dir))
    return spark.read.parquet(out_dir)


def recall_report(emb: DataFrame, id_col: str, vec_col: str,
                  query_ids: list, codebooks: list, k: int = 10) -> DataFrame:
    """Recall@k audit of a PQ index against brute-force cosine over the
    same corpus: per query, how many of the true top-k the ADC ranking
    recovers.  The measurement half of the drift->retrain loop (the
    sim_ann_drift / sim_ann_retrain driver rows run exactly this shape).
    Returns (query_id, n_hits)."""
    exact = S.cosine_topk(emb, id_col, vec_col, query_ids=query_ids,
                        k=k).select("query_id", "neighbor_id")
    approx = S.pq_adc_topk(emb, id_col, vec_col, query_ids, codebooks,
                         k=k).select("query_id", "neighbor_id")
    ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
    return (exact.join(ind, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_hit").cast("long").alias("n_hits")))


def retrain_if_drifted(emb: DataFrame, id_col: str, vec_col: str,
                       query_ids: list, codebooks: list,
                       threshold_hits: int, k: int = 10,
                       m: int = 4, pq_k: int = 16, pq_iters: int = 2):
    """The drift DECISION wired end-to-end: audit the current codebooks'
    recall@k (``recall_report``); when total hits across the probe
    queries fall below ``threshold_hits``, retrain codebooks on the full
    corpus and return them (the caller then re-encodes via
    ``encode_against_index`` and swaps stores with the
    stop-compact-swap-resume discipline — see examples/ingest_pipeline).

    Driver traffic: the |Q|-row recall report — the same bounded
    1-action contract as the training loops.  Returns
    ``(books, report_df, retrained)``: ``books`` is the retrained set
    when triggered, the incoming ``codebooks`` otherwise; ``report_df``
    is the BEFORE audit either way."""
    report = recall_report(emb, id_col, vec_col, query_ids, codebooks, k=k)
    total = report.agg(F.sum("n_hits")).collect()[0][0] or 0
    if total >= threshold_hits:
        return codebooks, report, False
    fresh = S.pq_codebooks(emb, vec_col, m=m, k=pq_k, iters=pq_iters,
                         id_col=id_col)
    return fresh, report, True
