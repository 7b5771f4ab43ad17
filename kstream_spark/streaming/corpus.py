"""Streaming corpus admission — near-dup-gated ingestion for a GROWING
training corpus.

This is the streaming face of ``operators/dedup.incremental_dedup``: each
micro-batch is treated as the daily/hourly increment, deduped against the
standing corpus (exact content hash, then increment-bands x corpus-bands
MinHash — never corpus x corpus), and only admitted documents are appended.

Scale shape: the corpus's dedup state (MinHash signatures + content hashes,
``operators/dedup.corpus_signatures``) is written ONCE per admitted
document, at admit time, to ``signature_path`` — so batch N+1 joins
precomputed bands instead of re-minhashing all of history.  Per-batch work
is O(|increment| + one scan of the signature store), never O(|corpus|)
text processing.

Both the corpus and the signature store are epoch stores
(``streaming/core.write_epoch``), so replays are idempotent.

No reference analog (the reference has no dedup surface); this module is
part of the training-data capability superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kstream_spark.streaming import core as SC


def gopher_gate(id_col: str, text_col: str, **bounds):
    """Quality gate for ``admit_stream``: keep only documents passing the
    Gopher rule stack (operators/text.gopher_keep; ``bounds`` forwards
    its thresholds).  The rules compile to ONE scan-stage boolean
    predicate — no signal projection, no semi-join back (the r10 gate
    joined gopher_filter's id output back onto the batch, an extra scan
    + join per micro-batch) — always cheaper than the dedup it shields."""
    from kstream_spark.operators.text import gopher_keep

    def _gate(batch: DataFrame) -> DataFrame:
        return batch.filter(gopher_keep(text_col, **bounds))

    return _gate


def admit_stream(df: DataFrame, corpus_path: str, signature_path: str,
                 checkpoint_dir: str, id_col: str, text_col: str, n: int = 3,
                 threshold: float = 0.8, quality_gate=None,
                 min_trigger: int | None = 1_000_000):
    """Continuously admit only-novel documents from a stream into a corpus
    directory, maintaining the signature store alongside.  Returns the
    StreamingQuery.

    Each micro-batch runs ``incremental_dedup(batch, corpus_state=...)``
    against the persisted signature store; on the first batch (no state
    yet) the batch self-dedups against an empty corpus.  A batch reads the
    store without its own epoch, so a replay after a crash anywhere in the
    batch admits what the first attempt would have.  A store that exists
    but cannot be read fails the batch.

    ``quality_gate``: optional ``DataFrame -> DataFrame`` filter applied
    to each batch BEFORE dedup (cheap rule screens first — the published
    funnel order; see ``gopher_gate``).  Gated-out rows are never
    admitted and never enter the signature store.

    ``min_trigger``: the admission path carries ~6 s of FIXED per-batch
    cost (plan analysis, store scan setup, two dynamic-partition writes)
    regardless of batch size, so sustained-throughput contracts only hold
    above a minimum trigger size — measured at sf-independent fixtures,
    ≥50k rec/s needs ~1M-record triggers (see SCALING.md "Corpus
    admission throughput vs trigger size").  The FIRST batch below
    ``min_trigger`` logs a RuntimeWarning naming the expected regime.
    Only the first batch is counted — trigger sizing is a configuration
    property (processingTime / maxOffsetsPerTrigger), so one check
    catches the misconfiguration, while a per-batch count would itself
    cost ~5 s per 2M-record trigger (A/B r13: 60.0k -> 72.3k rec/s
    without it) — exactly the overhead class the warning guards
    against.  Pass ``None`` to skip the check entirely."""
    from kstream_spark.operators.dedup import incremental_dedup

    trigger_checked = []   # closure flag: first batch only

    def _admit(batch: DataFrame, epoch_id: int) -> None:
        from kstream_spark.util import cache_scope, owned
        spark = batch.sparkSession
        if min_trigger is not None and not trigger_checked:
            trigger_checked.append(True)
            n_in = batch.count()
            if n_in < min_trigger:
                import warnings
                warnings.warn(
                    f"admit_stream trigger of {n_in} records is below "
                    f"{min_trigger}: the ~6s fixed per-batch cost dominates "
                    "and amortized-throughput contracts (50k rec/s at >=1M "
                    "records) do not apply — widen the trigger "
                    "(processingTime / maxOffsetsPerTrigger) or pass "
                    "min_trigger=None to silence", RuntimeWarning,
                    stacklevel=2)
        if quality_gate is not None:
            batch = quality_gate(batch)
        state = SC.read_epochs(spark, signature_path, exclude_epoch=epoch_id)
        # return_signatures: the store write below reuses the increment's
        # persisted minhash relation instead of re-minhashing every
        # admitted doc — the second Python md5 pass was the largest
        # per-batch cost on the admission path
        # checkpoint_fresh: the dedup DAG references its post-exact-gate
        # survivors throughout (minhash, verify, two writes) — pinning
        # THAT relation (|batch|/8 on a re-crawl-heavy mix) replaced the
        # r11 full-batch localCheckpoint here, so the gate + exact-hash
        # window run exactly once per batch and the pinned storage is
        # survivors-sized (r12 admission profile: 9.2s -> ~2s per
        # 2M-record trigger).
        # sig_impl="codegen": an admission stream is the unique-heavy
        # regime (fresh crawls; exact re-crawls died at the hash gate
        # above), where the JVM projection minhash wins ~4x over the
        # memoized pandas arm — see _doc_local_minhash's A/B
        # the scope frees the batch's pins (dedup's checkpoint and
        # signature caches, the admitted rows) once both writes are done
        with cache_scope():
            admitted, sigs = incremental_dedup(batch, batch.limit(0), id_col,
                                               text_col, n=n,
                                               threshold=threshold,
                                               corpus_state=state,
                                               return_signatures=True,
                                               checkpoint_fresh=True,
                                               sig_impl="codegen")
            admitted = owned(admitted.persist())
            SC.write_epoch(admitted, corpus_path, epoch_id)
            SC.write_epoch(sigs, signature_path, epoch_id)

    return (df.writeStream.foreachBatch(_admit)
            .option("checkpointLocation", checkpoint_dir).start())


def compact_signature_store(spark, store_dir: str, out_dir: str,
                            id_col: str = "doc_id") -> DataFrame:
    """Compact the epoch partitions ``admit_stream`` accumulates in the
    signature store into one latest-wins layout — the maintenance twin of
    ``streaming/ann.compact_code_store`` for the dedup state.

    LATEST-WINS by document id: a doc re-admitted in a later micro-batch
    (same id, revised text) supersedes its older signature row, so the
    store stays one row per document regardless of replays
    (``streaming/core.compact_epochs``).  The result is epoch 0 of a new
    epoch store at ``out_dir``, so a resumed ``admit_stream`` appends new
    epochs next to it.  It is repartitioned by the first band column,
    which co-locates each band bucket's rows for the increment-vs-corpus
    band join that ``incremental_dedup`` runs every batch.

    Out-of-place and stop-compact-swap-resume, same as the code store:
    compacting under a live admitting query would race the epoch listing.
    ``out_dir`` must be new: only its epoch 0 is replaced, so other
    epochs already there would survive.  Returns the compacted
    DataFrame.
    """
    latest = SC.compact_epochs(spark, store_dir, id_col)
    SC.write_epoch(latest.repartition("b0"), out_dir, 0)
    return spark.read.parquet(out_dir)
