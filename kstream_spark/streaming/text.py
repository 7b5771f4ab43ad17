"""Streaming tokenizer inference — tokenize-on-ingest with a persisted
vocabulary.

The streaming face of ``operators/text.unigram_tokenize``: a unigram
vocabulary is trained ONCE (``unigram_train``, persisted to parquet — the
"model"), and each arriving micro-batch is Viterbi-segmented against it,
landing (id, token, position) rows ready for packing/statistics.  This is
the tokenize-at-ingest shape of a pretraining pipeline: token counts and
sequence lengths are known the moment a document is admitted, so packing
and budget decisions never re-scan raw text.

Scale shape: per-batch work is one Arrow-batched DP pass over the batch's
rows with the piece table a broadcast python dict (vocab-sized, read per
batch so a model refresh takes effect on the next trigger) — O(|batch|),
zero streaming state.  Outputs go to the epoch store
(``streaming/core.write_epoch``), so replays are idempotent.

No reference analog (tryfix/kstream carries opaque bytes); part of the
training-data capability superset.  Segmentation is the exact-integer DP
of the batch operator, so streamed tokens are bit-identical to a batch
run — asserted by the parity test (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.streaming import core as SC


def tokenize_stream(df: DataFrame, vocab_path: str, out_path: str,
                    checkpoint_dir: str, id_col: str, text_col: str,
                    max_piece_len: int = 4,
                    oov_logp_micro: int = -20_000_000):
    """Viterbi-tokenize every arriving document against the persisted
    unigram vocab (parquet with columns piece, logp_micro).  Emits one
    row per (doc, position): (id, pos, token).  Returns the
    StreamingQuery."""
    import pandas as pd

    from kstream_spark.functions.text import words
    from kstream_spark.operators.text import _viterbi_pieces

    def _tokenize(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        vocab = {r["piece"]: int(r["logp_micro"]) for r in
                 spark.read.parquet(vocab_path).collect()}
        ml, oov = max_piece_len, int(oov_logp_micro)

        def run(batches):
            for pdf in batches:
                ids, poss, toks = [], [], []
                for i, ws in zip(pdf[id_col], pdf["_ws"]):
                    pos = 0
                    for word in ws:
                        for piece in _viterbi_pieces(word, vocab, ml, oov):
                            ids.append(i)
                            poss.append(pos)
                            toks.append(piece)
                            pos += 1
                yield pd.DataFrame({id_col: ids, "pos": poss,
                                    "token": toks})

        # tokenize JVM-side with the SAME words() the batch operator
        # uses (Java \s+ is ASCII-only; Python str.split() also breaks
        # on Unicode whitespace and would diverge on e.g. NBSP) — the
        # Pandas pass only runs the DP
        toks = batch.select(
            F.col(id_col),
            F.filter(words(F.col(text_col)),
                     lambda w: w != F.lit("")).alias("_ws"))
        out = toks.mapInPandas(
            run, f"{id_col} long, pos long, token string")
        SC.write_epoch(out, out_path, epoch_id)

    return (df.writeStream.foreachBatch(_tokenize)
            .option("checkpointLocation", checkpoint_dir).start())
