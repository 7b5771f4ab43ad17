"""Runnable end-to-end training-corpus build — the data-pipeline superset
this engine adds beyond the reference's stream DSL (COVERAGE.md "north
star"): extract -> scrub -> quality gate (heuristics + corpus-self
unigram LM) -> exact + sub-document + near-dup + semantic dedup ->
balanced sampling -> deterministic split -> chunk -> tokenizer training
(iterative BPE) + tokenization of the final corpus.

Every stage is a reusable operator with its own oracle-checked inventory
query; this example wires them into the one pipeline a corpus build
actually runs, and prints per-stage row counts (the funnel).

Run:  python examples/corpus_pipeline.py
"""

import sys

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from kstream_spark import StreamBuilder, get_spark  # noqa: E402
from kstream_spark.functions.text import html_to_text  # noqa: E402
from kstream_spark.operators import corpus as C  # noqa: E402
from kstream_spark.operators import dedup as D  # noqa: E402
from kstream_spark.operators import similarity as SIM  # noqa: E402
from kstream_spark.operators import text as TX  # noqa: E402
from kstream_spark.operators.sampling import (  # noqa: E402
    stratified_cap, train_val_split)
from kstream_spark.util import cache_scope, owned  # noqa: E402

SF = "/root/testdata/sf0.001"


def main():
    spark = get_spark("corpus_pipeline")
    with cache_scope():
        # persist() each funnel stage (guide §5): every stage is consumed
        # 2-3x (its count, the next stage's input, sometimes a join back) —
        # uncached, stage k's count recomputes stages 1..k-1, turning an
        # 8-stage funnel into O(stages^2) recomputation (measured r14: this
        # example was 99 s of the test suite; persists cut it to ~1/3).
        # Each is owned by the scope, which frees them all when it ends.
        docs = owned(StreamBuilder(spark).table(f"{SF}/documents.parquet")
                     .to_df().persist())
        funnel = [("raw", docs.count())]

        # 0. visible-text extraction (idempotent on plain text; strips tags/
        #    script/style and normalizes whitespace on web-crawled input)
        docs = docs.withColumn("text", html_to_text(F.col("text")))

        # 1. PII scrub (projection only — no shuffle)
        clean = owned(TX.pii_redact(docs, "doc_id", "text")
                      .join(docs.drop("text"), "doc_id")
                      .withColumnRenamed("redacted_text", "text").persist())

        # 2. quality gate
        stats = TX.text_stats(clean, "doc_id", "text") \
            .select("doc_id", "quality_score")
        gated = owned(clean.join(stats, "doc_id")
                      .filter(F.col("quality_score") >= 0.4).persist())
        funnel.append(("quality_gate", gated.count()))

        # 3. exact dedup, then near-dup clustering to fixpoint
        exact_ids = D.exact_dedup(gated, "doc_id", "text").select("doc_id")
        exact = owned(gated.join(exact_ids, "doc_id", "left_semi").persist())
        funnel.append(("exact_dedup", exact.count()))

        # 3b. sub-document dedup: strip token spans repeated across docs
        #     (boilerplate); docs reduced to nothing drop out
        spans = C.span_dedup(exact, "doc_id", "text", span=8, max_docs=1)
        exact = owned(exact.drop("text").join(
            spans.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id").persist())
        funnel.append(("span_dedup", exact.count()))

        # 3c. corpus-self unigram-LM gate: drop the most surprising 10%
        #     (rare-token soup) by per-token log-prob
        lm = C.unigram_logprob(exact, "doc_id", "text") \
            .withColumn("per_tok", F.col("sum_logp") / F.col("n_tokens"))
        cut = lm.agg(F.percentile_approx("per_tok", 0.1)).first()[0]
        exact = owned(exact.join(lm.filter(F.col("per_tok") >= cut)
                                 .select("doc_id"), "doc_id", "left_semi")
                      .persist())
        funnel.append(("lm_gate", exact.count()))

        pairs = D.minhash_lsh_pairs(exact, "doc_id", "text", threshold=0.7)
        deduped = owned(D.dedup_survivors_cc(pairs, exact, "doc_id").persist())
        funnel.append(("near_dedup", deduped.count()))

        # 3d. semantic dedup (SemDeDup) on the embedding side: vec_id keys the
        #     embeddings table; rows sharing an id with a surviving doc stand
        #     in for that doc's embedding here
        emb = StreamBuilder(spark).table(f"{SF}/embeddings.parquet").to_df() \
            .join(deduped.select(F.col("doc_id").alias("vec_id")),
                  "vec_id", "left_semi")
        sem = SIM.semantic_dedup(emb, "vec_id", "embedding", k=8, iters=2,
                                 threshold=0.4)
        deduped = owned(deduped.join(
            sem.select(F.col("vec_id").alias("doc_id")), "doc_id",
            "left_semi").persist())
        funnel.append(("semantic_dedup", deduped.count()))

        # 4. balanced per-source sampling + deterministic split
        balanced = stratified_cap(deduped, "doc_id", "source", cap=20)
        final = owned(train_val_split(balanced, "doc_id", val_pct=10,
                                      test_pct=10).persist())
        funnel.append(("balanced", balanced.count()))

        print("\n== corpus funnel ==")
        for stage, n in funnel:
            print(f"{stage:>14}: {n}")
        print("\n== split x lang ==")
        final.groupBy("split", "lang").count() \
            .orderBy("split", "lang").show(20, truncate=False)

        # 5. tokenizer: train BPE merges on the TRAIN split only (no leakage
        #    of val/test text into the vocabulary), tokenize everything
        train_docs = final.filter(F.col("split") == "train")
        merges = [r["pair"] for r in TX.bpe_train(train_docs, "text",
                                                  n_merges=6)
                  .orderBy("merge_rank").collect()]
        toks = TX.bpe_tokenize(final, "text", merges)
        print("== learned merges ==", merges)
        toks.select("doc_id", F.slice("tokens", 1, 8).alias("first_tokens")) \
            .show(3, truncate=False)
    # no spark.stop(): get_spark() is getOrCreate — callers (tests, REPLs)
    # may share the session


if __name__ == "__main__":
    main()
