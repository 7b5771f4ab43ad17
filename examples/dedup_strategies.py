"""Runnable side-by-side of the dedup family — "which dedup do I run?"

Every strategy answers a different question about the same corpus:

  exact           byte-identical re-uploads            (hash groupBy)
  jaccard         whole-doc near-duplicates, exact     (full inverted index)
  prefix-jaccard  same answer, PPJoin prefix filter    (boilerplate-skewed
                  corpora: candidates shrink ~t-fold; lossless — its
                  driver oracle is literally the brute-force SQL)
  minhash-lsh     same question at corpus scale        (probabilistic bands)
  containment     near-SUBSET duplication              (pasted paragraphs)
  winnowing       verbatim runs at ANY offset          (MOSS fingerprints)

Run:  python examples/dedup_strategies.py
"""

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from kstream_spark import StreamBuilder, get_spark  # noqa: E402
from kstream_spark.operators import dedup as D  # noqa: E402
from kstream_spark.util import cache_scope, owned  # noqa: E402

SF = "/root/testdata/sf0.001"


def main():
    spark = get_spark("dedup_strategies")
    # one scope owns every persist below and the operators' own: all are
    # released when the block ends
    with cache_scope():
        # persist: docs feeds six independent strategies (guide §5)
        docs = owned(StreamBuilder(spark).table(f"{SF}/documents.parquet")
                     .to_df().select("doc_id", "text").persist())

        results = {}
        exact = D.exact_dedup(docs, "doc_id", "text")
        results["exact_dup_docs"] = (docs.count()
                                     - exact.count())  # docs collapsed away
        full = owned(D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                           threshold=0.8).persist())
        results["jaccard"] = full.count()
        pref = D.prefix_jaccard_pairs(docs, "doc_id", "text", n=3,
                                      threshold=0.8)
        results["prefix_jaccard"] = pref.count()
        results["minhash_lsh"] = D.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8).count()
        results["containment"] = D.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.9).count()
        results["winnowing"] = D.winnow_pairs(
            docs, "doc_id", "text", k=4, window=4).count()

        print("== duplicate pairs found per strategy ==")
        for name, n in results.items():
            print(f"  {name:>15}: {n}")
        assert results["jaccard"] == results["prefix_jaccard"], \
            "prefix filtering must be lossless"
        print("prefix filter lossless: jaccard == prefix_jaccard "
              f"({results['jaccard']} pairs)")

        # survivors: who stays after near-dup removal (lower id wins)
        surv = D.dedup_survivors(full, docs, "doc_id")
        print(f"docs {docs.count()} -> survivors {surv.count()}")
    return results


if __name__ == "__main__":
    main()
