"""Runnable drift -> retrain lifecycle for the streaming ANN index —
closing the loop sim_ann_drift measures (capability superset; the
reference has no vector tooling):

  1. BOOTSTRAP: train coarse centroids + PQ codebooks on the first
     arrivals only (the day-one state of a streaming deployment);
  2. ADMIT: stream the full corpus through admit_stream — every vector
     is encoded against the persisted bootstrap index, never retrained;
  3. AUDIT: recall_report prices the staleness — recall@k of the
     bootstrap index vs brute-force cosine;
  4. DECIDE: retrain_if_drifted fires when total recall falls below the
     threshold and returns codebooks retrained on the full corpus;
  5. REBUILD: re-encode the corpus against the fresh index
     (encode_against_index — one Arrow pass), write a new code store,
     compact_code_store into the cell-partitioned serving layout
     (stop-compact-swap-resume: the admitting query is stopped first);
  6. VERIFY: the recall report re-runs under the fresh books — recovery
     is printed side by side.

Run:  python examples/ann_retrain.py
"""

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from kstream_spark import StreamBuilder, get_spark  # noqa: E402
from kstream_spark.operators import similarity as S  # noqa: E402
from kstream_spark.streaming import ann as A  # noqa: E402
from kstream_spark.streaming import core as SC  # noqa: E402

SF = "/root/testdata/sf0.001"


def main():
    spark = get_spark("ann_retrain")
    emb = StreamBuilder(spark).table(f"{SF}/embeddings.parquet").to_df()
    queries = [0, 1, 2, 3, 4]
    k = 5

    with tempfile.TemporaryDirectory() as tmp:
        # 1. bootstrap index from the first arrivals only
        boot = emb.filter(F.col("vec_id") < 16)
        cents = S.kmeans_centroids(boot, "embedding", k=4, iters=2,
                                   id_col="vec_id")
        books = S.pq_codebooks(boot, "embedding", m=4, k=8, iters=2,
                               id_col="vec_id")

        # 2. admit the full corpus against the bootstrap index
        src = f"{tmp}/in"
        emb.coalesce(1).write.mode("append").parquet(src)
        q = A.admit_stream(SC.read_stream_parquet(spark, src),
                           "vec_id", "embedding", cents, books,
                           f"{tmp}/codes", f"{tmp}/ck")
        q.processAllAvailable()
        q.stop(); q.awaitTermination(10)  # noqa: E702
        n = spark.read.parquet(f"{tmp}/codes").count()
        print(f"admitted {n} vectors against the bootstrap index")

        # 3-4. audit + decide (threshold: 60% of the attainable hits)
        threshold = int(0.6 * len(queries) * k)
        fresh, before, retrained = A.retrain_if_drifted(
            emb, "vec_id", "embedding", queries, books,
            threshold_hits=threshold, k=k, m=4, pq_k=8, pq_iters=2)
        b_tot = before.agg(F.sum("n_hits")).collect()[0][0]
        print(f"recall@{k} before: {b_tot}/{len(queries) * k} "
              f"(threshold {threshold}) -> retrain={retrained}")

        # 5. rebuild: re-encode + compact into the serving layout
        if retrained:
            codes2 = A.encode_against_index(emb, "vec_id", "embedding",
                                            cents, fresh)
            SC.write_epoch(codes2, f"{tmp}/codes2", 0)
            compacted = A.compact_code_store(spark, f"{tmp}/codes2",
                                             f"{tmp}/serving", "vec_id")
            print(f"rebuilt store: {compacted.count()} codes, "
                  f"cell-partitioned at {tmp}/serving")

            # 6. verify recovery
            after = A.recall_report(emb, "vec_id", "embedding", queries,
                                    fresh, k=k)
            a_tot = after.agg(F.sum("n_hits")).collect()[0][0]
            print(f"recall@{k} after retrain: {a_tot}/{len(queries) * k}")
            return b_tot, a_tot
    return b_tot, None


if __name__ == "__main__":
    main()
