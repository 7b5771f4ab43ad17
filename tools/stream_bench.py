"""Streaming throughput microbench — the comparison point for the
reference's headline claim (50,000 msg/s at 2-5 ms latency with
micro-batching, /root/reference/README.md:13-15).

Drives these streaming pipeline shapes end-to-end and reports
records/second for each; all but windowed_agg check the work they timed
and raise on a mismatch:

  materialize — file-stream source -> filter/transform -> version-gated
      store materialization (each micro-batch checkpointed into the
      store); the reference's hot path (consume -> process ->
      materialized view).  The timed window ends after a verified
      get_all() aggregate, whose read folds the batches' parts into the
      store's compacted base.
  windowed_agg — watermarked tumbling-window aggregation (count/sum/
      approx-distinct per key-group), the built-in stateful shape with
      no Python in the loop.
  stream_join — unbounded-buffer stateful stream-stream join
      (applyInPandasWithState; reference side_joiner.go semantics,
      default buckets), the heaviest keyed-state shape; its emitted pair
      count is checked against the closed form.
  sessionize  — event-time gap sessionization with Spark's session
      window (streaming/core.session_agg), the watermark-driven state
      shape; its emitted session count is checked against the batch
      session_agg of the same files, less the sessions the final
      watermark has not closed.
  ann_admit / tokenize / corpus_admit — the epoch-store sinks
      (streaming/ann, text, corpus): one code per distinct id, tokens
      for every doc, no two admitted docs sharing a text;
      corpus_admit_amortized reruns corpus_admit at a 2M-record trigger.

Usage: python tools/stream_bench.py [num_records]
Prints one JSON line {"metric": "streaming_records_per_sec", ...} whose
value is the materialize (hot-path) number; per-shape results under
"shapes".
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _seed(spark, path: str, n: int, files: int = 8) -> None:
    import pyspark.sql.functions as F
    (spark.range(n)
     .select(F.col("id").alias("uuid"), (F.col("id") % 10_000).alias("k"),
             (F.col("id") % 997).cast("double").alias("v"),
             F.timestamp_seconds(F.col("id") % 100_000).alias("ts"))
     .repartition(files).write.parquet(path))


def bench_materialize(spark, b, tmp: str, n: int) -> dict:
    import pyspark.sql.functions as F
    from kstream_spark.streaming import core as SC
    src = f"{tmp}/in"
    _seed(spark, src, n)
    stream = (SC.read_stream_parquet(spark, src)
              .filter(F.col("v") >= 0)
              .withColumn("v2", F.col("v") * 2))
    t0 = time.time()
    q = SC.materialize_stream(stream, b.stores, "bench_store", key="k",
                              version="uuid", checkpoint_dir=f"{tmp}/ck")
    q.processAllAvailable()
    batches = [p for p in q.recentProgress
               if "addBatch" in (p["durationMs"] or {})]
    q.stop()
    q.awaitTermination(30)
    # every batch executes its input inside the batch; a batch that
    # reports no input rows deferred its work past the timed window
    rows = [p["numInputRows"] for p in batches]
    if not batches or min(rows) <= 0:
        raise RuntimeError(f"materialize: batch input rows {rows}, "
                           "expected > 0 in every batch")
    # the first read folds the parts into the compacted store, so the
    # window ends after a verified read: key k = uuid % 10_000 keeps its
    # highest uuid
    got = b.stores.store("bench_store").get_all().agg(
        F.count("*").alias("keys"), F.sum("uuid").alias("uuids")).first()
    dt = time.time() - t0
    keys = np.arange(min(n, 10_000))
    want = (len(keys), int((keys + (n - 1 - keys) // 10_000 * 10_000).sum()))
    if (got["keys"], got["uuids"]) != want:
        raise RuntimeError(f"materialize: store holds {tuple(got)}, "
                           f"expected (keys, uuid sum) {want}")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2),
            "micro_batch_latency_ms": [p["durationMs"]["triggerExecution"]
                                       for p in batches],
            "batch_input_rows": rows,
            "distinct_keys_materialized": got["keys"]}


def join_pairs(n: int) -> int:
    """Closed-form pair count of ``bench_stream_join``'s key scheme: uuids
    ``2j`` (left) and ``2j+1`` (right) share key ``j % (n // 4)``, so each
    key pairs its lefts with its rights."""
    uuid = np.arange(n)
    keys = (uuid // 2) % (n // 4)
    left = np.bincount(keys[uuid % 2 == 0], minlength=n // 4)
    right = np.bincount(keys[uuid % 2 == 1], minlength=n // 4)
    return int(left @ right)


def bench_stream_join(spark, tmp: str, n: int) -> dict:
    """Both sides stream from one source (even uuids left, odd right) into
    keyed state with the default bucket count.  Key ``(uuid div 2) %
    (n/4)`` gives each key about two lefts and two rights, so buffers stay
    small and the emitted pair count (n for n divisible by 4) is known in
    closed form — the sink's numOutputRows must equal it."""
    import pyspark.sql.functions as F
    from kstream_spark.streaming.core import read_stream_parquet
    from kstream_spark.streaming.join import stateful_stream_join
    src = f"{tmp}/jin"
    _seed(spark, src, n)
    base = read_stream_parquet(spark, src).withColumn(
        "jk", F.expr(f"(uuid div 2) % {n // 4}"))
    left = base.filter(F.col("uuid") % 2 == 0).select(
        F.col("jk").alias("k"), F.col("v").alias("lv"))
    right = base.filter(F.col("uuid") % 2 == 1).select(
        F.col("jk").alias("k"), F.col("v").alias("rv"))
    joined = stateful_stream_join(left, right, "k", ["lv"], ["rv"])
    t0 = time.time()
    q = (joined.writeStream.format("noop")
         .option("checkpointLocation", f"{tmp}/jck").start())
    q.processAllAvailable()
    pairs = sum(p["sink"]["numOutputRows"] for p in q.recentProgress
                if "addBatch" in (p["durationMs"] or {}))
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    if pairs != join_pairs(n):
        raise RuntimeError(f"stream_join: emitted {pairs} pairs, expected "
                           f"{join_pairs(n)}")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2), "pairs": pairs}


def bench_windowed_agg(spark, tmp: str, n: int) -> dict:
    """Watermarked tumbling-window aggregation — the built-in stateful
    shape (native state store, no Python in the loop): events bucketed
    into 10-minute windows per key-group with late data bounded by a
    1-hour watermark."""
    import pyspark.sql.functions as F
    from kstream_spark.streaming.core import read_stream_parquet
    src = f"{tmp}/win"
    _seed(spark, src, n)
    ev = (read_stream_parquet(spark, src)
          .withColumn("g", F.col("k") % 100)
          .withWatermark("ts", "1 hour"))
    agg = (ev.groupBy("g", F.window("ts", "10 minutes"))
           .agg(F.count("*").alias("n"), F.sum("v").alias("sv"),
                F.approx_count_distinct("uuid").alias("du")))
    t0 = time.time()
    # update mode, not append: with a bounded seed the watermark never
    # passes most window ends, so append would emit ~nothing and the
    # number would measure ingestion only — update emits every batch's
    # changed windows, exercising the full state+emission path (r4 advice)
    q = (agg.writeStream.format("noop").outputMode("update")
         .option("checkpointLocation", f"{tmp}/wck").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2)}


def bench_sessionize(spark, tmp: str, n: int) -> dict:
    import pyspark.sql.functions as F
    from kstream_spark.streaming.core import read_stream_parquet, session_agg
    src = f"{tmp}/sin"
    _seed(spark, src, n)

    def sessions(df):
        return session_agg(
            df.select((F.col("uuid") % 10_000).alias("user_id"), "ts"),
            "ts", "30 minutes", keys=["user_id"],
            aggs={"n_events": F.count("*")})

    sess = sessions(read_stream_parquet(spark, src)
                    .withWatermark("ts", "1 hour"))
    t0 = time.time()
    q = (sess.writeStream.format("noop").outputMode("append")
         .option("checkpointLocation", f"{tmp}/sck").start())
    q.processAllAvailable()
    emitted = sum(p["sink"]["numOutputRows"] for p in q.recentProgress)
    watermark = q.lastProgress["eventTime"]["watermark"]
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    # append mode emits a session once the watermark passes its end
    want = sessions(spark.read.parquet(src)).filter(
        F.col("session_end") <= F.to_timestamp(F.lit(watermark))).count()
    if emitted != want:
        raise RuntimeError(f"sessionize: emitted {emitted} sessions, the "
                           f"batch session_agg closes {want} by {watermark}")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2), "sessions": emitted}


def bench_ann_admit(spark, tmp: str, n: int) -> dict:
    """Streaming ANN index maintenance throughput: n synthetic 64-d
    vectors arrive as a file stream and are encoded against a FIXED
    persisted index (8 coarse cells + 4x16 PQ codebooks) into the code
    store — the per-batch cost of keeping an IVF-PQ index current as
    data lands (streaming/ann.admit_stream)."""
    import pyspark.sql.functions as F

    from kstream_spark.operators.similarity import (kmeans_centroids,
                                                    pq_codebooks)
    from kstream_spark.streaming import ann as A
    from kstream_spark.streaming import core as SC

    src = f"{tmp}/ann_in"
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (F.pmod(F.xxhash64(F.col("id") * i), F.lit(1000))
                   .cast("double") / 1000.0))
    (spark.range(n).select(F.col("id").alias("vec_id"),
                           vec.alias("embedding"))
     .repartition(8).write.parquet(src))
    train = spark.read.parquet(src).limit(2000)
    cents = kmeans_centroids(train, "embedding", k=8, iters=1,
                             id_col="vec_id")
    books = pq_codebooks(train, "embedding", m=4, k=16, iters=1,
                         id_col="vec_id")
    t0 = time.time()
    q = A.admit_stream(SC.read_stream_parquet(spark, src), "vec_id",
                       "embedding", cents, books, f"{tmp}/ann_store",
                       f"{tmp}/ann_ck")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    got = spark.read.parquet(f"{tmp}/ann_store").agg(
        F.count("*").alias("codes"), F.countDistinct("vec_id").alias("ids")
    ).first()
    if (got["codes"], got["ids"]) != (n, n):
        raise RuntimeError(f"ann_admit: store holds {got['codes']} codes "
                           f"for {got['ids']} ids, expected {n} for {n}")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2), "codes_stored": got["codes"]}


def bench_tokenize(spark, tmp: str, n: int) -> dict:
    """Streaming tokenizer-inference throughput: n synthetic documents
    arrive as a file stream and are Viterbi-tokenized against a FIXED
    persisted unigram vocab (streaming/text.tokenize_stream) — the
    per-batch cost of tokenize-at-ingest."""
    import pyspark.sql.functions as F

    from kstream_spark.operators.text import unigram_train
    from kstream_spark.streaming import text as ST

    src = f"{tmp}/tok_in"
    # ~5-word synthetic docs from a 64-word vocabulary
    word = lambda j: F.concat(F.lit("w"), F.pmod(
        F.xxhash64(F.col("id") * j), F.lit(64)).cast("string"))
    (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(1, 6)]).alias("text"))
     .repartition(8).write.parquet(src))
    train = spark.read.parquet(src).limit(5000)
    unigram_train(train, "text", seed_v=60, keep_v=40, iters=1,
                  max_piece_len=3).write.parquet(f"{tmp}/tok_vocab")
    t0 = time.time()
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = ST.tokenize_stream(stream, f"{tmp}/tok_vocab", f"{tmp}/tok_out",
                           f"{tmp}/tok_ck", id_col="doc_id",
                           text_col="text", max_piece_len=3)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    got = spark.read.parquet(f"{tmp}/tok_out").agg(
        F.count("*").alias("tokens"), F.countDistinct("doc_id").alias("docs")
    ).first()
    if got["docs"] != n:
        raise RuntimeError(f"tokenize: {got['docs']} of {n} docs emitted "
                           "tokens, expected every doc")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2), "tokens_emitted": got["tokens"]}


def bench_corpus_admit(spark, tmp: str, n: int) -> dict:
    """Streaming corpus-admission throughput: n synthetic documents
    arrive as a file stream and pass the gopher quality gate, the
    exact-hash gate, and the increment-vs-corpus MinHash band join
    before landing in the corpus + signature store
    (streaming/corpus.admit_stream with gopher_gate) — the full
    ingestion gauntlet per batch.

    Workload shape: ids collide mod n//8, so only n/8 texts are unique
    and 7/8 of the stream is EXACT duplicates — the re-crawl-heavy
    ingest profile where the cheap hash gate must shed the bulk before
    any MinHash work.  ``unique_fraction`` in the result records this
    so the records_per_sec is read against the right mix."""
    import pyspark.sql.functions as F

    from kstream_spark.streaming.corpus import admit_stream, gopher_gate

    src = f"{tmp}/corp_in"
    word = lambda j: F.concat(F.lit("w"), F.pmod(
        F.xxhash64(F.col("base") * j), F.lit(512)).cast("string"))
    # ids collide mod 8 -> exact duplicates the hash gate must reject;
    # 24 words + "the" so the gopher word-count/stop rules pass
    (spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % (n // 8 if n >= 8 else 1)).alias("base"))
     .select("doc_id",
             F.concat_ws(" ", F.lit("the"),
                         *[word(j) for j in range(1, 25)]).alias("text"))
     .repartition(8).write.parquet(src))
    t0 = time.time()
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = admit_stream(stream, f"{tmp}/corp_out", f"{tmp}/corp_sigs",
                     f"{tmp}/corp_ck", id_col="doc_id", text_col="text",
                     quality_gate=gopher_gate("doc_id", "text",
                                              min_words=10, max_words=200,
                                              min_stopwords=1))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    dt = time.time() - t0
    got = spark.read.parquet(f"{tmp}/corp_out").agg(
        F.count("*").alias("docs"), F.countDistinct("text").alias("texts")
    ).first()
    if got["docs"] != got["texts"]:
        raise RuntimeError(f"corpus_admit: {got['docs']} admitted docs "
                           f"share {got['texts']} texts, expected no exact "
                           "duplicates")
    return {"records_per_sec": round(n / dt), "records": n,
            "seconds": round(dt, 2), "admitted": got["docs"],
            "unique_fraction": round((n // 8 if n >= 8 else 1) / n, 4)}


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000

    from kstream_spark import StreamBuilder, get_spark

    spark = get_spark(app_name="kstream_spark_stream_bench")
    b = StreamBuilder(spark)
    shapes = {}
    with tempfile.TemporaryDirectory() as tmp:
        shapes["materialize"] = bench_materialize(spark, b, tmp, n)
        shapes["windowed_agg"] = bench_windowed_agg(spark, tmp, n)
        shapes["stream_join"] = bench_stream_join(spark, tmp, n)
        shapes["sessionize"] = bench_sessionize(spark, tmp, n)
        shapes["ann_admit"] = bench_ann_admit(spark, tmp, n // 2)
        shapes["tokenize"] = bench_tokenize(spark, tmp, n // 2)
        shapes["corpus_admit"] = bench_corpus_admit(spark, tmp, n // 8)
        # same gauntlet at a production-sized trigger: the ~6s per-batch
        # fixed cost (plan construction + stage scheduling for the
        # ~25-stage dedup DAG) amortizes with batch size — 7.3k rec/s at
        # 62.5k records vs >50k rec/s here (r11 measurements), so the
        # small-n row above is the overhead-bound regime, not the
        # pipeline's capacity
        shapes["corpus_admit_amortized"] = bench_corpus_admit(
            spark, tmp + "/big", n * 4)

    m = shapes["materialize"]
    print(json.dumps({
        "metric": "streaming_records_per_sec",
        "value": m["records_per_sec"],
        "unit": "records/sec",
        "records": m["records"],
        "seconds": m["seconds"],
        "micro_batch_latency_ms": m["micro_batch_latency_ms"],
        "batch_input_rows": m["batch_input_rows"],
        "distinct_keys_materialized": m["distinct_keys_materialized"],
        "shapes": shapes,
        "baseline_reference_msgs_per_sec": 50_000,
        "baseline_reference_latency_ms": "2-5 (per-record; micro-batch here)",
    }))


if __name__ == "__main__":
    main()
