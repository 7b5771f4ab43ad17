"""Approximate sketch operators (capability superset — nothing comparable in
the reference; standard warehouse sketches for 100 TB interactive analytics).

All are single-pass, mergeable aggregates (partial sketches combine on the
reduce side), so they scale as ordinary map-side-combined aggregations:
  hll_distinct       HyperLogLog++ distinct counts (relative error ~1/sqrt(2^p))
  approx_quantiles   Greenwald-Khanna quantiles with bounded rank error
  frequent_items     misra-gries style heavy hitters (df.stat.freqItems)
  count_min          count-min sketch column (mergeable binary sketch)
Exactness is probabilistic — tests assert error bounds against exact
answers; the driver records rows-only checks for the query entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def hll_distinct(df: DataFrame, keys: list[str], col: str,
                 rsd: float = 0.02) -> DataFrame:
    """Approximate distinct count per group (HyperLogLog++)."""
    return (df.groupBy(*keys)
            .agg(F.approx_count_distinct(col, rsd).alias(f"approx_{col}"),
                 F.count("*").alias("n_rows")))


def approx_quantiles(df: DataFrame, keys: list[str], col: str,
                     probs: list[float] = (0.5, 0.95, 0.99),
                     accuracy: int = 10000) -> DataFrame:
    """Approximate quantiles per group (Greenwald-Khanna)."""
    aggs = [F.percentile_approx(col, p, accuracy).alias(f"q{int(p * 100)}")
            for p in probs]
    return df.groupBy(*keys).agg(*aggs)


def frequent_items(df: DataFrame, col: str, support: float = 0.05) -> DataFrame:
    """Heavy hitters with the given minimum support (single pass)."""
    return df.stat.freqItems([col], support)


def count_min(df: DataFrame, keys: list[str], col: str,
              eps: float = 0.01, confidence: float = 0.95,
              seed: int = 42) -> DataFrame:
    """Per-group count-min sketch (binary, mergeable downstream)."""
    return (df.groupBy(*keys)
            .agg(F.count_min_sketch(F.col(col), F.lit(eps), F.lit(confidence),
                                    F.lit(seed)).alias("cms")))


def hll_mergeable_distinct(df: DataFrame, keys: list[str], segment_col: str,
                           col: str, lg_k: int = 14) -> DataFrame:
    """Two-level mergeable distinct count (Apache DataSketches HLL): one
    sketch per (group, segment), then a LOSSLESS sketch union across
    segments per group.

    This is the 100 TB warehouse pattern the one-shot aggregate can't do:
    materialize a small per-partition/per-day sketch ONCE at ingest, then
    answer any cross-partition distinct question by unioning sketches —
    no re-scan of history, and the union is associative so partials
    combine map-side like any aggregate.  Returns (keys..., est,
    n_segments).
    """
    per_seg = df.groupBy(*keys, segment_col).agg(
        F.hll_sketch_agg(col, F.lit(lg_k)).alias("_sk"))
    return per_seg.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("est"),
        F.count("*").cast("long").alias("n_segments"))


def kmv_source_overlap(df: DataFrame, id_col: str, text_col: str,
                       source_col: str, k: int = 256,
                       n: int = 3) -> DataFrame:
    """KMV (k-minimum-values) theta-sketch overlap between sources: per
    source, the ``k`` lexicographically-smallest md5 hashes of its
    distinct word shingles form the sketch; for every source pair the
    union sketch's members present in BOTH sides estimate Jaccard
    overlap (Beyer et al. 2007) — the sketch-tier alternative to
    ``dedup.cross_source_matrix``'s exact pair join when feeds are too
    big to compare exactly.

    DETERMINISTIC, unlike the HLL family: md5 is the hash, so the sketch
    and every estimate are bit-identical across engines and replayable
    by the SQL oracle (a rare property for a sketch — KMV's randomness
    lives entirely in the hash).  Returns
    (src_a, src_b, k_used, n_both, jaccard_micro): jaccard_micro =
    round(n_both * 1e6 / k_used), exact integer arithmetic.

    Scale shape: the distinct (source, hash) stream collapses map-side;
    the k-smallest per source rides the narrow per-partition prune
    (constant score, id tie-break = pure lexicographic k-min — no
    reducer sees more than partitions*k rows); everything after operates
    on |sources| * k sketch rows — driver-free, broadcastable, and the
    pair stage is |sources|^2 * k at worst.  At 100 TB the sketches are
    the persistable per-feed artifact; overlap of a new feed against
    every existing one is one tiny join, no corpus contact.
    """
    from kstream_spark.functions.text import hash_str, word_shingles
    from kstream_spark.operators.similarity import _per_query_topk
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism, owned

    # shingle+md5 fan-out is CPU-heavy per byte (shingle_sets floor)
    df = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES)
    sh = (df.select(F.col(source_col).alias("src"),
                    F.explode(word_shingles(F.lower(F.col(text_col)), n))
                    .alias("s"))
          .select("src", hash_str(F.col("s"), "kmv").alias("h"))
          .distinct())
    # persist the |sources|*k sketch BEFORE the source-list collect: the
    # collect is an action, and an unpersisted sk would run the corpus
    # shingle+md5 scan once for it and once more for the returned plan
    # (the r11 double-scan — half the query's sf1 wall-clock)
    sk = owned(_per_query_topk(
        sh.select(F.col("src").alias("query_id"), F.col("h"),
                  F.lit(0.0).alias("_z")),
        k, score_col="_z", id_col="h").select(
        F.col("query_id").alias("src"), "h").persist())
    srcs = [r["src"] for r in sk.select("src").distinct().collect()]
    spark = df.sparkSession
    from kstream_spark.util import local_df
    pairs = F.broadcast(local_df(
        spark, [(a, b) for a in srcs for b in srcs if a < b],
        "src_a string, src_b string"))
    # union the two sketches per pair, keep the k smallest, then flag
    # membership in each side's sketch
    pr = (pairs.join(sk, (sk.src == pairs.src_a) | (sk.src == pairs.src_b))
          .select("src_a", "src_b", "h").distinct())
    w = W.partitionBy("src_a", "src_b").orderBy("h")
    uni = (pr.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= k).drop("_rn"))
    ina = sk.select(F.col("src").alias("src_a"), "h",
                    F.lit(1).alias("_ina"))
    inb = sk.select(F.col("src").alias("src_b"), "h",
                    F.lit(1).alias("_inb"))
    both = (uni.join(ina, ["src_a", "h"], "left")
            .join(inb, ["src_b", "h"], "left"))
    return (both.groupBy("src_a", "src_b")
            .agg(F.count("*").cast("long").alias("k_used"),
                 F.sum(F.coalesce("_ina", F.lit(0))
                       * F.coalesce("_inb", F.lit(0))).cast("long")
                 .alias("n_both"))
            .withColumn("jaccard_micro",
                        F.round(F.col("n_both") * 1e6 / F.col("k_used"), 0)
                        .cast("long")))
