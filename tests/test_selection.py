"""Data-selection operators: DSIR importance resampling, greedy k-center
coresets, MMR re-ranking, SQ8 quantized search, cross-source dup matrix."""

import pytest

from kstream_spark import util
from kstream_spark.operators import selection as SEL
from kstream_spark.operators import similarity as S
from kstream_spark.operators.dedup import cross_source_matrix
from kstream_spark.plans import inspect as P

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sel_docs(spark):
    # target docs (t=True) talk about spark; one non-target doc shares that
    # vocabulary, one is about something else entirely
    rows = [
        (0, "spark shuffle partition executor spark stage", "tgt"),
        (1, "spark catalyst codegen executor shuffle spark", "tgt"),
        (2, "spark executor shuffle stage partition plan", "other"),
        (3, "banana apple orange grape melon kiwi", "other"),
        (4, "apple banana kiwi melon orange pear", "other"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, src string")


def test_dsir_prefers_target_like_docs(spark, sel_docs):
    out = SEL.select_dsir(sel_docs, "doc_id", "text",
                          F.col("src") == "tgt", n_select=5,
                          n_buckets=64).toPandas().set_index("doc_id")
    # the spark-vocabulary outsider outranks the fruit docs
    assert out.loc[2, "rank"] < out.loc[3, "rank"]
    assert out.loc[2, "rank"] < out.loc[4, "rank"]
    assert out.loc[2, "dsir_micro"] > out.loc[3, "dsir_micro"]


def test_dsir_score_is_exact_integer_sum(spark, sel_docs):
    a = SEL.dsir_scores(sel_docs, "doc_id", "text",
                        F.col("src") == "tgt").toPandas()
    b = SEL.dsir_scores(sel_docs.repartition(7), "doc_id", "text",
                        F.col("src") == "tgt").toPandas()
    ja = a.sort_values("doc_id").reset_index(drop=True)
    jb = b.sort_values("doc_id").reset_index(drop=True)
    # integer micro-units: bit-identical under any partitioning
    assert ja.equals(jb)


def test_kcenter_coverage_radius_monotone(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), float(i % 2)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = (SEL.kcenter_select(emb, "vec_id", "v", k=5)
           .toPandas().sort_values("rank"))
    assert out["rank"].tolist() == [1, 2, 3, 4, 5]
    assert out["vec_id"].is_unique
    assert out["vec_id"].iloc[0] == 0           # deterministic seed
    d = out["dist"].tolist()[1:]
    assert all(x >= y for x, y in zip(d, d[1:]))  # non-increasing radius
    assert d[0] == max(d)


def test_kcenter_first_jump_is_farthest_point(spark):
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [10.0, 10.0])]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = (SEL.kcenter_select(emb, "vec_id", "v", k=2)
           .toPandas().sort_values("rank"))
    assert out["vec_id"].tolist() == [0, 3]
    assert out["dist"].iloc[1] == 200.0


def test_mmr_diversifies_redundant_top(spark):
    # q=0; ids 1,2 are EXACT duplicates (sim=1) and most relevant (rel=.9);
    # 3 is slightly less relevant (rel=.8) but far from them (sim=.5).
    # score(2) = 7*.9e6 - 3*1e6 = 3.3e6 < score(3) = 7*.8e6 - 3*.5e6 =
    # 4.1e6 -> MMR must pick {1, then 3}, where plain top-k returns {1, 2}
    rows = [(0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.43589, 0.0]),
            (2, [0.9, 0.43589, 0.0]),
            (3, [0.8, -0.5047, 0.3245])]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = (SEL.mmr_rerank(emb, "vec_id", "v", query_ids=[0],
                          n_candidates=3, k=2)
           .toPandas().sort_values("mmr_rank"))
    assert out["sel_id"].tolist()[0] in (1, 2)
    assert out["sel_id"].tolist()[1] == 3


def test_mmr_rank1_is_plain_argmax(spark, sf_dir):
    from kstream_spark.builder import StreamBuilder
    emb = StreamBuilder(spark).table(f"{sf_dir}/embeddings.parquet").to_df()
    mmr = SEL.mmr_rerank(emb, "vec_id", "embedding", query_ids=[0, 1],
                         n_candidates=5, k=3).toPandas()
    top = S.cosine_topk(emb, "vec_id", "embedding", query_ids=[0, 1],
                        k=1).toPandas()
    r1 = (mmr[mmr.mmr_rank == 1].sort_values("query_id")
          .sel_id.tolist())
    assert r1 == top.sort_values("query_id").neighbor_id.tolist()


def test_sq8_scores_approximate_exact(spark, sf_dir):
    from kstream_spark.builder import StreamBuilder
    emb = StreamBuilder(spark).table(f"{sf_dir}/embeddings.parquet").to_df()
    sq = S.sq8_topk(emb, "vec_id", "embedding", query_ids=[0], k=5).toPandas()
    assert len(sq) == 5
    # 8-bit quantization: dequantized inner products stay close to exact
    from kstream_spark.functions.vectors import dot
    exact = (emb.filter(F.col("vec_id").isin([0]))
             .select(F.col("embedding").cast("array<double>").alias("qv"))
             .crossJoin(emb.select(F.col("vec_id").alias("nid"),
                                   F.col("embedding").cast("array<double>")
                                   .alias("nv")))
             .select("nid", dot(F.col("qv"), F.col("nv")).alias("ip"))
             .toPandas().set_index("nid")["ip"])
    for r in sq.itertuples():
        assert abs(r.score - exact[r.neighbor_id]) < 0.05


def test_sq8_no_corpus_shuffle_before_rank(spark, sf_dir):
    from kstream_spark.builder import StreamBuilder
    emb = StreamBuilder(spark).table(f"{sf_dir}/embeddings.parquet").to_df()
    df = S.sq8_topk(emb, "vec_id", "embedding", query_ids=[0, 1], k=5)
    # one rank-window exchange over the pruned candidates; scoring join
    # broadcasts the queries so the corpus never shuffles
    P.assert_max_shuffles(df, 1)
    P.assert_no_sort_merge_join(df)


def test_mmr_corpus_side_never_shuffles(spark, sf_dir):
    from kstream_spark.builder import StreamBuilder
    emb = StreamBuilder(spark).table(f"{sf_dir}/embeddings.parquet").to_df()
    df = SEL.mmr_rerank(emb, "vec_id", "embedding", query_ids=[0, 1],
                        n_candidates=5, k=3)
    P.assert_no_sort_merge_join(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_dsir_bounded_shuffles(spark, sel_docs):
    df = SEL.select_dsir(sel_docs, "doc_id", "text",
                         F.col("src") == "tgt", n_select=3, n_buckets=64)
    # bucket-count agg + 1-row total + per-doc agg + rank window — every
    # exchange is key-bounded (n_buckets / 1 / n_docs / <= parts*k rows);
    # the weight table broadcasts back onto the token stream, which is
    # itself never shuffled
    P.assert_max_shuffles(df, 6)
    P.assert_no_sort_merge_join(df)


def test_cross_source_matrix_counts_cross_feed_pairs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "a"),
        (1, "the quick brown fox jumps over the lazy dog now", "b"),
        (2, "completely unrelated text about query engines and scans", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = cross_source_matrix(docs, "doc_id", "text", "source",
                              n=3, threshold=0.5).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.src_a, r.src_b, r.n_pairs) == ("a", "b", 1)
    assert 0 < r.sum_j_micro <= 1_000_000


def test_skew_join_broadcast_key_table_path(spark):
    from kstream_spark.util import skew_join
    left = spark.range(0, 500).withColumn("k", (F.col("id") % 100))
    right = spark.range(0, 100).withColumnRenamed("id", "k") \
        .withColumn("r", F.col("k") * 10)
    hot = list(range(80))  # > max_isin_keys -> broadcast key-table path
    out = skew_join(left, right, "k", hot_keys=hot, max_isin_keys=64)
    plain = left.join(right, "k")
    assert sorted((r.k, r.id, r.r) for r in out.collect()) == \
        sorted((r.k, r.id, r.r) for r in plain.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_kcenter_exhausts_small_corpus(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                                "vec_id long, v array<double>")
    out = SEL.kcenter_select(emb, "vec_id", "v", k=5).toPandas()
    assert out["vec_id"].tolist() == [0, 1]  # min(k, n) rows, no repeats



def test_ivfsq_no_corpus_shuffle_and_tracks_exact(spark, sf_dir):
    from kstream_spark.builder import StreamBuilder
    emb = StreamBuilder(spark).table(f"{sf_dir}/embeddings.parquet").to_df()
    df = S.ivfsq_topk(emb, "vec_id", "embedding", query_ids=[0, 1],
                      k=5, n_cells=4, n_probe=4)
    # assignment + quantization are projections; probe join broadcasts;
    # the only exchanges are the |Q| x n_cells probe window and the rank
    # window over pruned candidates — neither corpus-sized
    P.assert_max_shuffles(df, 2)
    P.assert_no_sort_merge_join(df)
    out = df.toPandas()
    # n_probe == n_cells -> no cell pruning: must agree with plain SQ8
    sq = S.sq8_topk(emb, "vec_id", "embedding", query_ids=[0, 1],
                    k=5).toPandas()
    key = ["query_id", "rank"]
    assert out.sort_values(key)["neighbor_id"].tolist() == \
        sq.sort_values(key)["neighbor_id"].tolist()


def test_mmr_single_candidate_still_ranked(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.5, 0.5])],
                                "vec_id long, v array<double>")
    out = (SEL.mmr_rerank(emb, "vec_id", "v", query_ids=[0],
                          n_candidates=3, k=2).toPandas())
    assert out["sel_id"].tolist() == [1] and out["mmr_rank"].tolist() == [1]


def test_curriculum_bins_equal_depth_and_ordered(spark):
    # 3 fully-predictable docs (every bigram transition is the ONLY one
    # its predecessor makes -> logprob 0) vs 3 docs whose bigrams share
    # the predecessor 'a' with 6 different successors (-> ln(1/6) each):
    # the ambiguous-transition docs are "harder" and must fill bin 1
    rows = [(i, "x y " * 20) for i in range(3)] + \
        [(10 + i, f"a u{i} a v{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = SEL.curriculum_bins(df, "doc_id", "text", n_bins=2).toPandas() \
        .set_index("difficulty").sort_index()
    assert out["n_docs"].sum() == 6
    # equal-depth: 2 bins x 3 docs
    assert list(out["n_docs"]) == [3, 3]
    # bin 1 = hardest (lowest mean logprob) = the unique-transition docs,
    # whose per-bigram logprob is far more negative
    assert (out.loc[1, "sum_logp_micro"] / out.loc[1, "n_bigrams"]
            < out.loc[2, "sum_logp_micro"] / out.loc[2, "n_bigrams"])


def test_kcenter_string_ids(spark):
    """kcenter_select is id-type-agnostic (advisor r7): the argmax rides
    TakeOrderedAndProject instead of a negated-id max-struct, and the
    result schema derives the id type from the input."""
    from kstream_spark.operators.selection import kcenter_select
    rows = [("a", [0.0, 0.0]), ("b", [10.0, 0.0]), ("c", [0.0, 10.0]),
            ("d", [0.1, 0.1])]
    emb = spark.createDataFrame(rows, "vid string, vec array<double>")
    out = kcenter_select(emb, "vid", "vec", k=3).toPandas()
    assert out["vec_id"].tolist()[0] == "a"          # seed: smallest id
    assert set(out["vec_id"]) == {"a", "b", "c"}     # far points win
    assert out["dist"].iloc[1] >= out["dist"].iloc[2]  # radius monotone


def test_kcenter_matches_numeric_reference(spark):
    """The TakeOrdered argmax picks the same centers as the r7 max-struct
    form did on numeric ids (same (dist desc, id asc) total order)."""
    from kstream_spark.operators.selection import kcenter_select
    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    out = kcenter_select(emb, "vec_id", "vec", k=5).toPandas()
    # sequential reference
    pts = {r[0]: r[1] for r in rows}
    centers = [min(pts)]
    dists = []
    for _ in range(4):
        best = None
        for vid, v in pts.items():
            d = min(round(sum((x - y) ** 2 for x, y in zip(v, pts[c])), 6)
                    for c in centers)
            key = (-d, vid)
            if best is None or key < best[0]:
                best = (key, vid, d)
        centers.append(best[1])
        dists.append(best[2])
    assert out["vec_id"].tolist() == centers
    assert out["dist"].tolist()[1:] == dists


def test_cluster_balanced_select_equal_depth_and_window_parity(spark):
    """Per-cell depth is capped, every non-empty cell is represented, and
    the narrow top-k path equals the naive row_number-over-cell window."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from kstream_spark.functions.text import hash_str
    from kstream_spark.operators.selection import cluster_balanced_select
    from kstream_spark.operators.similarity import kmeans_centroids
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(150).cache())
    cents = kmeans_centroids(emb, "embedding", k=4, iters=2,
                             id_col="vec_id")
    out = cluster_balanced_select(emb, "vec_id", "embedding", cents,
                                  per_cell=7).toPandas()
    depth = out.groupby("cell_id").size()
    assert (depth <= 7).all() and len(out) >= 7  # capped, non-trivial
    assert set(out["rk"]) <= set(range(1, 8))
    # parity with the naive window form on the same assignment + key
    from kstream_spark.functions.vectors import as_double, nearest_cell, norm
    src = (emb.select(F.col("vec_id"),
                      as_double(F.col("embedding")).alias("v"))
           .withColumn("_n", norm(F.col("v"))))
    key = (F.conv(F.substring(
        hash_str(F.col("vec_id").cast("string"), "cbal"), 1, 12), 16, 10)
        .cast("double"))
    naive = (src.select(
        "vec_id",
        nearest_cell(F.col("v"), F.col("_n"), cents).alias("cell_id"),
        key.alias("sk"))
        .withColumn("rk", F.row_number().over(
            W.partitionBy("cell_id").orderBy("sk", "vec_id")).cast("long"))
        .filter(F.col("rk") <= 7).toPandas())
    got = set(map(tuple, out[["vec_id", "cell_id", "rk"]].values))
    want = set(map(tuple, naive[["vec_id", "cell_id", "rk"]].values))
    assert got == want
    emb.unpersist()


def _scoped_caches(monkeypatch, run):
    """Run ``run()`` in a cache scope; return its result and the
    storage levels of the persisted frames it handed to ``util.owned``,
    inside the scope and after it."""
    seen = []
    real = util.owned
    monkeypatch.setattr(util, "owned",
                        lambda df: real(seen.append(df) or df))
    with util.cache_scope():
        out = run()
        inside = [d.storageLevel.useMemory for d in seen if d.is_cached]
    return out, inside, [d.storageLevel.useMemory for d in seen]


def test_dsir_share_tokens_arm_matches_stateless(spark, sel_docs,
                                                 monkeypatch):
    """share_tokens=True (one persisted token relation feeding both the
    weight agg and the per-doc scoring) must produce EXACTLY the
    stateless two-pass composition's scores — same weights math, same
    rounding — and its one cache must be freed with the scope."""
    kw = dict(n_select=5, n_buckets=64)
    base = sorted(map(tuple, SEL.select_dsir(
        sel_docs, "doc_id", "text", F.col("src") == "tgt",
        **kw).collect()))
    got, inside, after = _scoped_caches(monkeypatch, lambda: sorted(map(
        tuple, SEL.select_dsir(sel_docs, "doc_id", "text",
                               F.col("src") == "tgt", share_tokens=True,
                               **kw).collect())))
    assert got == base
    assert inside == [True]
    assert after == [False]


def test_curriculum_share_bigrams_arm_matches_stateless(spark, sel_docs,
                                                        monkeypatch):
    base = sorted(map(tuple, SEL.curriculum_bins(
        sel_docs, "doc_id", "text", n_bins=2).collect()))
    got, inside, after = _scoped_caches(monkeypatch, lambda: sorted(map(
        tuple, SEL.curriculum_bins(sel_docs, "doc_id", "text", n_bins=2,
                                   share_bigrams=True).collect())))
    assert got == base
    assert inside == [True]
    # the ranking checkpoint is owned too; only the persist is cached
    assert not any(after)
