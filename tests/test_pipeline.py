"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

import pyspark.sql.functions as F
import pytest

from kstream_spark.operators import dedup as D
from kstream_spark.operators import multimodal as M
from kstream_spark.operators import similarity as S
from kstream_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "THE quick  brown fox jumps over the lazy dog"),  # normalized dup of 0? (case+ws)
        (3, "completely different content about spark engines and shuffles"),
        (4, "tiny"),                                          # < 3 words
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalization(spark, docs):
    out = D.exact_dedup(docs, "doc_id", "text")
    rows = {r.doc_id: r.group_size for r in out.collect()}
    # doc 2 differs only by case/extra space -> same group as 0
    assert rows[0] == 2 and 2 not in rows
    assert rows[3] == 1 and rows[4] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 2) in got          # normalized-identical
    assert (0, 1) in got          # one word changed
    assert all(a != 3 and b != 3 for a, b in got)


def test_minhash_impls_bit_identical(spark, docs):
    """The codegen and memoized-pandas minhash arms must agree on every
    column (signatures drive band bucketing, so ONE differing hex digit
    silently changes candidate generation) — including the empty-shingle
    doc (id 4: NULL bands both ways) and per-hash mode.  The hostile rows
    pin the tokenizer-parity contract: NBSP/ideographic space (Python \\s
    splits, Java \\s does NOT — both arms must agree on Java's class),
    NULL text (codegen's split(NULL) path == pandas' None guard), Turkish
    dotted İ (JVM lower on both sides), and trailing whitespace (both
    split conventions keep the trailing empty token)."""
    hostile = spark.createDataFrame(
        [(10, "nbsp glued tokens here ok"),          # U+00A0 not Java \s
         (11, "ideo　space tokens here too"),         # U+3000 not Java \s
         (12, None),                                      # NULL text
         (13, "İstanbul pair casing check done"),    # dotted I casing
         (14, "trailing space run ends here   ")],
        "doc_id long, text string")
    both = docs.unionByName(hostile)
    for bands in (4, None):
        a = D._doc_local_minhash(both, "doc_id", "text", 3, D.NUM_HASHES,
                                 bands=bands, impl="pandas")
        b = D._doc_local_minhash(both, "doc_id", "text", 3, D.NUM_HASHES,
                                 bands=bands, impl="codegen")
        ra = {r["doc_id"]: r.asDict() for r in a.collect()}
        rb = {r["doc_id"]: r.asDict() for r in b.collect()}
        assert ra == rb
        assert ra[12]["ss"] == [] and ra[12]["n"] == 0   # NULL -> empty set
        # NBSP must NOT be a token boundary: the glued bigram survives
        assert any("nbsp glued" in s for s in ra[10]["ss"])


def test_minhash_lsh_matches_exact_on_near_dups(spark, docs):
    exact = {(r.doc_a, r.doc_b) for r in
             D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in
           D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    # LSH is candidate-generation + exact verify: precision is exact
    assert lsh <= exact
    # near-identical pairs must be recalled
    assert (0, 2) in lsh


def test_dedup_survivors(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    kept = {r.doc_id for r in D.dedup_survivors(pairs, docs, "doc_id").collect()}
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert {3, 4} <= kept


def test_max_shingle_df_drops_hot_shingles(spark):
    # a shingle present in every doc must not generate candidates when capped
    rows = [(i, f"common shingle text unique{i} word{i} tail{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh_all = D.shingle_sets(df, "doc_id", "text", n=3)
    sh_capped = D.shingle_sets(df, "doc_id", "text", n=3, max_shingle_df=5)
    hot = sh_all.groupBy("s").count().filter(F.col("count") > 5).count()
    assert hot > 0
    assert sh_capped.groupBy("s").count().filter(F.col("count") > 5).count() == 0


def test_lsh_cosine_recovers_planted_near_dups(spark):
    # planted clusters: vectors i and i+100 are tiny perturbations -> cos ~ 1
    import random
    random.seed(7)
    rows = []
    for i in range(20):
        v = [random.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 100, [float(x + 0.01) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.lsh_cosine_pairs(emb, "vec_id", "embedding", threshold=0.99,
                             planes=8, tables=6)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    brute = {(r.id_a, r.id_b) for r in
             S.cosine_pairs(emb, "vec_id", "embedding", threshold=0.99).collect()}
    assert pairs <= brute                    # exact verification => precision 1
    assert len(pairs) >= 0.9 * len(brute)    # high recall on near-identical
    assert len(brute) == 20


def test_cosine_pairs_matches_sql_oracle(spark):
    """cosine_pairs (blocked numpy matmul) must emit the IDENTICAL pair
    set with identical rounded cosines as the inventory's DuckDB oracle
    SQL on the same rows — at a low threshold where many pairs survive,
    across several block counts (tile boundaries must not change
    results), and with a zero-norm vector (the SQL division NULLs and
    the filter drops it; numpy must drop it too, not emit inf)."""
    import random

    import duckdb
    import pandas as pd
    from kstream_spark.inventory_pipeline import SQL_SIM_COSINE_PAIRS
    random.seed(13)
    rows = [(i, [float(random.gauss(0, 1)) for _ in range(16)])
            for i in range(60)]
    rows.append((60, [0.0] * 16))     # zero-norm: must pair with nothing
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.register("src", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    con.execute("CREATE TABLE embeddings AS SELECT vec_id, "
                "embedding::FLOAT[] AS embedding FROM src")
    sql = SQL_SIM_COSINE_PAIRS.replace("cos >= 0.4", "cos >= 0.1")
    ref = sorted(map(tuple, con.execute(sql).fetchall()))
    assert len(ref) > 50                 # non-trivial survivor set
    for nb in (1, 4, 16):
        got = sorted((r.id_a, r.id_b, r.cos) for r in
                     S.cosine_pairs(emb, "vec_id", "embedding", threshold=0.1,
                                    n_blocks=nb).collect())
        assert got == ref
    assert all(a != 60 and b != 60 for a, b, _ in ref)


def test_training_local_arm_bit_identical(spark):
    """The r13 driver-local training arm (one collect, all Lloyd rounds
    in numpy) must return BIT-identical centroids/codebooks to the
    distributed partials arm on the same input — including a multi-batch
    shape (several partitions) and non-contiguous ids, so the seed
    selection (k lowest ids) and per-cell sums line up across arms (the
    auto gate itself: test_fits_driver_gate)."""
    import random
    random.seed(29)
    rows = [(i * 3 + 1, [float(random.gauss(0, 1)) for _ in range(16)])
            for i in range(120)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(4)
    km_d = S.kmeans_centroids(emb, "embedding", k=5, iters=3,
                              id_col="vec_id", local=False)
    km_l = S.kmeans_centroids(emb, "embedding", k=5, iters=3,
                              id_col="vec_id", local=True)
    assert km_l == km_d
    pq_d = S.pq_codebooks(emb, "embedding", m=4, k=6, iters=2,
                          id_col="vec_id", local=False)
    pq_l = S.pq_codebooks(emb, "embedding", m=4, k=6, iters=2,
                          id_col="vec_id", local=True)
    assert pq_l == pq_d


def test_fits_driver_gate(spark, tmp_path):
    """The one driver-local size gate: a parquet input under the
    threshold goes local (its scan stats are known and small); an
    in-memory createDataFrame input has no stats (defaultSizeInBytes
    sentinel -> None) and stays distributed; a pin overrides both."""
    from kstream_spark.util import DRIVER_LOCAL_BYTES, fits_driver, \
        plan_size_bytes
    rows = [(i, [float(i), 1.0]) for i in range(50)]
    mem = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mem.write.parquet(str(tmp_path / "emb"))
    scan = spark.read.parquet(str(tmp_path / "emb"))
    assert 0 < plan_size_bytes(scan) <= DRIVER_LOCAL_BYTES
    assert fits_driver(scan) is True
    assert plan_size_bytes(mem) is None
    assert fits_driver(mem) is False
    assert fits_driver(scan, local=False) is False
    assert fits_driver(mem, local=True) is True


def test_sq8_oracle_and_ivfsq_local_arm_identical(spark, tmp_path):
    """sq8_topk must return the IDENTICAL ranked rows as the inventory's
    DuckDB oracle SQL over the same parquet file (bit-exact codes and
    scores: the quantizer bounds are exact data picks).  ivfsq_topk's
    local-setup arm (one collect derives the per-dim min/max, the seed
    centroids, and the numpy probe selection) must return the IDENTICAL
    ranked rows as its distributed-setup arm; the parquet scan makes the
    auto gate ALSO resolve to local (scan stats present and tiny)."""
    import random

    import duckdb
    from kstream_spark.inventory_pipeline import SQL_SIM_SQ8_TOPK
    random.seed(31)
    src = spark.createDataFrame(
        [(i, [float(random.gauss(0, 1)) for _ in range(16)])
         for i in range(80)], "vec_id long, embedding array<float>")
    path = str(tmp_path / "emb.parquet")
    src.write.parquet(path)
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    ref = sorted(map(tuple, con.execute(SQL_SIM_SQ8_TOPK).fetchall()))
    got = sorted(map(tuple, S.sq8_topk(emb, "vec_id", "embedding",
                                       [0, 1, 2, 3, 4], k=10).collect()))
    assert got == ref
    assert len(got) == 50
    qids = [0, 1, 2]
    kw = {"n_cells": 6, "n_probe": 3}
    loc = sorted(map(tuple, S.ivfsq_topk(emb, "vec_id", "embedding", qids,
                                         k=5, local=True, **kw).collect()))
    dist = sorted(map(tuple, S.ivfsq_topk(emb, "vec_id", "embedding", qids,
                                          k=5, local=False, **kw).collect()))
    auto = sorted(map(tuple, S.ivfsq_topk(emb, "vec_id", "embedding", qids,
                                          k=5, **kw).collect()))
    assert loc == dist == auto
    assert len(loc) == 15


def test_cosine_topk_self_excluded(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)] +
        [(9, [1.0, 0.0, 0.0, 0.1])],
        "vec_id long, embedding array<float>")
    out = S.cosine_topk(emb, "vec_id", "embedding", query_ids=[0], k=2).collect()
    assert [r.neighbor_id for r in out] == [9, 1]
    assert all(r.query_id == 0 for r in out)


def test_text_stats_shapes(spark, docs):
    out = TX.text_stats(docs, "doc_id", "text").collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].n_words == 9
    assert by_id[0].stopword_ratio > 0.2           # 'the' twice + 'over'...
    assert by_id[4].n_words == 1
    assert all(0 <= r.quality_score <= 1 for r in out)


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is here"),
         (2, "der hund und die katze ist hier"),
         (3, "xyz qqq zzz")],
        "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in TX.lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_fingerprint_null_for_short_docs(spark, docs):
    out = {r.doc_id: r.min_shingle_hash for r in
           TX.fingerprint(docs, "doc_id", "text").collect()}
    assert out[4] is None and out[0] is not None


def test_multimodal_attach_and_decode_stub(spark, docs):
    wb = M.attach_binary(docs, "text", modality="image")
    meta = wb.select("doc_id", "media_meta.*").collect()[0]
    assert meta.modality == "image" and meta.n_bytes > 0 and len(meta.sha256) == 64
    feats = M.decode_stub(wb, id_col="doc_id", fake=True).collect()
    assert len(feats) == 5
    assert all(len(r.feature) == 8 for r in feats)
    assert all(0.0 <= x <= 1.0 for r in feats for x in r.feature)
    # deterministic
    again = M.decode_stub(wb, id_col="doc_id", fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_decode_stub_requires_fake_flag(spark, docs):
    wb = M.attach_binary(docs, "text")
    with pytest.raises(NotImplementedError):
        M.decode_stub(wb, id_col="doc_id")


def test_simhash_near_dups(spark, docs):
    from kstream_spark.operators.dedup import simhash_pairs, simhash_signatures
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert (0, 2) in pairs and pairs[(0, 2)] == 0    # normalized-identical
    assert all(3 not in p for p in pairs)            # unrelated doc excluded
    sig = simhash_signatures(docs, "doc_id", "text").collect()
    for r in sig:
        for c in range(4):
            assert 0 <= r[f"c{c}"] <= 255            # 8-bit chunks


def test_simhash_shingle_less_docs_and_jvm_tokens(spark):
    """A doc with no shingles (two words, NULL text) has no signature and
    pairs with nothing, and tokens split where the JVM ``word_shingles``
    splits: NBSP is not whitespace, so the NBSP doc's signature is the
    majority vote over exactly the JVM's shingles."""
    import hashlib

    from kstream_spark.functions.text import word_shingles
    df = spark.createDataFrame(
        [(0, "two words"), (1, "two words"), (2, None),
         (3, "w1\xa0w2 tail end of doc")], "doc_id long, text string")
    assert D.simhash_pairs(df, "doc_id", "text", max_hamming=3).collect() \
        == []
    sig = {r.doc_id: [r.c0, r.c1, r.c2, r.c3]
           for r in D.simhash_signatures(df, "doc_id", "text").collect()}
    assert set(sig) == {3}
    sh = df.filter("doc_id = 3").select(
        F.array_distinct(word_shingles(F.col("text"), 3)).alias("s")) \
        .first().s
    assert "w1\xa0w2 tail end" in sh
    votes = [sum(hashlib.md5(s.encode()).hexdigest()[i] >= "8" for s in sh)
             for i in range(D.SIMHASH_BITS)]
    bits = [int(v * 2 >= len(sh)) for v in votes]
    assert sig[3] == [int("".join(map(str, bits[c * 8:(c + 1) * 8])), 2)
                      for c in range(D.SIMHASH_CHUNKS)]


def test_ivf_topk_high_recall_on_probed_cells(spark):
    import random
    random.seed(11)
    rows = [(i, [float(random.gauss(0, 1)) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf = S.ivf_topk(emb, "vec_id", "embedding", query_ids=[50, 60], k=5,
                     n_cells=8, n_probe=8)   # probe all cells -> exact
    brute = S.cosine_topk(emb, "vec_id", "embedding", query_ids=[50, 60], k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    assert got == want                       # full probe == brute force
    part = S.ivf_topk(emb, "vec_id", "embedding", query_ids=[50], k=5,
                      n_cells=8, n_probe=2)
    assert part.count() == 5                 # partial probe still yields k


def test_sample_frames_fanout(spark, docs):
    wb = M.attach_binary(docs, "text", modality="video")
    frames = M.sample_frames(wb, id_col="doc_id", every_n_bytes=16,
                             max_frames=4, fake=True).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[0]) >= 2                      # long doc -> several frames
    assert [r.frame_idx for r in sorted(by_doc[0], key=lambda x: x.frame_idx)] \
        == list(range(len(by_doc[0])))
    assert all(r.byte_offset == r.frame_idx * 16 for r in frames)
    assert len({r.frame_sha for r in by_doc[0]}) == len(by_doc[0])
    with pytest.raises(NotImplementedError):
        M.sample_frames(wb, id_col="doc_id")


def test_resize_meta_prunes_payload(spark, docs):
    from kstream_spark.plans import inspect as P
    wb = M.attach_binary(docs, "text")
    resized = M.resize_meta(wb, 224, 224)
    meta = resized.select("doc_id", "media_meta.target_w").collect()[0]
    assert meta.target_w == 224


def test_connected_components_transitive_chain(spark):
    from kstream_spark.operators.dedup import (connected_components,
                                               dedup_survivors_cc)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (7, 8)],   # chain 1-2-3; 5-6; 7-8-9
        "doc_a long, doc_b long")
    comp = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[7] == comp[8] == comp[9] == 7
    docs = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    kept = {r.doc_id for r in dedup_survivors_cc(pairs, docs, "doc_id").collect()}
    assert kept == {1, 4, 5, 7, 10}


def test_attach_audio_metadata(spark, docs):
    wa = M.attach_audio(docs, "text", sample_rate=8000)
    m = wa.select("media_meta.*").collect()[0]
    assert m.modality == "audio" and m.sample_rate == 8000
    assert abs(m.est_duration_s - m.n_bytes / 16000) < 1e-6


def test_deterministic_split_stability(spark, docs):
    from kstream_spark.operators.sampling import (deterministic_sample,
                                                  train_val_split)
    a = {(r.doc_id, r.split) for r in
         train_val_split(docs, "doc_id", val_pct=40).collect()}
    b = {(r.doc_id, r.split) for r in
         train_val_split(docs.repartition(7), "doc_id", val_pct=40).collect()}
    assert a == b                                  # partition-layout invariant
    assert {s for _, s in a} <= {"train", "val"}
    s1 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 60).collect()}
    s2 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 60).collect()}
    assert s1 == s2


def test_embedding_dedup_drops_higher_id_near_dups(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0]),
         (3, [0.01, 0.999])],
        "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in
            S.embedding_dedup_survivors(emb, "vec_id", "embedding",
                                        threshold=0.9).collect()}
    assert kept == {0, 2}


def test_ivf_kmeans_recall_vs_brute_force(spark):
    from kstream_spark.builder import StreamBuilder
    from kstream_spark.inventory_pipeline import _embs
    emb = _embs(StreamBuilder(spark), "/root/testdata/sf0.001")
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3)
    assert len(cents) == 8
    approx = S.ivf_topk(emb, "vec_id", "embedding", query_ids=[0, 1, 2],
                        k=10, n_probe=3, centroids=cents)
    exact = S.cosine_topk(emb, "vec_id", "embedding", query_ids=[0, 1, 2],
                          k=10)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    # probing 3 of 8 learned cells on near-random vectors: expect most of
    # the true top-10 back (recall floor chosen loose for determinism)
    assert len(a & e) >= 0.5 * len(e)


def test_pii_redact_planted(spark):
    from kstream_spark.operators.text import pii_redact
    df = spark.createDataFrame(
        [(0, "mail me at jo.doe+x@ex-ample.co or call 555-123-4567"),
         (1, "ssn 123-45-6789 stays private"),
         (2, "nothing sensitive here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert out[0].redacted_text == "mail me at <EMAIL> or call <PHONE>"
    assert out[0].n_redactions == 2
    assert out[1].redacted_text == "ssn <SSN> stays private"
    assert out[2].n_redactions == 0


def test_stratified_cap_balances_and_is_deterministic(spark):
    from kstream_spark.operators.sampling import stratified_cap
    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, stratum string")
    got = stratified_cap(df, "doc_id", "stratum", cap=5)
    counts = {r.stratum: r.n for r in
              got.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 5, "small": 5}
    again = {r.doc_id for r in stratified_cap(df, "doc_id", "stratum",
                                              cap=5).collect()}
    assert again == {r.doc_id for r in got.collect()}


def test_incremental_dedup_gates(spark):
    """Exact dup of corpus, near-dup of corpus, batch-internal dup, and a
    genuinely new doc — only the new doc and one batch-dup survivor admit."""
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely different corpus text about spark engines here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),   # exact
         (11, "the quick brown fox jumps over the lazy dog tonight"), # near
         (12, "fresh unseen document with its own words entirely sir"),
         (13, "fresh unseen document with its own words entirely sir"),# batch dup
         (14, "another novel unrelated piece of writing goes here now")],
        "doc_id long, text string")
    got = {r.doc_id for r in D.incremental_dedup(
        new, corpus, "doc_id", "text", threshold=0.5).collect()}
    assert got == {12, 14}


def test_incremental_dedup_state_path_matches_text_path(spark):
    """corpus_state (pre-materialized signatures) must admit exactly the
    same set as re-minhashing the corpus text."""
    from kstream_spark.operators.dedup import (corpus_signatures,
                                               incremental_dedup)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, f"{base} document number {i}") for i in range(10)]
    rows.append((10, rows[0][1]))                      # exact dup of 0
    rows.append((11, rows[1][1].replace("number", "figure")))  # near-dup of 1
    rows.append((12, "a wholly unrelated short text"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cor = docs.filter("doc_id < 10")
    inc = docs.filter("doc_id >= 10")
    direct = {r.doc_id for r in
              incremental_dedup(inc, cor, "doc_id", "text").collect()}
    state = corpus_signatures(cor, "doc_id", "text")
    via_state = {r.doc_id for r in
                 incremental_dedup(inc, cor.limit(0), "doc_id", "text",
                                   corpus_state=state).collect()}
    assert direct == via_state == {12}


def test_centroid_persistence_roundtrip(spark, tmp_path):
    """IVF index lifecycle: train -> save -> load -> search must equal
    searching with the in-memory centroids."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators.similarity import (ivf_topk,
                                                    kmeans_centroids,
                                                    load_centroids,
                                                    save_centroids)
    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    cents = kmeans_centroids(emb, "embedding", k=4, iters=2, id_col="vec_id")
    save_centroids(spark, cents, str(tmp_path / "ivf_index"))
    loaded = load_centroids(spark, str(tmp_path / "ivf_index"))
    assert loaded == cents
    direct = ivf_topk(emb, "vec_id", "embedding", query_ids=[0, 1], k=5,
                      n_probe=2, centroids=cents).collect()
    via_disk = ivf_topk(emb, "vec_id", "embedding", query_ids=[0, 1], k=5,
                        n_probe=2, centroids=loaded).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_disk))


def test_training_partial_reduction_paths_agree(spark):
    """kmeans/PQ training reduces per-partition partials via a direct
    collect (<= 64 partitions) or a distributed posexplode+sum (the
    cluster path).  Forcing the partition count across the threshold
    must leave the trained centroids/codebooks bit-identical — the
    round-6 means are summation-order-insensitive by design."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators.similarity import (kmeans_centroids,
                                                    pq_codebooks)
    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    few, many = emb.repartition(8), emb.repartition(100)
    assert kmeans_centroids(few, "embedding", k=4, iters=2,
                            id_col="vec_id") == \
        kmeans_centroids(many, "embedding", k=4, iters=2, id_col="vec_id")
    assert pq_codebooks(few, "embedding", m=4, k=8, iters=2,
                        id_col="vec_id") == \
        pq_codebooks(many, "embedding", m=4, k=8, iters=2, id_col="vec_id")


def test_per_query_topk_equals_plain_window(spark):
    """_per_query_topk must be BIT-IDENTICAL to the plain rank-window
    form (its exactness argument: (score, id) is a total order, so the
    global top-k is inside the union of per-partition top-k's) —
    checked on seeded random scores with duplicate score values and
    both sort directions, across a multi-partition layout."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kstream_spark.operators.similarity import _per_query_topk

    rng = random.Random(7)
    rows = [(q, i, round(rng.choice([0.1, 0.2, 0.3, rng.random()]), 6))
            for q in range(6) for i in range(400)]
    scored = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, adist double") \
        .repartition(16)
    for asc in (True, False):
        order = F.asc("adist") if asc else F.desc("adist")
        w = W.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
        plain = scored.withColumn(
            "rank", F.row_number().over(w).cast("long")) \
            .filter(F.col("rank") <= 7)
        fast = _per_query_topk(scored, 7, asc=asc)
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, fast.collect())), f"asc={asc}"
    # NaN scores (0/0 cosine on a zero-norm vector) are dropped, never
    # ranked: pandas sorts NaN last while a Spark desc window sorts NaN
    # first — without the guard the two paths would disagree
    nan_rows = spark.createDataFrame(
        [(99, 1, 0.5), (99, 2, float("nan")), (99, 3, 0.1)],
        "query_id long, neighbor_id long, adist double")
    got = [(r.neighbor_id, r.rank) for r in
           _per_query_topk(nan_rows, 2, asc=False)
           .orderBy("rank").collect()]
    assert got == [(1, 1), (3, 2)], got


def test_codebook_persistence_roundtrip(spark, tmp_path):
    """IVF-PQ index lifecycle: train codebooks once -> save -> load ->
    ADC search must equal searching with the in-memory codebooks (the
    train-once/encode-many production path; centroid analog above)."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators.similarity import (load_codebooks,
                                                    pq_adc_topk,
                                                    pq_codebooks,
                                                    save_codebooks)
    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    books = pq_codebooks(emb, "embedding", m=4, k=8, iters=2,
                         id_col="vec_id")
    save_codebooks(spark, books, str(tmp_path / "pq_index"))
    loaded = load_codebooks(spark, str(tmp_path / "pq_index"))
    assert loaded == books
    direct = pq_adc_topk(emb, "vec_id", "embedding", [0, 1], books,
                         k=5).collect()
    via_disk = pq_adc_topk(emb, "vec_id", "embedding", [0, 1], loaded,
                           k=5).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_disk))


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc pasted into a much longer one: containment ~1 in the
    short->long direction, while Jaccard sits far below any dedup bar."""
    para = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, para), (2, para + " " + filler)],
        "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.containment
             for r in D.containment_pairs(df, "doc_id", "text",
                                          threshold=0.9).collect()}
    assert pairs[(1, 2)] == 1.0          # short is fully inside long
    assert (2, 1) not in pairs           # long is NOT inside short
    jac = D.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    assert jac.count() == 0              # jaccard misses this pair entirely


def test_bm25_ranks_term_rich_docs_first(spark):
    df = spark.createDataFrame(
        [(1, "spark spark spark join"),        # query-term dense
         (2, "spark join other words here"),
         (3, "nothing relevant at all here"),
         (4, "spark alone")],
        "doc_id long, text string")
    out = TX.bm25_topk(df, "doc_id", "text", ["spark", "join"], k=3).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1                   # most matches ranks first
    assert 3 not in ids[:2]              # no-match doc can't outrank matches
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_embedding_dedup_warns_on_large_exact_default(spark, monkeypatch):
    """Above the size threshold, the exact O(n^2) default must nudge the
    caller toward the LSH pair generator (operators/similarity)."""
    import warnings
    import kstream_spark.util as U
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    monkeypatch.setattr(U, "plan_size_bytes", lambda df: 200 << 20)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.embedding_dedup_survivors(emb, "vec_id", "embedding", threshold=0.9)
        assert any("lsh_cosine_pairs" in str(x.message) for x in w)
    # small input (or explicit pair_fn): silent
    monkeypatch.setattr(U, "plan_size_bytes", lambda df: 1 << 20)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.embedding_dedup_survivors(emb, "vec_id", "embedding", threshold=0.9)
        assert not [x for x in w if issubclass(x.category, RuntimeWarning)]


def test_decontaminate_embedding_drops_planted_leak(spark):
    """A corpus vector colinear with an eval vector must be dropped; an
    orthogonal one must survive.  The plan must broadcast the eval side
    and never shuffle the corpus (left-anti nested loop)."""
    ev = spark.createDataFrame([(100, [1.0, 0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    cor = spark.createDataFrame(
        [(1, [0.99, 0.01, 0.0]),     # near-copy of the eval vector -> leak
         (2, [0.0, 1.0, 0.0]),       # orthogonal -> clean
         (3, [0.0, 0.0, -1.0])],     # orthogonal -> clean
        "vec_id long, embedding array<double>")
    out = S.decontaminate_embedding(cor, ev, "vec_id", "embedding",
                                    threshold=0.9)
    assert sorted(r.vec_id for r in out.collect()) == [2, 3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_semantic_dedup_drops_within_cluster_near_dups(spark):
    # two tight groups on orthogonal axes + one isolated vector: k-means
    # with k=2 separates the groups; within each, the lower id survives
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.999, 0.0, 0.0]),   # near-dup of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(emb, "vec_id", "embedding", k=2, iters=2,
                           threshold=0.95)
    ids = {r["vec_id"] for r in out.collect()}
    assert ids == {0, 2}


def test_semantic_dedup_never_crosses_clusters(spark):
    # identical vectors land in the SAME cluster by construction, so the
    # survivor set equals exact embedding dedup's on this input
    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
            for i in range(9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(emb, "vec_id", "embedding", k=3, iters=2,
                           threshold=0.99)
    assert {r["vec_id"] for r in out.collect()} == {0, 1, 2}


def test_similarity_generic_over_string_ids(spark):
    """lsh_cosine_pairs / semantic_dedup / embedding_dedup_survivors work
    on string-keyed corpora: the applyInPandas output schema derives the
    id type from the input instead of hard-coding long (r4 advice)."""
    rows = [
        ("doc-a", [1.0, 0.0, 0.0, 0.0]),
        ("doc-b", [0.999, 0.01, 0.0, 0.0]),   # near-dup of doc-a
        ("doc-c", [0.0, 1.0, 0.0, 0.0]),
        ("doc-d", [0.01, 0.999, 0.0, 0.0]),   # near-dup of doc-c
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    pairs = {(r.id_a, r.id_b) for r in
             S.lsh_cosine_pairs(emb, "vec_id", "embedding", threshold=0.95,
                                planes=4, tables=8).collect()}
    assert ("doc-a", "doc-b") in pairs and ("doc-c", "doc-d") in pairs
    surv = S.embedding_dedup_survivors(emb, "vec_id", "embedding",
                                       threshold=0.95,
                                       pair_fn=S.lsh_cosine_pairs)
    assert {r.vec_id for r in surv.collect()} == {"doc-a", "doc-c"}
    sem = S.semantic_dedup(emb, "vec_id", "embedding", k=2, iters=2,
                           threshold=0.95)
    assert {r.vec_id for r in sem.collect()} == {"doc-a", "doc-c"}


def test_np_round6_half_up_matches_sql_convention():
    """numpy default rounding is half-to-even; the helper must round half
    AWAY FROM ZERO to match Spark F.round / DuckDB round()."""
    import numpy as np
    a = np.array([0.0000005, 0.0000015, -0.0000005, 1.2345675, 0.1])
    out = S.np_round6_half_up(a)
    assert out.tolist() == [0.000001, 0.000002, -0.000001, 1.234568, 0.1]
    # np.round would give 0.0 / 0.000002 / -0.0 (banker's) for the first 3
    assert np.round(a[0], 6) == 0.0


def test_winnow_guarantee_and_offset_invariance(spark):
    from kstream_spark.operators.dedup import winnow_pairs
    # docs 1/2 share a verbatim 8-token run at DIFFERENT offsets; with
    # k=4, window=4 the winnowing guarantee covers runs >= w+k-1 = 7
    run = "q w e r t y u i"
    rows = [
        (1, f"{run} zz xx cc vv"),
        (2, f"aa bb {run} dd"),
        (3, "mm nn oo pp qq rr ss tt uu vv ww"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b)
             for r in winnow_pairs(df, "doc_id", "text",
                                   k=4, window=4).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_short_docs(spark):
    from kstream_spark.operators.dedup import winnow_pairs
    # shorter than k tokens -> no fingerprints, never crashes; identical
    # short-but->=k docs still pair via the global-min fingerprint
    rows = [(1, "a b"), (2, "a b"), (3, "x y z w u"), (4, "x y z w u")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b)
             for r in winnow_pairs(df, "doc_id", "text",
                                   k=4, window=4).collect()}
    assert pairs == {(3, 4)}


def test_hard_negatives_excludes_same_label(spark):
    rows = [
        (0, [1.0, 0.0], 1),   # query, label 1
        (1, [0.99, 0.1], 1),  # MOST similar but same label -> excluded
        (2, [0.9, 0.2], 2),   # different label -> hardest negative
        (3, [0.0, 1.0], 2),   # different label, far -> ranked after 2
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = S.hard_negatives(emb, "vec_id", "embedding", "label",
                           query_ids=[0], k=5).collect()
    ids = [r["neg_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [2, 3]


def test_pq_roundtrip_recovers_cluster_structure(spark):
    """PQ codes must separate well-separated clusters: vectors from the
    same tight cluster share codes; ADC ranks a query's own-cluster
    members first."""
    import numpy as np
    rng = np.random.default_rng(3)
    rows = []
    centers = np.eye(4, 8) * 10          # 4 tight clusters in 8-d
    for i in range(40):
        c = i % 4
        v = centers[c] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = S.pq_codebooks(emb, "embedding", m=2, k=4, iters=3,
                           id_col="vec_id")
    assert len(books) == 2 and len(books[0]) == 4 and len(books[0][0]) == 4
    out = S.pq_adc_topk(emb, "vec_id", "embedding", [0, 1], books, k=9)
    for q in (0, 1):
        neigh = [r.neighbor_id for r in out.collect()
                 if r.query_id == q and r.rank <= 9]
        same = [n for n in neigh if n % 4 == q % 4]
        assert len(same) == 9      # all 9 own-cluster members rank first


def test_pq_codebooks_deterministic_and_dim_guard(spark):
    import pytest
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>")
    b1 = S.pq_codebooks(emb, "embedding", m=2, k=3, iters=2, id_col="vec_id")
    b2 = S.pq_codebooks(emb.repartition(5), "embedding", m=2, k=3, iters=2,
                        id_col="vec_id")
    assert b1 == b2
    with pytest.raises(ValueError):
        S.pq_codebooks(emb, "embedding", m=3, k=2, iters=1, id_col="vec_id")


def test_ivfpq_full_probe_equals_plain_adc(spark):
    """Probing ALL cells makes IVF-PQ's candidate set the whole corpus, so
    its output must equal plain pq_adc_topk exactly (same books)."""
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.kmeans_centroids(emb, "embedding", k=4, iters=2,
                               id_col="vec_id")
    books = S.pq_codebooks(emb, "embedding", m=2, k=8, iters=2,
                           id_col="vec_id")
    full = S.ivfpq_topk(emb, "vec_id", "embedding", [0, 1], cents, books,
                        k=5, n_probe=4)
    plain = S.pq_adc_topk(emb, "vec_id", "embedding", [0, 1], books, k=5)
    got = {(r.query_id, r.neighbor_id, r.adist, r.rank)
           for r in full.collect()}
    want = {(r.query_id, r.neighbor_id, r.adist, r.rank)
            for r in plain.collect()}
    assert got == want


def test_phash_dedup_finds_jitter_copies_banded(spark):
    """dHash + Hamming-LSH banding: a +/-1-jittered re-encode of an image
    lands within max_hamming of its original and is recovered via the
    band join; an unrelated image is not paired.  With max_hamming <=
    bands-1 banding is complete (pigeonhole), so the pair set is exact.
    The candidate plan must be the banded equi-join — no cartesian."""
    from kstream_spark.operators import multimodal as M

    # smooth ramp image (like a real photo), a re-encode with two
    # corrupted pixels (flips exactly 2 gradient bits -> hamming 2), and
    # an unrelated high-contrast checkerboard
    grad = [4 * k for k in range(72)]
    jit = list(grad)
    jit[10] += 6
    jit[20] += 6
    checker = [255 * ((k // 9 + k) % 2) for k in range(72)]
    df = spark.createDataFrame(
        [(1, grad), (2, jit), (3, checker)],
        "img_id long, pixels array<int>")
    out = M.phash_pairs(df, "img_id", "pixels", max_hamming=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = [(r.img_a, r.img_b, r.hamming) for r in out.collect()]
    assert rows == [(1, 2, 2)], rows
    # identical images: hamming 0
    same = spark.createDataFrame([(1, grad), (2, list(grad))],
                                 "img_id long, pixels array<int>")
    got = M.phash_pairs(same, "img_id", "pixels").collect()
    assert [(r.img_a, r.img_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_fake_decode_image_segment_means(spark):
    """The stub thumbnailer: pixel k is the integer mean char code of
    segment k — exact integer arithmetic, length-normalized (same-text
    docs of different lengths still thumbnail deterministically)."""
    from kstream_spark.operators import multimodal as M
    df = spark.createDataFrame([(1, "ab" * 72)], "doc_id long, text string")
    px = M.fake_decode_image(df, "doc_id", "text", n_px=72) \
        .collect()[0]["pixels"]
    assert len(px) == 72
    # each segment holds exactly 'ab' -> mean (97+98)//2 = 97
    assert set(px) == {97}


def _segments(text, n_seg, mean):
    """Reference decode stub: n_seg integer segment sums (or floor
    means) of the char codes, bounds (k*n) // n_seg; NULL text -> NULLs."""
    if text is None:
        return [None] * n_seg
    n = len(text)
    out = []
    for k in range(n_seg):
        seg = [ord(c) for c in text[k * n // n_seg:(k + 1) * n // n_seg]]
        out.append(sum(seg) // max(len(seg), 1) if mean else sum(seg))
    return out


def test_fake_decode_matches_reference(spark):
    """The decode stubs must match a plain-Python segment sum/mean on
    every row — the thumbnails/envelopes they emit feed the Hamming-band
    dedup hashes, so one differing segment silently changes candidate
    generation.  Hostile rows: NULL text (every segment NULL), empty
    text (zeros), text shorter than n_seg, BMP non-ASCII and astral
    chars (full-codepoint ord), plus a normal long payload.  Covers both
    the mean (image) and sum (audio) shapes."""
    from kstream_spark.operators import multimodal as M
    rows = [(1, "ab" * 72), (2, None), (3, ""), (4, "xy"),
            (5, "héllo wörld" * 20), (6, "a\U0001F600é" * 40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, kw, col, mean in (
            (M.fake_decode_image, {"n_px": 8}, "pixels", True),
            (M.fake_decode_audio, {"n_seg": 8}, "energies", False)):
        got = {r["doc_id"]: r[col] for r in
               fn(df, "doc_id", "text", **kw).collect()}
        assert got == {i: _segments(t, 8, mean) for i, t in rows}
        assert got[2] == [None] * 8          # NULL text -> NULL segments
        assert got[3] == [0] * 8             # empty text -> zero segments


def test_afp_dedup_survives_reencode_jitter_banded(spark):
    """Haitsma-Kalker fingerprint: a small energy jitter (re-encode
    artifact) stays within max_hamming and is recovered via the shared
    band join; an unrelated clip is not paired; identical clips hash to
    hamming 0.  Candidates come from the banded equi-join, no cartesian."""
    from kstream_spark.operators import multimodal as M

    # curved energy envelope (80 = 16 frames x 5 bands): k^2 gives a
    # constant second difference of -10 across the frame lag, so every
    # HK bit is stable under a +/-1 re-encode jitter (|delta d| <= 4);
    # the alternating envelope flips sign with frame parity instead
    env = [k * k for k in range(80)]
    jit = [e + (k % 3 - 1) for k, e in enumerate(env)]
    noise = [1000 + 500 * (k % 2) for k in range(80)]
    df = spark.createDataFrame(
        [(1, env), (2, jit), (3, noise)],
        "clip_id long, energies array<int>")
    out = M.afp_pairs(df, "clip_id", "energies", max_hamming=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = [(r.clip_a, r.clip_b) for r in out.collect()]
    assert (1, 2) in rows and (1, 3) not in rows and (2, 3) not in rows
    same = spark.createDataFrame([(1, env), (2, list(env))],
                                 "clip_id long, energies array<int>")
    got = M.afp_pairs(same, "clip_id", "energies").collect()
    assert [(r.clip_a, r.clip_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_frame_overlap_pairs_recovers_trimmed_copy(spark):
    """A time-shifted clip shares most exact frame hashes with its
    original and is paired; an unrelated clip is not; candidates come
    from the fingerprint equi-join (no cartesian)."""
    from kstream_spark.operators import multimodal as M
    rows = [(1, f"f{i}") for i in range(8)] + \
        [(2, f"f{i}") for i in range(1, 9)] + \
        [(3, f"g{i}") for i in range(8)]
    df = spark.createDataFrame(rows, "clip_id long, h string")
    out = M.frame_overlap_pairs(df, "clip_id", "h", min_shared=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = [(r.clip_a, r.clip_b, r.n_shared) for r in out.collect()]
    assert got == [(1, 2, 7)]


def test_cdc_chunks_matches_sql_oracle_and_covers(spark):
    """cdc_chunks (numpy sliding dot) derives the same chunks as the
    inventory's DuckDB oracle SQL on the same rows, including non-ASCII
    and shorter-than-window rows; chunks tile each document exactly;
    inserting a byte early in a doc shifts at most the chunks around the
    edit (the shift-resistance fixed-size blocking lacks)."""
    import random
    import string

    import duckdb
    import pandas as pd
    from kstream_spark.inventory_pipeline import _cdc_sql
    from kstream_spark.operators.dedup import cdc_chunks
    random.seed(3)
    txt = "".join(random.choice(string.ascii_lowercase + " ")
                  for _ in range(400))
    rows = [(1, txt), (2, "x" + txt), (3, "sh"), (4, "é" * 40),
            (5, "ünï" + txt[:90] + "ç")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = cdc_chunks(df, "doc_id", "text").toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    # chunk level: the oracle's `ch` CTE (one row per chunk)
    sql = _cdc_sql()
    chunk_sql = sql[:sql.index(",\nper AS")] + \
        "\nSELECT doc_id, chunk_md5, chunk_len FROM ch"
    ref = sorted(con.execute(chunk_sql).fetchall())
    assert sorted(zip(a.doc_id, a.chunk_md5, a.chunk_len)) == ref
    # tiling: per doc, chunks are contiguous and cover [0, len)
    for doc_id, g in a.groupby("doc_id"):
        g = g.sort_values("chunk_start")
        assert g["chunk_start"].iloc[0] == 0
        assert (g["chunk_start"] + g["chunk_len"]).iloc[-1] == \
            len(dict(rows)[doc_id])
        assert ((g["chunk_start"] + g["chunk_len"]).iloc[:-1].values
                == g["chunk_start"].iloc[1:].values).all()
    # shift resistance: docs 1 and 2 share most chunk hashes
    h1 = set(a[a.doc_id == 1]["chunk_md5"])
    h2 = set(a[a.doc_id == 2]["chunk_md5"])
    assert len(h1 & h2) >= max(1, len(h1) - 2)
