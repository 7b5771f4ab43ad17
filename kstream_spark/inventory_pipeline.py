"""Data-pipeline query inventory: dedup, similarity search, text analysis,
multimodal — the 100 TB training-data operators (BASELINE.json north-star).

Oracle parity notes:
  * all hashes are md5 hex strings — DuckDB reproduces Spark signatures
    bit-for-bit, so even the MinHash+LSH pipeline has an exact SQL oracle;
  * counts are cast to BIGINT on the Spark side (DuckDB len()/count() are
    BIGINT natively);
  * every computed double is rounded in-query on BOTH sides; ranks order by
    the ROUNDED value with id tie-breaks (deterministic across engines);
  * DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder
from kstream_spark.functions.text import RE2_WS
from kstream_spark.operators import dedup as D
from kstream_spark.operators import multimodal as M
from kstream_spark.operators import similarity as S
from kstream_spark.operators import text as TX
from kstream_spark.util import collect_freeing, local_df

# shared DuckDB CTE fragments: words + distinct 3-word shingles
_W = (f"w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words "
      "FROM documents)")
_SH = ("sh AS (SELECT DISTINCT doc_id, "
       "unnest(list_transform(range(1, greatest(len(words)-2, 0)+1), "
       "i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)")
_NORM = f"md5(regexp_replace(lower(text), '{RE2_WS}', ' ', 'g'))"


def _docs(b: StreamBuilder, sf: str) -> DataFrame:
    return b.table(f"{sf}/documents.parquet", name="documents").to_df()


def _embs(b: StreamBuilder, sf: str) -> DataFrame:
    return b.table(f"{sf}/embeddings.parquet", name="embeddings").to_df()


# -- dedup ------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(_docs(StreamBuilder(spark), sf), "doc_id", "text")


SQL_DEDUP_EXACT = f"""
SELECT min(doc_id) AS doc_id, {_NORM} AS content_hash, count(*) AS group_size
FROM documents GROUP BY 2
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # lazy return, same contract as q_dedup_winnow: the pair list is
    # large enough that collect_freeing's driver materialization costs
    # more than it frees (r13 A/B at sf0.1: 0.78 s lazy vs 2.46 s
    # collected); sweep/bench harnesses clearCache between queries,
    # which releases the operator's sized-index persist
    return D.ngram_jaccard_pairs(_docs(StreamBuilder(spark), sf),
                                 "doc_id", "text", n=3, threshold=0.8)


def q_dedup_prefix_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard
    (operators/dedup.prefix_jaccard_pairs): index only each doc's
    |x|-ceil(t|x|)+1 rarest shingles; candidates shrink ~t-fold and the
    rare-first ordering kills the hot-key fan-out the full index needs
    max_shingle_df for.  The oracle is DELIBERATELY the brute-force
    full-index SQL (same as dedup_ngram_jaccard) — hash equality proves
    the filter is lossless."""
    # pair list is bounded (verified near-dups, not the corpus) —
    # materialize it so the operator's per-doc cache frees with the query
    caches: list = []
    out = D.prefix_jaccard_pairs(_docs(StreamBuilder(spark), sf),
                                 "doc_id", "text", n=3, threshold=0.8,
                                 caches=caches)
    return collect_freeing(out, *caches)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_W}, {_SH},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= 0.8
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(StreamBuilder(spark), sf),
                               "doc_id", "text", n=3, threshold=0.8)


def _minhash_sql() -> str:
    nh, bands = D.NUM_HASHES, D.BANDS
    rows = nh // bands
    mins = ", ".join(f"min(md5('{i}:' || s)) AS h{i}" for i in range(nh))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
            b=b, cat=" || ".join(f"h{b * rows + r}" for r in range(rows)))
        for b in range(bands))
    return f"""
WITH {_W}, {_SH},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
          GROUP BY 1, 2)
SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= 0.8
"""


def q_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(StreamBuilder(spark), sf)
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return D.dedup_survivors(pairs, docs, "doc_id").select("doc_id")


def _survivors_sql() -> str:
    return (
        "WITH pairs AS (" + _minhash_sql() + ")\n"
        "SELECT doc_id FROM documents WHERE doc_id NOT IN "
        "(SELECT doc_b FROM pairs)"
    )


# -- text analysis ----------------------------------------------------------
def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    return TX.text_stats(_docs(StreamBuilder(spark), sf), "doc_id", "text")


_STOP = ", ".join(f"'{s}'" for s in TX.STOPWORDS)

SQL_TEXT_QUALITY = f"""
WITH {_W},
base AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_tokens,
    CAST(length(d.text) AS BIGINT) AS n_chars_measured,
    round(length(regexp_replace(d.text, '\\s', '', 'g'))
          / greatest(len(words), 1), 6) AS mean_word_len,
    round(len(list_filter(words, x -> list_contains([{_STOP}], x)))
          / greatest(len(words), 1), 6) AS stopword_ratio,
    round(length(regexp_replace(d.text, '[^.,;:!?]', '', 'g'))
          / greatest(length(d.text), 1), 6) AS punct_ratio
  FROM documents d JOIN w USING (doc_id))
SELECT doc_id, n_words, n_tokens, n_chars_measured, mean_word_len,
       stopword_ratio, punct_ratio,
       round(least(stopword_ratio * 4, 1.0) * 0.5
             + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                    THEN 0.5 ELSE 0.2 END
             - least(punct_ratio * 2, 0.5), 6) AS quality_score
FROM base
"""


def q_text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return TX.lang_id(_docs(StreamBuilder(spark), sf), "doc_id", "text")


def _lang_sql() -> str:
    score_cols = ", ".join(
        "CAST(len(list_filter(words, x -> list_contains([{m}], x))) AS BIGINT)"
        " AS score_{l}".format(
            m=", ".join(f"'{w}'" for w in ws), l=lang)
        for lang, ws in TX.LANG_MARKERS.items())
    langs = list(TX.LANG_MARKERS)
    g = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE WHEN " + g + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {g} THEN '{l}'" for l in langs) + " ELSE 'und' END"
    return f"""
WITH {_W},
sc AS (SELECT doc_id, {score_cols} FROM w)
SELECT doc_id, {', '.join(f'score_{l}' for l in langs)}, {case} AS pred_lang
FROM sc
"""


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return TX.fingerprint(_docs(StreamBuilder(spark), sf), "doc_id", "text")


SQL_TEXT_FINGERPRINT = f"""
WITH {_W}, {_SH},
msh AS (SELECT doc_id, min(md5(s)) AS m FROM sh GROUP BY doc_id)
SELECT d.doc_id, {_NORM} AS content_hash, msh.m AS min_shingle_hash
FROM documents d LEFT JOIN msh ON d.doc_id = msh.doc_id
"""


# -- similarity search ------------------------------------------------------
def q_sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = _embs(StreamBuilder(spark), sf)
    return S.cosine_topk(emb, "vec_id", "embedding",
                         query_ids=list(range(5)), k=10)


SQL_SIM_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings),
s AS (SELECT query_id, neighbor_id,
        round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * nv[i]))
              / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                 * sqrt(list_sum(list_transform(nv, x -> x * x)))), 6) AS cos
      FROM q, c WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= 10
"""


def q_sim_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return S.cosine_pairs(_embs(StreamBuilder(spark), sf), "vec_id", "embedding",
                          threshold=0.4)


SQL_SIM_COSINE_PAIRS = """
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(range(1, len(a.embedding)+1),
                                       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
                  * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cos >= 0.4
"""


def q_sim_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed near-dup (scale path) — exact-verified candidates, full
    SQL oracle: hyperplanes are md5-derived dyadic rationals
    (similarity.md5_plane_matrix), so DuckDB re-derives the identical
    signature bits and the whole bucket->verify pipeline hash-matches.

    planes/tables tuned for the 0.4 threshold (test embeddings carry no
    planted near-dups; max pairwise cos ~0.51): 6 planes x 12 tables gives
    ~54% recall at cos=0.4 — nonzero, deterministic output at every SF."""
    return S.lsh_cosine_pairs(_embs(StreamBuilder(spark), sf), "vec_id",
                              "embedding", threshold=0.4, planes=6, tables=12,
                              plane_source="md5")


def _lsh_sql(dim: int = 64, planes: int = 6, tables: int = 12,
             seed: int = 42, threshold: float = 0.4) -> str:
    """DuckDB replica of lsh_cosine_pairs(plane_source='md5'): derive the
    same plane matrix from md5, rebuild per-table signatures, bucket-join,
    exact-verify.  Dots are rounded to 6 dp before the sign test on both
    sides, so summation-order noise cannot flip a bit."""
    nbits = planes * tables
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (SELECT dd.d AS d, jj.j AS j,
         CAST(('0x' || substr(md5('{seed}:' || CAST(dd.d AS VARCHAR) || ':'
                                  || CAST(jj.j AS VARCHAR)), 1, 8))
              AS UBIGINT) / 4294967296.0 - 0.5 AS p
       FROM range(0, {dim}) dd(d) CROSS JOIN range(0, {nbits}) jj(j)),
comp AS (SELECT vec_id, dd.d AS d, v[dd.d + 1] AS x
         FROM e CROSS JOIN range(0, {dim}) dd(d)),
dot AS (SELECT vec_id, j, round(sum(x * p), 6) AS s
        FROM comp JOIN pl USING (d) GROUP BY vec_id, j),
bits AS (SELECT vec_id, j // {planes} AS t,
           string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                      ORDER BY j) AS sig
         FROM dot GROUP BY vec_id, j // {planes}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bits a JOIN bits b
           ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
SELECT * FROM (
  SELECT c.id_a, c.id_b,
         round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[],
                                               x -> x * x)))
                  * sqrt(list_sum(list_transform(b.embedding::DOUBLE[],
                                                 x -> x * x)))), 6) AS cos
  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
  JOIN embeddings b ON b.vec_id = c.id_b
) WHERE cos >= {threshold}
"""


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: survivors after dropping any vector
    with a lower-id neighbor at cos >= 0.4 (exact pair generation here so
    the oracle can reproduce it; lsh_cosine_pairs is the drop-in scale
    path)."""
    emb = _embs(StreamBuilder(spark), sf)
    return S.embedding_dedup_survivors(emb, "vec_id", "embedding",
                                       threshold=0.4) \
        .select("vec_id", "label")


SQL_DEDUP_EMBEDDING = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(range(1, len(a.embedding)+1),
                                      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
              / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
                 * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))), 6)
        >= 0.4)
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT id_b FROM pairs)
"""


def q_sim_ivf_kmeans_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF with LEARNED centroids: 3 Lloyd's iterations (distributed
    assignment, driver only ever sees the k x dim centroid matrix), then
    cell-probed top-k.  Approximate w.r.t. brute force but fully
    DETERMINISTIC (id-ordered seeds, round-6 parity at every k-means step —
    see kmeans_centroids), so the SQL oracle replays the identical
    train -> quantize -> probe -> rank pipeline; recall vs brute force is
    asserted in tests/test_pipeline.py."""
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    return S.ivf_topk(emb, "vec_id", "embedding",
                      query_ids=list(range(5)), k=10, n_probe=3,
                      centroids=cents)


def _lloyd_cells_cte(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Shared DuckDB CTE chain replaying kmeans_centroids + the nearest-cell
    assignment: Lloyd's unrolled ``iters`` times over component-exploded
    vectors with the same round-6 discipline at every step (seed normalize,
    assignment score, cell mean, centroid re-normalize).  Yields CTEs
    ``comp`` (vec_id, d, x, nrm) and ``assigned`` (vec_id, cell_id) for the
    consumer to build on (IVF probe phase, SemDeDup pair phase).  Empty or
    degenerate cells keep the previous centroid, exactly like the Spark
    update loop."""
    its = []
    for t in range(iters):
        its.append(f"""
dot{t} AS (SELECT cm.vec_id, c.cell,
             round(sum((cm.x / cm.nrm) * c.c), 6) AS s
           FROM comp cm JOIN c{t} c USING (d)
           GROUP BY cm.vec_id, c.cell),
asg{t} AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, cell) AS rn
             FROM dot{t}) WHERE rn = 1),
mean{t} AS (SELECT a.cell, cm.d, round(avg(cm.x), 6) AS m
            FROM asg{t} a JOIN comp cm USING (vec_id)
            GROUP BY a.cell, cm.d),
mnorm{t} AS (SELECT cell, sqrt(sum(m * m)) AS mn FROM mean{t} GROUP BY cell),
c{t + 1} AS (SELECT p.cell, p.d,
               CASE WHEN mn.mn > 1e-12 THEN round(me.m / mn.mn, 6)
                    ELSE p.c END AS c
             FROM c{t} p
             LEFT JOIN mean{t} me ON me.cell = p.cell AND me.d = p.d
             LEFT JOIN mnorm{t} mn ON mn.cell = p.cell)""")
    lloyd = ",".join(its)
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nv AS (SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
comp AS (SELECT vec_id, dd.d AS d, v[dd.d + 1] AS x, nrm
         FROM nv CROSS JOIN range(0, {dim}) dd(d)),
seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
          FROM e ORDER BY vec_id LIMIT {k}),
c0 AS (SELECT s.cell, cm.d, round(cm.x / cm.nrm, 6) AS c
       FROM seeds s JOIN comp cm USING (vec_id)),{lloyd},
cent AS (SELECT cell AS cell_id, d, c FROM c{iters}),
cnorm AS (SELECT cell_id, sqrt(sum(c * c)) AS cn FROM cent GROUP BY cell_id),
cos_ac AS (SELECT cm.vec_id, ct.cell_id,
             round(sum(cm.x * ct.c) / (max(cm.nrm) * max(cn.cn)), 6) AS cell_cos
           FROM comp cm JOIN cent ct USING (d)
           JOIN cnorm cn ON cn.cell_id = ct.cell_id
           GROUP BY cm.vec_id, ct.cell_id),
assigned AS (SELECT vec_id, cell_id FROM (
               SELECT vec_id, cell_id,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cell_cos DESC, cell_id) AS rn
               FROM cos_ac) WHERE rn = 1)"""


def _kmeans_ivf_sql(k: int = 8, iters: int = 3, dim: int = 64,
                    n_probe: int = 3, topk: int = 10,
                    query_ids: str = "0, 1, 2, 3, 4") -> str:
    """DuckDB replay of kmeans_centroids + ivf_topk: the shared Lloyd's /
    assignment chain (_lloyd_cells_cte), then the IVF probe/rank phase."""
    return f"""
WITH {_lloyd_cells_cte(k, iters, dim)},
probes AS (SELECT vec_id AS query_id, cell_id FROM (
             SELECT vec_id, cell_id,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cell_cos DESC, cell_id) AS rn
             FROM cos_ac WHERE vec_id IN ({query_ids}))
           WHERE rn <= {n_probe}),
scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
             round(sum(cq.x * cb.x) / (max(cq.nrm) * max(cb.nrm)), 6) AS cos
           FROM probes p JOIN assigned a USING (cell_id)
           JOIN comp cq ON cq.vec_id = p.query_id
           JOIN comp cb ON cb.vec_id = a.vec_id AND cb.d = cq.d
           WHERE p.query_id <> a.vec_id
           GROUP BY p.query_id, a.vec_id)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= {topk}
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup dedup on the SCALE path: LSH-bucketed candidate
    pairs (md5-derived hyperplanes -> oracle reproduces the signatures),
    exact-cosine verify, then the same lower-id-survives rule as
    dedup_embedding.  Registering this separately makes the 100 TB ANN-dedup
    shape itself a driver-proven path, not just the O(n^2) baseline."""
    emb = _embs(StreamBuilder(spark), sf)

    def lsh_pairs(e, id_col, vec_col, threshold):
        return S.lsh_cosine_pairs(e, id_col, vec_col, threshold=threshold,
                                  planes=6, tables=12, plane_source="md5")

    return S.embedding_dedup_survivors(emb, "vec_id", "embedding",
                                       threshold=0.4, pair_fn=lsh_pairs) \
        .select("vec_id", "label")


def _dedup_embedding_lsh_sql() -> str:
    return (
        "WITH pairs AS (" + _lsh_sql() + ")\n"
        "SELECT vec_id, label FROM embeddings\n"
        "WHERE vec_id NOT IN (SELECT id_b FROM pairs)"
    )


# -- multimodal -------------------------------------------------------------
def q_mm_binary_meta(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(StreamBuilder(spark), sf)
    with_bin = M.attach_binary(docs, "text", modality="image")
    return with_bin.select(
        "doc_id",
        F.col("media_meta.modality").alias("modality"),
        F.col("media_meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
    )


SQL_MM_BINARY_META = """
SELECT doc_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


PIPELINE_INVENTORY: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    # prefix-filtered variant: SAME oracle as the brute-force full-index
    # query — the hash match is the filter's no-loss proof
    "dedup_prefix_jaccard": (q_dedup_prefix_jaccard,
                             SQL_DEDUP_NGRAM_JACCARD),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, _minhash_sql()),
    "dedup_survivors": (q_dedup_survivors, _survivors_sql()),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_lang_id": (q_text_lang_id, _lang_sql()),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "sim_cosine_topk": (q_sim_cosine_topk, SQL_SIM_COSINE_TOPK),
    "sim_cosine_pairs": (q_sim_cosine_pairs, SQL_SIM_COSINE_PAIRS),
    "sim_lsh_pairs": (q_sim_lsh_pairs, _lsh_sql()),
    "sim_ivf_kmeans_topk": (q_sim_ivf_kmeans_topk, _kmeans_ivf_sql()),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup_embedding_lsh": (q_dedup_embedding_lsh, _dedup_embedding_lsh_sql()),
    "mm_binary_meta": (q_mm_binary_meta, SQL_MM_BINARY_META),
}


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup components over MinHash+LSH pairs (fixpoint clustering —
    correct transitive survivor semantics)."""
    docs = _docs(StreamBuilder(spark), sf)
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return D.connected_components(pairs)


def _clusters_sql() -> str:
    # recursive CTE: a node's cluster id = min doc id among all reachable
    return (
        "WITH RECURSIVE pairs AS (" + _minhash_sql() + "),\n"
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs\n"
        "          UNION SELECT doc_b, doc_a FROM pairs),\n"
        "reach(node, label) AS (\n"
        "  SELECT src, src FROM edges\n"
        "  UNION\n"
        "  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)\n"
        "SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node"
    )


PIPELINE_INVENTORY["dedup_clusters"] = (q_dedup_clusters, _clusters_sql())


def q_train_val_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split counts per split."""
    from kstream_spark.operators.sampling import train_val_split
    docs = _docs(StreamBuilder(spark), sf)
    return (train_val_split(docs, "doc_id", val_pct=10, test_pct=10)
            .groupBy("split").agg(F.count("*").alias("n"),
                                  F.min("doc_id").alias("min_id")))


def _split_sql() -> str:
    # DuckDB lacks conv(); reconstruct the 8-hex-digit value positionally
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8))
    return f"""
WITH hashed AS (
  SELECT doc_id, md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
bucketed AS (SELECT doc_id, ({digits}) % 100 AS b FROM hashed)
SELECT CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n, min(doc_id) AS min_id
FROM bucketed GROUP BY 1
"""


PIPELINE_INVENTORY["sample_train_val_split"] = (q_train_val_split, _split_sql())


def q_text_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub pass over the corpus (SSN/phone/email -> tokens)."""
    return TX.pii_redact(_docs(StreamBuilder(spark), sf), "doc_id", "text")


SQL_TEXT_PII_REDACT = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
         AS redacted_text,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
            + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
            + len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_redactions
FROM documents
"""


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Balanced per-source downsampling: at most 10 docs per source by
    deterministic hash rank."""
    from kstream_spark.operators.sampling import stratified_cap
    docs = _docs(StreamBuilder(spark), sf)
    return stratified_cap(docs, "doc_id", "source", cap=10) \
        .select("doc_id", "source", "lang")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents)
WHERE rn <= 10
"""


def q_pipeline_training_set(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-set assembly — the composed pipeline a corpus
    build runs: quality gate -> exact-dedup survivors -> deterministic
    split, summarized per (split, lang).  Each stage is its own
    oracle-checked operator; this query checks their composition."""
    from kstream_spark.operators.sampling import train_val_split
    docs = _docs(StreamBuilder(spark), sf)
    stats = TX.text_stats(docs, "doc_id", "text") \
        .select("doc_id", "quality_score")
    survivors = D.exact_dedup(docs, "doc_id", "text").select("doc_id")
    kept = (docs.join(stats, "doc_id")
            .join(survivors, "doc_id", "left_semi")
            .filter(F.col("quality_score") >= 0.4))
    return (train_val_split(kept, "doc_id", val_pct=10, test_pct=10)
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("quality_score"), 6).alias("avg_quality")))


def _training_set_sql() -> str:
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8))
    return f"""
WITH q AS (SELECT * FROM ({SQL_TEXT_QUALITY})),
surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM}),
kept AS (
  SELECT d.doc_id, d.lang, q.quality_score
  FROM documents d JOIN q USING (doc_id) JOIN surv USING (doc_id)
  WHERE q.quality_score >= 0.4),
hashed AS (SELECT *, md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM kept),
bucketed AS (SELECT *, ({digits}) % 100 AS b FROM hashed)
SELECT CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
            ELSE 'train' END AS split,
       lang, count(*) AS n_docs, round(avg(quality_score), 6) AS avg_quality
FROM bucketed GROUP BY 1, 2
"""


PIPELINE_INVENTORY["text_pii_redact"] = (q_text_pii_redact, SQL_TEXT_PII_REDACT)
PIPELINE_INVENTORY["sample_stratified"] = (q_sample_stratified, SQL_SAMPLE_STRATIFIED)
PIPELINE_INVENTORY["pipeline_training_set"] = (q_pipeline_training_set,
                                               _training_set_sql())


def q_mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video-frame sampling plumbing: one row per sampled frame with
    (frame_idx, byte_offset, sha) — codec stubbed (deterministic byte-slice
    frames), Spark-side fan-out real.  The byte-slice stub is exactly
    reproducible in SQL (sha256 over substrings; this corpus is pure ASCII,
    so char offsets == byte offsets — verified octet_length == length for
    every doc), so even the multimodal plumbing is oracle-checked."""
    docs = _docs(StreamBuilder(spark), sf)
    with_bin = M.attach_binary(docs, "text", modality="video")
    return M.sample_frames(with_bin, id_col="doc_id", payload_col="payload",
                           fake=True)


SQL_MM_FRAME_SAMPLE = """
WITH f AS (SELECT doc_id, text,
             unnest(range(0, least(8, greatest(1, length(text) // 32)))) AS frame_idx
           FROM documents)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 32 AS INT) AS byte_offset,
       lower(sha256(substring(text, frame_idx * 32 + 1, 32))) AS frame_sha
FROM f
"""


PIPELINE_INVENTORY["mm_frame_sample"] = (q_mm_frame_sample,
                                         SQL_MM_FRAME_SAMPLE)


def q_mm_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup: dHash (DCT-free difference hash —
    integer gradient bits over a thumbnail grid, so the oracle is exact)
    + Hamming-LSH banding (multimodal.phash_pairs) — the image arm of
    the dedup family.  The decode step is the documented stub
    (multimodal.fake_decode_image: 72 segment-mean "pixels" from the
    text payload, standing in for a real thumbnailer); each document
    yields TWO images — the original and a requantization-style
    re-encode (every pixel jittered by i%3-1, the classic JPEG
    round-trip artifact) — and the operator must recover those
    copy-pairs via the band join (never all-pairs; plan-asserted in
    tests) with exact-Hamming verification at max_hamming=3, where
    banding is provably complete (pigeonhole over 4 bands).  Unrelated
    documents' images collide in a band occasionally but are verified
    out — 0 false pairs at every SF measured."""
    d0 = (_docs(StreamBuilder(spark), sf)
          .filter(F.length("text") >= 72).select("doc_id", "text"))
    base = M.fake_decode_image(d0, "doc_id", "text", n_px=72)
    orig = base.select((F.col("doc_id") * 2).alias("img_id"), "pixels")
    copy = base.select(
        (F.col("doc_id") * 2 + 1).alias("img_id"),
        F.transform("pixels",
                    lambda x, i: x + (i % F.lit(3) - 1)).alias("pixels"))
    # persist the decoded thumbnails: at scale they'd be a materialized
    # table (decode once, hash many) — and inline, the union of two
    # 72-expression decode branches re-entering dhash's 64 gradient
    # reads sends the optimizer into expression-tree blowup (measured
    # minutes); the barrier makes the whole query seconds
    imgs = orig.unionByName(copy).persist()
    # near-dup pair list is bounded (verified pairs, not the corpus) —
    # materialize it so the decoded-thumbnail cache frees with the query
    return collect_freeing(
        M.phash_pairs(imgs, "img_id", "pixels", max_hamming=3), imgs)


def _mm_phash_sql(n_px: int = 72, w: int = 8, h: int = 8,
                  bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB replay of fake_decode_image + jitter copy + dhash_bands +
    banded candidates + Hamming verify.  Pixels are emitted as explicit
    per-position expressions (DuckDB list lambdas have no index
    parameter, so the i%3-1 jitter rides as constants)."""
    bbits = (w * h) // bands
    px = []
    for k in range(n_px):
        st = f"CAST(({k}*n)//{n_px} AS INT)+1"
        ln = f"CAST((({k + 1})*n)//{n_px} - ({k}*n)//{n_px} AS INT)"
        px.append(
            f"(CAST(coalesce(list_sum(list_transform("
            f"string_split_regex(substr(t,{st},{ln}),''),"
            f" ch -> ord(ch))),0) // greatest({ln},1) AS INT)"
            f" + jit * ({k} % 3 - 1)) AS s{k}")
    band_exprs = []
    for b in range(bands):
        terms = []
        for p in range(bbits):
            i = b * bbits + p
            r, c = divmod(i, w)
            terms.append(f"(CASE WHEN s{r * (w + 1) + c} <"
                         f" s{r * (w + 1) + c + 1}"
                         f" THEN {1 << p} ELSE 0 END)")
        band_exprs.append("(" + " + ".join(terms) + f") AS band{b}")
    band_case = " ".join(f"WHEN {b} THEN band{b}" for b in range(bands))
    hamming = " + ".join(
        f"bit_count(xor(x.band{b}, y.band{b}))" for b in range(bands))
    return f"""
WITH d0 AS (SELECT doc_id, text AS t, length(text) AS n FROM documents
            WHERE length(text) >= {n_px}),
imgs AS (SELECT doc_id*2 AS img_id, t, n, 0 AS jit FROM d0
         UNION ALL SELECT doc_id*2+1, t, n, 1 FROM d0),
s AS (SELECT img_id, {", ".join(px)} FROM imgs),
hb AS (SELECT img_id, {", ".join(band_exprs)} FROM s),
sig AS (SELECT img_id, b.band_idx,
          CASE b.band_idx {band_case} END AS val
        FROM hb CROSS JOIN
          (SELECT unnest(range({bands})) AS band_idx) b),
cand AS (SELECT DISTINCT a.img_id AS img_a, c.img_id AS img_b
         FROM sig a JOIN sig c ON a.band_idx = c.band_idx
           AND a.val = c.val AND a.img_id < c.img_id)
SELECT cand.img_a, cand.img_b, CAST({hamming} AS BIGINT) AS hamming
FROM cand JOIN hb x ON x.img_id = cand.img_a
          JOIN hb y ON y.img_id = cand.img_b
WHERE {hamming} <= {max_hamming}
"""


PIPELINE_INVENTORY["mm_phash_dedup"] = (q_mm_phash_dedup, _mm_phash_sql())


def q_vec_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """L2 norm + unit vector, codegen-only (operators/vectors.l2_normalize).

    Output is EXPLODED to (vec_id, norm, idx, u) — one row per component —
    because the driver's canonicalizer hashes scalar cells and cannot sort
    raw array<double> columns (r2 harness fail)."""
    from kstream_spark.operators.vectors import l2_normalize
    return (l2_normalize(_embs(StreamBuilder(spark), sf), "embedding")
            .select("vec_id", "norm", F.posexplode("unit").alias("idx", "u"))
            .withColumn("idx", F.col("idx").cast("long")))


# dim fixed at 64 across all SFs (same convention as _lsh_sql)
SQL_VEC_NORMALIZE = """
WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                x -> x * x))), 6) AS norm
           FROM embeddings),
u AS (SELECT vec_id, norm,
        CASE WHEN norm > 0 THEN list_transform(v, x -> round(x / norm, 6))
             ELSE list_transform(v, x -> 0.0) END AS unit
      FROM s)
SELECT vec_id, norm, CAST(ii.i AS BIGINT) AS idx, unit[ii.i + 1] AS u
FROM u CROSS JOIN range(0, 64) ii(i)
"""


def q_vec_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization (operators/vectors.quantize_int8).
    Exploded to (vec_id, scale, idx, q) for driver hashability."""
    from kstream_spark.operators.vectors import quantize_int8
    return (quantize_int8(_embs(StreamBuilder(spark), sf), "embedding")
            .select("vec_id", "scale", F.posexplode("qvec").alias("idx", "q"))
            .withColumn("idx", F.col("idx").cast("long")))


SQL_VEC_QUANTIZE = """
WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             round(list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0, 9) AS scale
           FROM embeddings),
qv AS (SELECT vec_id, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qs
       FROM s)
SELECT vec_id, scale, CAST(ii.i AS BIGINT) AS idx, qs[ii.i + 1] AS q
FROM qv CROSS JOIN range(0, 64) ii(i)
"""


PIPELINE_INVENTORY["vec_normalize"] = (q_vec_normalize, SQL_VEC_NORMALIZE)
PIPELINE_INVENTORY["vec_quantize_int8"] = (q_vec_quantize, SQL_VEC_QUANTIZE)


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup — the production shape for a GROWING corpus: admit
    only increment docs that duplicate nothing in the standing corpus
    (exact-hash gate, then increment-bands x corpus-bands MinHash join —
    never corpus x corpus) and nothing earlier in their own batch.  The
    20%/80% split by doc_id % 10 is deterministic at every SF."""
    docs = _docs(StreamBuilder(spark), sf)
    inc = docs.filter(F.col("doc_id") % 10 < 2)
    cor = docs.filter(F.col("doc_id") % 10 >= 2)
    return D.incremental_dedup(inc, cor, "doc_id", "text",
                               n=3, threshold=0.8).select("doc_id")


def _incremental_sql() -> str:
    nh, bands = D.NUM_HASHES, D.BANDS
    rows = nh // bands
    mins = ", ".join(f"min(md5('{i}:' || s)) AS h{i}" for i in range(nh))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
            b=b, cat=" || ".join(f"h{b * rows + r}" for r in range(rows)))
        for b in range(bands))
    return f"""
WITH {_W}, {_SH},
inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 2),
cor AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 2),
ch AS (SELECT doc_id, {_NORM} AS h FROM documents),
fresh AS (SELECT doc_id FROM (
    SELECT i.doc_id, min(i.doc_id) OVER (PARTITION BY i.h) AS first
    FROM ch i JOIN inc USING (doc_id)
    WHERE i.h NOT IN (SELECT c.h FROM ch c JOIN cor USING (doc_id)))
  WHERE doc_id = first),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
cand AS (SELECT DISTINCT f.doc_id AS new_id, c.doc_id AS old_id
         FROM bands f
         JOIN bands c ON c.band = f.band AND c.bh = f.bh
         JOIN cor ON c.doc_id = cor.doc_id
         WHERE f.doc_id IN (SELECT doc_id FROM fresh)),
inter AS (SELECT cd.new_id, cd.old_id, count(*) AS i
          FROM cand cd JOIN sh a ON a.doc_id = cd.new_id
          JOIN sh b ON b.doc_id = cd.old_id AND b.s = a.s
          GROUP BY 1, 2),
dup_new AS (SELECT DISTINCT new_id AS doc_id
            FROM inter JOIN sz x ON x.doc_id = new_id
            JOIN sz y ON y.doc_id = old_id
            WHERE i * 1.0 / (x.n + y.n - i) >= 0.8),
admitted AS (SELECT doc_id FROM fresh
             WHERE doc_id NOT IN (SELECT doc_id FROM dup_new)),
icand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN admitted aa ON a.doc_id = aa.doc_id
          JOIN bands b ON b.band = a.band AND b.bh = a.bh
                      AND a.doc_id < b.doc_id
          JOIN admitted bb ON b.doc_id = bb.doc_id),
iinter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
           FROM icand c JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
           GROUP BY 1, 2),
ipairs AS (SELECT doc_a, doc_b FROM iinter
           JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE i * 1.0 / (x.n + y.n - i) >= 0.8)
SELECT doc_id FROM admitted
WHERE doc_id NOT IN (SELECT doc_b FROM ipairs)
"""


PIPELINE_INVENTORY["dedup_incremental"] = (q_dedup_incremental,
                                           _incremental_sql())


def q_mm_audio_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-modality ingestion plumbing: opaque payload + typed audio
    metadata (sample rate, PCM-estimated duration) — like mm_binary_meta
    the byte-derived fields are exactly reproducible in SQL, so the
    multimodal schema/metadata path is oracle-checked end to end."""
    docs = _docs(StreamBuilder(spark), sf)
    wa = M.attach_audio(docs, "text", sample_rate=16000)
    return wa.select(
        "doc_id",
        F.col("media_meta.sample_rate").alias("sample_rate"),
        F.col("media_meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("media_meta.est_duration_s").alias("est_duration_s"),
        F.col("media_meta.sha256").alias("sha256"),
    )


SQL_MM_AUDIO_META = """
SELECT doc_id, 16000 AS sample_rate,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       round(octet_length(encode(text)) / 32000.0, 6) AS est_duration_s,
       sha256(text) AS sha256
FROM documents
"""


PIPELINE_INVENTORY["mm_audio_meta"] = (q_mm_audio_meta, SQL_MM_AUDIO_META)


def q_dedup_best_of_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-based cluster representatives: within each near-dup cluster
    (MinHash+LSH pairs -> connected components) keep the HIGHEST-quality
    document, not the lowest id — the survivor rule a production corpus
    build actually wants (composes two already-oracle-checked operators;
    singleton docs are their own cluster)."""
    docs = _docs(StreamBuilder(spark), sf)
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = D.connected_components(pairs)
    stats = TX.text_stats(docs, "doc_id", "text") \
        .select("doc_id", "quality_score")
    full = (docs.select("doc_id").join(comp, "doc_id", "left")
            .withColumn("cluster_id",
                        F.coalesce("cluster_id", F.col("doc_id"))))
    from pyspark.sql import Window as W
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality_score"),
                                            F.asc("doc_id"))
    return (full.join(stats, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster_id", "doc_id", "quality_score"))


def _best_of_cluster_sql() -> str:
    return f"""
WITH comp AS ({_clusters_sql()}),
q AS (SELECT doc_id, quality_score FROM ({SQL_TEXT_QUALITY})),
allc AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT cluster_id, doc_id, quality_score FROM (
  SELECT f.cluster_id, f.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY f.cluster_id
                            ORDER BY q.quality_score DESC, f.doc_id) AS rn
  FROM allc f JOIN q USING (doc_id)) WHERE rn = 1
"""


PIPELINE_INVENTORY["dedup_best_of_cluster"] = (q_dedup_best_of_cluster,
                                               _best_of_cluster_sql())


# -- containment (near-subset) dedup ----------------------------------------
def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Directed near-subset pairs via Broder containment |A∩B|/|A|
    (operators/dedup.containment_pairs) — catches the pasted-paragraph
    duplication mode Jaccard misses.  No reference analog (the reference
    has no dedup surface)."""
    return D.containment_pairs(_docs(StreamBuilder(spark), sf), "doc_id",
                               "text", n=3, threshold=0.8)


SQL_DEDUP_CONTAINMENT = f"""
WITH {_W}, {_SH},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
dir AS (
  SELECT doc_a, doc_b, i / x.n AS c
  FROM inter JOIN sz x ON x.doc_id = doc_a
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b, i / y.n AS c
  FROM inter JOIN sz y ON y.doc_id = doc_b)
SELECT doc_a, doc_b, round(c, 6) AS containment FROM dir WHERE c >= 0.8
"""

PIPELINE_INVENTORY["dedup_containment"] = (q_dedup_containment,
                                           SQL_DEDUP_CONTAINMENT)


# -- BM25 retrieval ---------------------------------------------------------
BM25_TERMS = ["spark", "join", "vector"]


def q_text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed query (operators/text.bm25_topk):
    codegen-only ranking — per-term higher-order tf filters, one scalar
    corpus-stats aggregate broadcast back, TakeOrdered top-k.  The
    retrieval-scoring member of the text-analysis family."""
    from kstream_spark.operators.text import bm25_topk
    return bm25_topk(_docs(StreamBuilder(spark), sf), "doc_id", "text",
                     BM25_TERMS, k=20)


def _bm25_sql() -> str:
    terms = BM25_TERMS
    tfs = ", ".join(
        f"CAST(len(list_filter(t, x -> x = '{q}')) AS DOUBLE) AS tf{i}"
        for i, q in enumerate(terms))
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms)))
    # association order mirrors the Spark expression exactly (left-to-right
    # sum; idf * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*dl/avgdl)))
    contribs = " + ".join(
        f"ln((N - df{i} + 0.5) / (df{i} + 0.5) + 1.0) * (tf{i} * 2.2) / "
        f"(tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
        for i in range(len(terms)))
    return f"""
WITH d AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS t
           FROM documents),
s AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, {tfs} FROM d),
g AS (SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl, {dfs} FROM s)
SELECT doc_id, round({contribs}, 6) AS score
FROM s, g
ORDER BY score DESC, doc_id LIMIT 20
"""


PIPELINE_INVENTORY["text_bm25_topk"] = (q_text_bm25_topk, _bm25_sql())


# -- embedding-space decontamination ----------------------------------------
def q_decon_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic decontamination (operators/similarity.decontaminate_embedding):
    drop corpus vectors within cos>=0.35 of any eval vector (eval = the
    vec_id%40==0 slice, a stand-in benchmark suite).  One corpus scan, eval
    side broadcast, left-anti nested-loop — the embedding-space counterpart
    of text_decontaminate."""
    emb = _embs(StreamBuilder(spark), sf)
    ev = emb.filter(F.col("vec_id") % 40 == 0)
    cor = emb.filter(F.col("vec_id") % 40 != 0)
    return S.decontaminate_embedding(cor, ev, "vec_id", "embedding",
                                     threshold=0.35) \
        .select("vec_id", "label")


SQL_DECON_EMBEDDING = """
WITH e AS (SELECT embedding FROM embeddings WHERE vec_id % 40 = 0),
c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 40 <> 0)
SELECT vec_id, label FROM c
WHERE NOT EXISTS (
  SELECT 1 FROM e
  WHERE round(list_sum(list_transform(range(1, len(c.embedding)+1),
                i -> c.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        / (sqrt(list_sum(list_transform(c.embedding::DOUBLE[], x -> x * x)))
           * sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))),
        6) >= 0.35)
"""

PIPELINE_INVENTORY["decon_embedding"] = (q_decon_embedding,
                                         SQL_DECON_EMBEDDING)


# -- stop-shingle-capped ngram jaccard (the scale-shape variant) -------------
def q_dedup_ngram_capped(spark: SparkSession, sf: str) -> DataFrame:
    """ngram_jaccard_pairs WITH the stop-shingle cap (max_shingle_df=3) —
    the 100 TB shape: shingles appearing in more than max_shingle_df docs
    are dropped BEFORE the inverted-index self-join, bounding the join's
    per-key fan-out (the classic hot-key hazard of shingle joins) at the
    cost of computing Jaccard over the rare-shingle universe.  Registered
    separately from the exact baseline so the capped pipeline itself is
    driver-proven with the cap BINDING (df max is 7 at the driver SF)."""
    # lazy return for the same reason as q_dedup_ngram_jaccard
    return D.ngram_jaccard_pairs(_docs(StreamBuilder(spark), sf),
                                 "doc_id", "text", n=3, threshold=0.8,
                                 max_shingle_df=3)


SQL_DEDUP_NGRAM_CAPPED = f"""
WITH {_W}, {_SH},
keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 3),
sh2 AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM keep)),
sz AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= 0.8
"""

PIPELINE_INVENTORY["dedup_ngram_capped"] = (q_dedup_ngram_capped,
                                            SQL_DEDUP_NGRAM_CAPPED)

# -- r4: sub-document span dedup, unigram-LM quality, SemDeDup --------------
def q_dedup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """C4/RefinedWeb-style duplicated-span removal: cut documents into
    non-overlapping 8-token segments, drop every segment occurring in >1
    distinct document (boilerplate), stitch the survivors back in order.
    Sub-document dedup — the layer exact/minhash whole-doc dedup misses."""
    from kstream_spark.operators import corpus as C
    return C.span_dedup(_docs(StreamBuilder(spark), sf), "doc_id", "text",
                        span=8, max_docs=1)


SQL_DEDUP_SPANS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
seg AS (SELECT doc_id,
          CAST(ceil(len(toks) / 8.0) AS BIGINT) AS totseg,
          unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pos,
          unnest(list_transform(range(CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                 i -> array_to_string(toks[i*8+1:i*8+8], ' '))) AS seg
        FROM t),
hot AS (SELECT md5(concat('span:', seg)) AS h FROM seg
        GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT * FROM seg
         WHERE md5(concat('span:', seg)) NOT IN (SELECT h FROM hot))
SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
       CAST(count(*) AS BIGINT) AS n_spans_kept,
       CAST(any_value(totseg) - count(*) AS BIGINT) AS n_spans_dropped
FROM kept GROUP BY doc_id
"""

PIPELINE_INVENTORY["dedup_spans"] = (q_dedup_spans, SQL_DEDUP_SPANS)


def q_text_unigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-self unigram LM score per document (total micro-quantized
    log-prob; per-token score = sum_logp / n_tokens) — the CCNet/KenLM
    perplexity-gate shape with the LM reduced to unigrams so the whole
    train+score pipeline is codegen and SQL-replayable."""
    from kstream_spark.operators import corpus as C
    return C.unigram_logprob(_docs(StreamBuilder(spark), sf),
                             "doc_id", "text")


SQL_TEXT_UNIGRAM_LM = rf"""
WITH tok AS (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                                  w -> w <> '')) AS tok
             FROM documents),
dt AS (SELECT doc_id, tok, count(*) AS m FROM tok GROUP BY doc_id, tok),
cnt AS (SELECT tok, sum(m) AS c FROM dt GROUP BY tok),
tot AS (SELECT sum(c) AS tot FROM cnt),
lp AS (SELECT tok, CAST(round(ln(c / tot) * 1000000, 0) AS BIGINT) AS lpi
       FROM cnt, tot)
SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
       sum(m * lpi) / 1000000.0 AS sum_logp
FROM dt JOIN lp USING (tok) GROUP BY doc_id
"""

PIPELINE_INVENTORY["text_unigram_lm"] = (q_text_unigram_lm,
                                         SQL_TEXT_UNIGRAM_LM)


def q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (public recipe, Abbas et al. 2023): k-means clusters bound
    the quadratic, cosine pruning only within a cluster, lowest id
    survives.  Same deterministic k-means as sim_ivf_kmeans_topk, so the
    oracle replays cluster -> pair -> prune exactly."""
    return S.semantic_dedup(_embs(StreamBuilder(spark), sf),
                            "vec_id", "embedding",
                            k=8, iters=3, threshold=0.4)


def _semantic_sql(k: int = 8, iters: int = 3, dim: int = 64,
                  threshold: float = 0.4) -> str:
    return f"""
WITH {_lloyd_cells_cte(k, iters, dim)},
pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
            round(sum(ca.x * cb.x) / (max(ca.nrm) * max(cb.nrm)), 6) AS cos
          FROM assigned a
          JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          JOIN comp ca ON ca.vec_id = a.vec_id
          JOIN comp cb ON cb.vec_id = b.vec_id AND cb.d = ca.d
          GROUP BY a.vec_id, b.vec_id),
drops AS (SELECT DISTINCT ib FROM pairs WHERE cos >= {threshold})
SELECT vec_id, cell_id FROM assigned
WHERE vec_id NOT IN (SELECT ib FROM drops)
"""


PIPELINE_INVENTORY["dedup_semantic"] = (q_dedup_semantic, _semantic_sql())


def q_text_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Visible-text extraction from HTML (web-corpus extraction stage).
    The fixture corpus is plain text, so the query wraps each doc in a
    deterministic HTML shell (tags + style/script boilerplate + an encoded
    entity) and extracts it back — proving the strip/unescape/collapse
    pipeline end-to-end against the oracle's replay of the same regexes."""
    from kstream_spark.functions.text import html_to_text
    docs = _docs(StreamBuilder(spark), sf)
    html = F.concat(
        F.lit("<html><head><style>p{margin:0}</style></head><body><h1>"),
        F.col("source"), F.lit("</h1>\n<p>"), F.col("text"),
        F.lit(" &amp; more</p><script>var x='<p>no</p>';</script>"
              "<!-- c --></body></html>"))
    return docs.select(
        "doc_id", html_to_text(html).alias("clean_text")) \
        .withColumn("n_chars", F.length("clean_text").cast("long"))


SQL_TEXT_HTML_EXTRACT = rf"""
WITH h AS (SELECT doc_id,
  '<html><head><style>p{{margin:0}}</style></head><body><h1>' || source ||
  '</h1>' || chr(10) || '<p>' || text ||
  ' &amp; more</p><script>var x=''<p>no</p>'';</script><!-- c --></body></html>'
  AS html FROM documents),
s AS (SELECT doc_id,
  regexp_replace(
   regexp_replace(
    regexp_replace(
     regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
    '(?s)<!--.*?-->', ' ', 'g'),
   '(?s)<[^>]*>', ' ', 'g') AS t
  FROM h),
u AS (SELECT doc_id,
  replace(replace(replace(replace(replace(replace(t,
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
    '&nbsp;', ' '), '&amp;', '&') AS t
  FROM s)
SELECT doc_id,
       trim(regexp_replace(t, '{RE2_WS}', ' ', 'g')) AS clean_text,
       CAST(length(trim(regexp_replace(t, '{RE2_WS}', ' ', 'g'))) AS BIGINT)
         AS n_chars
FROM u
"""

PIPELINE_INVENTORY["text_html_extract"] = (q_text_html_extract,
                                           SQL_TEXT_HTML_EXTRACT)


def q_dedup_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-fingerprint shared-substring pairs (MOSS, Schleimer et al.
    2003): positional 4-gram hashes, sliding-window-4 minima as
    fingerprints — detects a verbatim >=7-token run at ANY offset, the
    substring case aligned span dedup and set-overlap Jaccard both miss.

    EXACT ORACLE BASELINE: max_fp_df=None disables the boilerplate cap so
    the pair set is complete — measured superlinear at sf1 (12.7x time at
    10x data, SCALING.md r6-3b) and NOT the production posture; the
    operator's default (and the headline scale query) is the capped form,
    ``dedup_winnow_capped``."""
    # lazy return, no collect_freeing: the uncapped pair list is ~111k
    # rows at sf1 and the driver collect costs ~2 s (A/B r13); the
    # sweep/bench harnesses clearCache between queries, which releases
    # the operator's fingerprint persist (its documented contract)
    return D.winnow_pairs(_docs(StreamBuilder(spark), sf), "doc_id", "text",
                          k=4, window=4, min_shared=1, max_fp_df=None)


SQL_DEDUP_WINNOW = f"""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words
           FROM documents),
g AS (SELECT doc_id,
        list_transform(range(1, greatest(len(words) - 3, 0) + 1),
          i -> md5('winnow:' || array_to_string(words[i:i+3], ' '))) AS hs
      FROM w),
fp AS (SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, greatest(len(hs) - 3, 1) + 1),
           j -> list_min(hs[j:j+3]))) AS f
       FROM g WHERE len(hs) >= 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 1
"""

PIPELINE_INVENTORY["dedup_winnow"] = (q_dedup_winnow, SQL_DEDUP_WINNOW)


def q_dedup_winnow_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing with the boilerplate-fingerprint cap — THE PRODUCTION
    DEFAULT posture (max_fp_df=20 is now winnow_pairs' signature default;
    the dedup_ngram_capped dial applied to fingerprints): a fingerprint
    shared by more than 20 docs is template noise and would contribute
    O(df^2) candidate pairs; capping it bounds every bucket — the knob
    that keeps winnow's pair space linear at corpus scale.  The uncapped
    ``dedup_winnow`` is kept only as the exact-complete oracle baseline
    (measured superlinear at sf1, SCALING.md r6-3b)."""
    # lazy return for the same reason as q_dedup_winnow (large pair list)
    return D.winnow_pairs(_docs(StreamBuilder(spark), sf), "doc_id",
                          "text", k=4, window=4, min_shared=1,
                          max_fp_df=20)


SQL_DEDUP_WINNOW_CAPPED = f"""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words
           FROM documents),
g AS (SELECT doc_id,
        list_transform(range(1, greatest(len(words) - 3, 0) + 1),
          i -> md5('winnow:' || array_to_string(words[i:i+3], ' '))) AS hs
      FROM w),
fp AS (SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, greatest(len(hs) - 3, 1) + 1),
           j -> list_min(hs[j:j+3]))) AS f
       FROM g WHERE len(hs) >= 1),
keep AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 20),
fk AS (SELECT fp.doc_id, fp.f FROM fp JOIN keep USING (f))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 1
"""

PIPELINE_INVENTORY["dedup_winnow_capped"] = (q_dedup_winnow_capped,
                                             SQL_DEDUP_WINNOW_CAPPED)


def q_sim_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (contrastive-training batch construction):
    top-10 most-similar DIFFERENT-label vectors per query — the negatives
    nearest the decision boundary, where random negatives are too easy."""
    return S.hard_negatives(_embs(StreamBuilder(spark), sf),
                            "vec_id", "embedding", "label",
                            query_ids=list(range(5)), k=10)


SQL_SIM_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlab
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
c AS (SELECT vec_id AS neg_id, embedding::DOUBLE[] AS nv, label AS nlab
      FROM embeddings),
s AS (SELECT query_id, neg_id,
        round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * nv[i]))
              / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                 * sqrt(list_sum(list_transform(nv, x -> x * x)))), 6) AS cos
      FROM q, c WHERE query_id <> neg_id AND qlab <> nlab)
SELECT query_id, neg_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neg_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= 10
"""

PIPELINE_INVENTORY["sim_hard_negatives"] = (q_sim_hard_negatives,
                                            SQL_SIM_HARD_NEGATIVES)


def q_corpus_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus snapshot diff (versioning audit): v1 drops every 7th doc,
    v2 drops every 10th and rewrites every 5th — the diff must classify
    each doc added/removed/changed/unchanged by normalized content hash."""
    from kstream_spark.operators.corpus import corpus_diff
    docs = _docs(StreamBuilder(spark), sf)
    v1 = docs.filter(F.col("doc_id") % 7 != 0)
    v2 = docs.filter(F.col("doc_id") % 10 != 0) \
        .withColumn("text", F.when(F.col("doc_id") % 5 == 0,
                                   F.concat(F.col("text"), F.lit(" rev2")))
                    .otherwise(F.col("text")))
    return corpus_diff(v1, v2, "doc_id", "text")


SQL_CORPUS_DIFF = f"""
WITH v1 AS (SELECT doc_id, {_NORM} AS old_hash FROM documents
            WHERE doc_id % 7 <> 0),
v2 AS (SELECT doc_id,
         md5(regexp_replace(lower(CASE WHEN doc_id % 5 = 0
                                       THEN text || ' rev2' ELSE text END),
                            '{RE2_WS}', ' ', 'g')) AS new_hash
       FROM documents WHERE doc_id % 10 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed'
            ELSE 'unchanged' END AS status,
       old_hash, new_hash
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""

PIPELINE_INVENTORY["corpus_diff"] = (q_corpus_diff, SQL_CORPUS_DIFF)


def q_corpus_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Shard manifests over the deterministic shard layout: doc counts,
    token totals, id ranges, and an order-insensitive ADDITIVE content
    checksum per shard (sum of doc-hash prefixes mod 2^63 — multiset-
    sensitive, unlike XOR) — the reproducibility audit for shipped
    shards."""
    from kstream_spark.operators.corpus import shard_manifest, shuffle_shards
    docs = _docs(StreamBuilder(spark), sf)
    sharded = shuffle_shards(docs, "doc_id", n_shards=8, seed="42")
    return shard_manifest(sharded, "doc_id", "text")


SQL_CORPUS_MANIFEST = rf"""
WITH sh AS (SELECT doc_id, text,
              CAST(CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS UBIGINT) AS BIGINT) % 8
                AS shard
            FROM documents),
h AS (SELECT shard, doc_id,
        CAST(CAST(('0x' || substr(md5(regexp_replace(lower(text), '{RE2_WS}', ' ',
                                                     'g')), 1, 15))
                  AS UBIGINT) AS BIGINT) AS doc_h,
        len(list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                        w -> w <> '')) AS toks
      FROM sh)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_id, max(doc_id) AS max_id,
       CAST(sum(CAST(doc_h AS HUGEINT))
            % CAST('9223372036854775808' AS HUGEINT) AS BIGINT)
         AS content_checksum
FROM h GROUP BY shard
"""

PIPELINE_INVENTORY["corpus_manifest"] = (q_corpus_manifest,
                                         SQL_CORPUS_MANIFEST)


def _audit_queries(spark: SparkSession, emb: DataFrame, qids: list):
    """The recall audits' shared query side: one collect of the query
    vectors, plus the same rows as a local (vec_id, embedding) relation
    whose id type is the corpus's own."""
    qrows = S.collect_query_rows(emb, "vec_id", "embedding", qids)
    id_dt = emb.schema["vec_id"].dataType.simpleString()
    qdf = local_df(
        spark, [(r["query_id"], list(r["qv"])) for r in qrows],
        f"vec_id {id_dt}, embedding array<double>")
    return qrows, qdf


def q_sim_ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality as a DRIVER-PROVABLE fact: recall@10 of the learned-
    centroid IVF (3 of 8 cells probed) against brute-force cosine, per
    query.  Both sides are fully deterministic (round-6 + id tie-breaks),
    so the hit count is exact — the oracle replays both pipelines and
    derives the identical intersection, turning 'the index is good' from
    a unit-test claim into a hash-matched driver row."""
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    # r14: ONE query-side collect shared by the approximate and exact
    # arms (each used to filter-and-fetch the same 5 vectors itself)
    qrows, qdf = _audit_queries(spark, emb, list(range(5)))
    approx = S.ivf_topk(emb, "vec_id", "embedding",
                        query_ids=list(range(5)), k=10, n_probe=3,
                        centroids=cents, query_rows=qrows) \
        .select("query_id", "neighbor_id")
    exact = S.cosine_topk(emb, "vec_id", "embedding",
                          queries=qdf, k=10) \
        .select("query_id", "neighbor_id")
    # approx is <= |Q|*k rows: broadcast it so the hit-join never
    # shuffles (plan had drifted to a sort-merge join of two tiny sides)
    ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
    return (exact.join(ind, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_hit").cast("long").alias("n_hits"))
            .select("query_id", "n_hits",
                    (F.col("n_hits") >= 5).alias("recall_ok")))


def _ivf_recall_sql() -> str:
    return f"""
WITH ivf AS (SELECT query_id, neighbor_id FROM ({_kmeans_ivf_sql()}) t),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t),
hits AS (SELECT b.query_id, i.neighbor_id AS hit
         FROM brute b LEFT JOIN ivf i
           ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
SELECT query_id, CAST(count(hit) AS BIGINT) AS n_hits,
       count(hit) >= 5 AS recall_ok
FROM hits GROUP BY query_id
"""


PIPELINE_INVENTORY["sim_ivf_recall"] = (q_sim_ivf_recall, _ivf_recall_sql())


def _pq_train_encode_cte(dim: int = 64, m: int = 4, k: int = 16,
                         iters: int = 2,
                         query_ids: str = "0, 1, 2, 3, 4",
                         train_where: str = "") -> str:
    """CTE fragment replaying pq_codebooks + pq_encode + the per-query ADC
    tables: per-subspace Euclidean Lloyd's unrolled ``iters`` times (seed
    codewords = the k lowest-vec_id rows' subvectors; assignment by round-6
    squared distance with lowest-code ties; cell means round-6; empty codes
    keep the previous codeword).  Requires ``e`` (vec_id, v DOUBLE[]) and
    ``comp`` (vec_id, d, x) CTEs upstream; yields ``codes`` (vec_id, j,
    code) and ``qtab`` (query_id, j, code, dist) for the consumer —
    _pq_adc_sql ranks the whole corpus, _ivfpq_sql only probed cells.
    ``train_where`` (a ``WHERE ...`` clause on vec_id) restricts the
    TRAINING corpus only — seeds and Lloyd's rounds see the slice, while
    encode/qtab still cover every vector (the drift-audit shape: a stale
    index trained on yesterday's slice encoding today's full corpus)."""
    sub = dim // m
    train_src = "strain" if train_where else "scomp"
    strain = (f"""
strain AS (SELECT * FROM scomp {train_where}),""" if train_where else "")
    its = []
    for t in range(iters):
        its.append(f"""
pdist{t} AS (SELECT sc.vec_id, sc.j, b.code,
               round(sum((sc.x - b.c) * (sc.x - b.c)), 6) AS dist
             FROM {train_src} sc JOIN b{t} b ON b.j = sc.j AND b.sd = sc.sd
             GROUP BY sc.vec_id, sc.j, b.code),
pasg{t} AS (SELECT vec_id, j, code FROM (
              SELECT vec_id, j, code,
                     row_number() OVER (PARTITION BY vec_id, j
                                        ORDER BY dist ASC, code ASC) AS rn
              FROM pdist{t}) WHERE rn = 1),
pmean{t} AS (SELECT a.j, a.code, sc.sd, round(avg(sc.x), 6) AS mn
             FROM pasg{t} a JOIN {train_src} sc ON sc.vec_id = a.vec_id
                                         AND sc.j = a.j
             GROUP BY a.j, a.code, sc.sd),
b{t + 1} AS (SELECT p.code, p.j, p.sd, coalesce(me.mn, p.c) AS c
             FROM b{t} p LEFT JOIN pmean{t} me ON me.j = p.j
               AND me.code = p.code AND me.sd = p.sd)""")
    lloyd = ",".join(its)
    return f"""scomp AS (SELECT vec_id, CAST(d // {sub} AS INT) AS j,
                  d % {sub} AS sd, x
          FROM comp),{strain}
pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
           FROM e {train_where} ORDER BY vec_id LIMIT {k}),
b0 AS (SELECT s.code, sc.j, sc.sd, sc.x AS c
       FROM pseeds s JOIN scomp sc USING (vec_id)),{lloyd},
books AS (SELECT code, j, sd, c FROM b{iters}),
-- encode every vector with the trained books
encd AS (SELECT sc.vec_id, sc.j, b.code,
           round(sum((sc.x - b.c) * (sc.x - b.c)), 6) AS dist
         FROM scomp sc JOIN books b ON b.j = sc.j AND b.sd = sc.sd
         GROUP BY sc.vec_id, sc.j, b.code),
codes AS (SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist ASC, code ASC) AS rn
            FROM encd) WHERE rn = 1),
-- per-query subvector-to-codeword distance tables
qtab AS (SELECT sc.vec_id AS query_id, sc.j, b.code,
           round(sum((sc.x - b.c) * (sc.x - b.c)), 6) AS dist
         FROM scomp sc JOIN books b ON b.j = sc.j AND b.sd = sc.sd
         WHERE sc.vec_id IN ({query_ids})
         GROUP BY sc.vec_id, sc.j, b.code)"""


def _pq_adc_sql(dim: int = 64, m: int = 4, k: int = 16, iters: int = 2,
                topk: int = 10, query_ids: str = "0, 1, 2, 3, 4",
                train_where: str = "") -> str:
    """DuckDB replay of pq_codebooks + pq_encode + pq_adc_topk over the
    WHOLE corpus (see _pq_train_encode_cte for the shared chain;
    ``train_where`` restricts the training slice only)."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (SELECT vec_id, dd.d AS d, v[dd.d + 1] AS x
         FROM e CROSS JOIN range(0, {dim}) dd(d)),
{_pq_train_encode_cte(dim, m, k, iters, query_ids, train_where)},
scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             round(sum(q.dist), 6) AS adist
           FROM codes c JOIN qtab q ON q.j = c.j AND q.code = c.code
           WHERE q.query_id <> c.vec_id
           GROUP BY q.query_id, c.vec_id)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, neighbor_id) AS BIGINT)
         AS rank
FROM scored QUALIFY rank <= {topk}
"""


def _ivfpq_sql(dim: int = 64, cells: int = 8, cell_iters: int = 3,
               m: int = 4, k: int = 16, pq_iters: int = 2,
               n_probe: int = 3, topk: int = 10,
               query_ids: str = "0, 1, 2, 3, 4") -> str:
    """DuckDB replay of the IVF-PQ composition: the shared Lloyd's cosine
    cell chain (_lloyd_cells_cte: e/comp/cos_ac/assigned), the shared PQ
    train+encode chain (_pq_train_encode_cte — reuses e/comp), then
    probe -> candidate -> ADC-rank restricted to probed cells."""
    return f"""
WITH {_lloyd_cells_cte(cells, cell_iters, dim)},
{_pq_train_encode_cte(dim, m, k, pq_iters, query_ids)},
probes AS (SELECT vec_id AS query_id, cell_id FROM (
             SELECT vec_id, cell_id,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cell_cos DESC, cell_id) AS rn
             FROM cos_ac WHERE vec_id IN ({query_ids}))
           WHERE rn <= {n_probe}),
cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         FROM probes p JOIN assigned a USING (cell_id)
         WHERE p.query_id <> a.vec_id),
scored AS (SELECT cn.query_id, cn.neighbor_id,
             round(sum(q.dist), 6) AS adist
           FROM cand cn
           JOIN codes cd ON cd.vec_id = cn.neighbor_id
           JOIN qtab q ON q.query_id = cn.query_id AND q.j = cd.j
                      AND q.code = cd.code
           GROUP BY cn.query_id, cn.neighbor_id)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, neighbor_id) AS BIGINT)
         AS rank
FROM scored QUALIFY rank <= {topk}
"""


def q_sim_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composed index: k-means coarse cells (probe 3 of 8) + PQ
    asymmetric-distance ranking over m-byte codes — the billion-scale ANN
    architecture end-to-end, fully deterministic and oracle-replayed
    (train cells -> train codebooks -> assign -> encode -> probe -> ADC)."""
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    books = S.pq_codebooks(emb, "embedding", m=4, k=16, iters=2,
                           id_col="vec_id")
    return S.ivfpq_topk(emb, "vec_id", "embedding",
                        query_ids=[0, 1, 2, 3, 4], centroids=cents,
                        codebooks=books, k=10, n_probe=3)


PIPELINE_INVENTORY["sim_ivfpq_topk"] = (q_sim_ivfpq_topk, _ivfpq_sql())


def q_sim_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization end-to-end: train m=4 x k=16 Euclidean
    codebooks (2 Lloyd's rounds), encode the corpus to 4-byte codes, rank
    by asymmetric distance (per-query lookup tables, m element_at sums) —
    the compressed-index ANN path that pairs with IVF at billion scale.
    Fully deterministic (lowest-id seeds, round-6 HALF_UP distances/means,
    lowest-code ties), so the oracle replays training+encode+ADC exactly."""
    emb = _embs(StreamBuilder(spark), sf)
    books = S.pq_codebooks(emb, "embedding", m=4, k=16, iters=2,
                           id_col="vec_id")
    return S.pq_adc_topk(emb, "vec_id", "embedding",
                         query_ids=[0, 1, 2, 3, 4], codebooks=books, k=10)


PIPELINE_INVENTORY["sim_pq_adc_topk"] = (q_sim_pq_adc_topk, _pq_adc_sql())


def _ivfpq_residual_sql(dim: int = 64, cells: int = 8, cell_iters: int = 3,
                        m: int = 4, k: int = 16, pq_iters: int = 2,
                        n_probe: int = 3, topk: int = 10,
                        query_ids: str = "0, 1, 2, 3, 4") -> str:
    """DuckDB replay of ivfpq_residual_topk: the shared Lloyd's cell chain
    (_lloyd_cells_cte), then residual components (v - centroid[cell]), PQ
    training/encoding ON RESIDUALS (same unrolled-Lloyd pattern as
    _pq_train_encode_cte, r-prefixed), per-(query, probed-cell) ADC
    tables, and the probe-restricted rank."""
    sub = dim // m
    its = []
    for t in range(pq_iters):
        its.append(f"""
rpdist{t} AS (SELECT sc.vec_id, sc.j, b.code,
                round(sum((sc.x - b.c) * (sc.x - b.c)), 6) AS dist
              FROM srcomp sc JOIN rb{t} b ON b.j = sc.j AND b.sd = sc.sd
              GROUP BY sc.vec_id, sc.j, b.code),
rpasg{t} AS MATERIALIZED (SELECT vec_id, j, code FROM (
               SELECT vec_id, j, code,
                      row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY dist ASC, code ASC) AS rn
               FROM rpdist{t}) WHERE rn = 1),
rpmean{t} AS (SELECT a.j, a.code, sc.sd, round(avg(sc.x), 6) AS mn
              FROM rpasg{t} a JOIN srcomp sc ON sc.vec_id = a.vec_id
                                            AND sc.j = a.j
              GROUP BY a.j, a.code, sc.sd),
rb{t + 1} AS MATERIALIZED (SELECT p.code, p.j, p.sd, coalesce(me.mn, p.c) AS c
              FROM rb{t} p LEFT JOIN rpmean{t} me ON me.j = p.j
                AND me.code = p.code AND me.sd = p.sd)""")
    lloyd = ",".join(its)
    # DuckDB inlines CTEs referenced once and only HEURISTICALLY
    # materializes multi-referenced ones; this chain stacks a second
    # multiply-referenced pyramid (srcomp/rb*/rbooks) on top of the
    # lloyd chain, and full inlining re-expands the upstream per
    # reference — exponential work (observed: >10 min vs 5 s for the
    # non-residual oracle).  Explicit MATERIALIZED pins linear cost.
    base = _lloyd_cells_cte(cells, cell_iters, dim)
    for nm in ("e AS (", "comp AS (", "cent AS (", "cos_ac AS (",
               "assigned AS ("):
        base = base.replace(nm, nm[:-1] + "MATERIALIZED (")
    return f"""
WITH {base},
rcomp AS (SELECT cm.vec_id, cm.d, cm.x / cm.nrm - ct.c AS x
          FROM comp cm JOIN assigned a USING (vec_id)
          JOIN cent ct ON ct.cell_id = a.cell_id AND ct.d = cm.d),
srcomp AS MATERIALIZED (SELECT vec_id, CAST(d // {sub} AS INT) AS j, d % {sub} AS sd, x
           FROM rcomp),
rseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
           FROM e ORDER BY vec_id LIMIT {k}),
rb0 AS MATERIALIZED (SELECT s.code, sc.j, sc.sd, sc.x AS c
        FROM rseeds s JOIN srcomp sc USING (vec_id)),{lloyd},
rbooks AS MATERIALIZED (SELECT code, j, sd, c FROM rb{pq_iters}),
rencd AS (SELECT sc.vec_id, sc.j, b.code,
            round(sum((sc.x - b.c) * (sc.x - b.c)), 6) AS dist
          FROM srcomp sc JOIN rbooks b ON b.j = sc.j AND b.sd = sc.sd
          GROUP BY sc.vec_id, sc.j, b.code),
rcodes AS MATERIALIZED (SELECT vec_id, j, code FROM (
             SELECT vec_id, j, code,
                    row_number() OVER (PARTITION BY vec_id, j
                                       ORDER BY dist ASC, code ASC) AS rn
             FROM rencd) WHERE rn = 1),
probes AS MATERIALIZED (SELECT vec_id AS query_id, cell_id FROM (
             SELECT vec_id, cell_id,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cell_cos DESC, cell_id) AS rn
             FROM cos_ac WHERE vec_id IN ({query_ids}))
           WHERE rn <= {n_probe}),
qrcomp AS (SELECT p.query_id, p.cell_id,
             CAST(cm.d // {sub} AS INT) AS j, cm.d % {sub} AS sd,
             cm.x / cm.nrm - ct.c AS x
           FROM probes p
           JOIN comp cm ON cm.vec_id = p.query_id
           JOIN cent ct ON ct.cell_id = p.cell_id AND ct.d = cm.d),
qrtab AS MATERIALIZED (SELECT qc.query_id, qc.cell_id, qc.j, b.code,
            round(sum((qc.x - b.c) * (qc.x - b.c)), 6) AS dist
          FROM qrcomp qc JOIN rbooks b ON b.j = qc.j AND b.sd = qc.sd
          GROUP BY qc.query_id, qc.cell_id, qc.j, b.code),
cand AS MATERIALIZED (SELECT p.query_id, p.cell_id, a.vec_id AS neighbor_id
         FROM probes p JOIN assigned a USING (cell_id)
         WHERE p.query_id <> a.vec_id),
scored AS (SELECT cn.query_id, cn.neighbor_id,
             round(sum(q.dist), 6) AS adist
           FROM cand cn
           JOIN rcodes cd ON cd.vec_id = cn.neighbor_id
           JOIN qrtab q ON q.query_id = cn.query_id
                       AND q.cell_id = cn.cell_id
                       AND q.j = cd.j AND q.code = cd.code
           GROUP BY cn.query_id, cn.neighbor_id)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, neighbor_id) AS BIGINT)
         AS rank
FROM scored QUALIFY rank <= {topk}
"""


def q_sim_ivfpq_residual_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Residual IVF-PQ (the FAISS IndexIVFPQ formulation): PQ codebooks
    trained on and encoding v - centroid[cell], per-(query, probed-cell)
    ADC tables — finer quantization from the same m-byte budget
    (operators/similarity.ivfpq_residual_topk)."""
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    return S.ivfpq_residual_topk(emb, "vec_id", "embedding",
                                 query_ids=[0, 1, 2, 3, 4],
                                 centroids=cents, m=8, pq_k=32,
                                 pq_iters=2, k=10, n_probe=3)


PIPELINE_INVENTORY["sim_ivfpq_residual_topk"] = (
    q_sim_ivfpq_residual_topk, _ivfpq_residual_sql(m=8, k=32))


def q_sim_ivfpq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality audit for the COMPOSED index: recall@10 of IVF-PQ
    (probe 3/8 cells, rank by ADC over m-byte codes) against brute-force
    cosine, per query — quantifies what the compression + probing give
    up, as a driver-provable hash-matched row (the ivf_recall pattern
    applied to the compressed index)."""
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    books = S.pq_codebooks(emb, "embedding", m=4, k=16, iters=2,
                           id_col="vec_id")
    # r14: ONE query-side collect shared by the approximate and exact
    # arms (each used to filter-and-fetch the same 5 vectors itself)
    qrows, qdf = _audit_queries(spark, emb, [0, 1, 2, 3, 4])
    approx = S.ivfpq_topk(emb, "vec_id", "embedding",
                          query_ids=[0, 1, 2, 3, 4], centroids=cents,
                          codebooks=books, k=10, n_probe=3,
                          query_rows=qrows) \
        .select("query_id", "neighbor_id")
    exact = S.cosine_topk(emb, "vec_id", "embedding",
                          queries=qdf, k=10) \
        .select("query_id", "neighbor_id")
    ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
    return (exact.join(ind, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_hit").cast("long").alias("n_hits"))
            .select("query_id", "n_hits"))


def _ivfpq_recall_sql() -> str:
    return f"""
WITH ivfpq AS (SELECT query_id, neighbor_id FROM ({_ivfpq_sql()}) t),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t),
hits AS (SELECT b.query_id, i.neighbor_id AS hit
         FROM brute b LEFT JOIN ivfpq i
           ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
SELECT query_id, CAST(count(hit) AS BIGINT) AS n_hits
FROM hits GROUP BY query_id
"""


PIPELINE_INVENTORY["sim_ivfpq_recall"] = (q_sim_ivfpq_recall,
                                          _ivfpq_recall_sql())


def q_sim_ann_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Recall-DRIFT audit for the streaming ANN lifecycle: as
    streaming/ann.admit_stream keeps encoding arrivals against a
    PERSISTED index, the index ages — codebooks trained on yesterday's
    distribution quantize today's corpus worse.  This row prices that
    staleness as a driver-provable fact: recall@10 (vs brute-force
    cosine, 5 queries) of (a) the STREAMED arm — codebooks trained on
    the first half of the corpus (the 'yesterday' slice) encoding the
    FULL corpus, exactly what the streamed code store holds (admission
    encode == batch encode bit-identical,
    test_streaming_ann_admit_and_search) — vs (b) the REBUILT arm —
    codebooks retrained on the full corpus.  The gap between the arms
    is the signal that schedules a rebuild + compact_code_store pass.
    (The synthetic fixture embeddings are STATIONARY, so here the arms
    score comparably — the row proves the drift measurement end-to-end,
    which is exactly what a production pipeline polls; under real
    distribution shift the stale arm's n_hits sink.)
    Returns (arm, query_id, n_hits), fully deterministic."""
    emb = _embs(StreamBuilder(spark), sf)
    n = emb.count()
    qids = [0, 1, 2, 3, 4]
    stale_books = S.pq_codebooks(emb.filter(F.col("vec_id") < n // 2),
                                 "embedding", m=4, k=16, iters=2,
                                 id_col="vec_id")
    fresh_books = S.pq_codebooks(emb, "embedding", m=4, k=16, iters=2,
                                 id_col="vec_id")
    exact = S.cosine_topk(emb, "vec_id", "embedding", query_ids=qids,
                          k=10).select("query_id", "neighbor_id")
    arms = []
    for arm, books in (("rebuilt", fresh_books),
                       ("streamed_stale", stale_books)):
        approx = S.pq_adc_topk(emb, "vec_id", "embedding", qids, books,
                               k=10).select("query_id", "neighbor_id")
        ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
        arms.append(exact.join(ind, ["query_id", "neighbor_id"], "left")
                    .groupBy("query_id")
                    .agg(F.count("_hit").cast("long").alias("n_hits"))
                    .select(F.lit(arm).alias("arm"), "query_id",
                            "n_hits"))
    return arms[0].unionByName(arms[1])


def _ann_drift_sql() -> str:
    half = "WHERE vec_id < (SELECT count(*) // 2 FROM embeddings)"
    return f"""
WITH stale AS (SELECT query_id, neighbor_id
               FROM ({_pq_adc_sql(train_where=half)}) t),
fresh AS (SELECT query_id, neighbor_id FROM ({_pq_adc_sql()}) t),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t)
SELECT 'rebuilt' AS arm, b.query_id,
       CAST(count(f.neighbor_id) AS BIGINT) AS n_hits
FROM brute b LEFT JOIN fresh f
  ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
GROUP BY b.query_id
UNION ALL
SELECT 'streamed_stale' AS arm, b.query_id,
       CAST(count(s.neighbor_id) AS BIGINT) AS n_hits
FROM brute b LEFT JOIN stale s
  ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


PIPELINE_INVENTORY["sim_ann_drift"] = (q_sim_ann_drift, _ann_drift_sql())


_RETRAIN_BOOT = 48        # bootstrap training slice (deliberately underfit)
_RETRAIN_THRESHOLD = 12   # retrain when recall@10 hits < 12/50 (24%)


def q_sim_ann_retrain(spark: SparkSession, sf: str) -> DataFrame:
    """The drift -> RETRAIN decision, closed end-to-end (sim_ann_drift
    measures staleness; this row acts on it): codebooks trained at
    bootstrap time on the first {boot} arrivals (a deliberately underfit
    index — the day-one state of a streaming deployment) are recall-
    audited against brute-force cosine; when total recall@10 over the 5
    query vectors falls below {thr}/50, the index RETRAINS on the full
    corpus and the audit re-runs — 'before' rows always, 'after' rows
    exactly when the trigger fired, so the row proves BOTH the decision
    and the recovery (before 10/50 -> after 15/50 at sf0.01).  The
    decision threshold is replayed by the oracle (a scalar-subquery
    WHERE on the union's after-arm), so the conditional is itself
    hash-proven.  The streaming wiring (measure -> decide -> rebuild ->
    compact_code_store) is streaming/ann.retrain_if_drifted, unit-tested
    for arm-equality with this query.  Returns (phase, query_id,
    n_hits)."""
    emb = _embs(StreamBuilder(spark), sf)
    qids = [0, 1, 2, 3, 4]
    # r14: ONE query-side collect feeds the exact arm and BOTH ADC
    # audits (before/after each collected the same 5 vectors themselves)
    qrows, qdf = _audit_queries(spark, emb, qids)
    # the brute-force ground truth feeds both recall audits (and the
    # decision action) — persist the 50-row relation so the exact scorer
    # scans the corpus once
    exact = S.cosine_topk(emb, "vec_id", "embedding", queries=qdf,
                          k=10).select("query_id", "neighbor_id").persist()

    def recall(books):
        approx = S.pq_adc_topk(emb, "vec_id", "embedding", qids, books,
                               k=10, query_rows=qrows) \
            .select("query_id", "neighbor_id")
        ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
        return (exact.join(ind, ["query_id", "neighbor_id"], "left")
                .groupBy("query_id")
                .agg(F.count("_hit").cast("long").alias("n_hits")))

    boot_books = S.pq_codebooks(emb.filter(F.col("vec_id") < _RETRAIN_BOOT),
                                "embedding", m=4, k=16, iters=2,
                                id_col="vec_id")
    # consumed by the decision action AND the output union — persist the
    # |Q|-row audit so the boot-index ADC pass runs once
    before = recall(boot_books).persist()
    # the decision: one bounded (|Q|-row) driver action — the same
    # 1-action-per-round contract as the training loops
    total = before.agg(F.sum("n_hits")).collect()[0][0] or 0
    out = before.select(F.lit("before").alias("phase"), "query_id",
                        "n_hits")
    if total < _RETRAIN_THRESHOLD:
        fresh = S.pq_codebooks(emb, "embedding", m=4, k=16, iters=2,
                               id_col="vec_id")
        out = out.unionByName(
            recall(fresh).select(F.lit("after").alias("phase"),
                                 "query_id", "n_hits"))
    # 2|Q| audit rows — materialize them and drop the session-lifetime
    # caches (exact ground truth + boot audit) the sweep would otherwise
    # carry across all remaining queries
    return collect_freeing(out, exact, before)


def _ann_retrain_sql() -> str:
    boot = f"WHERE vec_id < {_RETRAIN_BOOT}"
    return f"""
WITH boot AS (SELECT query_id, neighbor_id
              FROM ({_pq_adc_sql(train_where=boot)}) t),
fresh AS (SELECT query_id, neighbor_id FROM ({_pq_adc_sql()}) t),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t),
before AS (SELECT b.query_id,
                  CAST(count(s.neighbor_id) AS BIGINT) AS n_hits
           FROM brute b LEFT JOIN boot s
             ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
           GROUP BY b.query_id),
after AS (SELECT b.query_id,
                 CAST(count(f.neighbor_id) AS BIGINT) AS n_hits
          FROM brute b LEFT JOIN fresh f
            ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
          GROUP BY b.query_id)
SELECT 'before' AS phase, query_id, n_hits FROM before
UNION ALL
SELECT 'after' AS phase, query_id, n_hits FROM after
WHERE (SELECT sum(n_hits) FROM before) < {_RETRAIN_THRESHOLD}
"""


PIPELINE_INVENTORY["sim_ann_retrain"] = (q_sim_ann_retrain,
                                         _ann_retrain_sql())


def q_select_cluster_balanced(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced diversity selection: equal-depth deterministic
    per-k-means-cell sample (operators/selection.cluster_balanced_select)
    — the topic-balanced pick a training mix uses so the head cluster
    doesn't swamp rare regions of embedding space.  Same kmeans params as
    sim_ivf_kmeans_topk (the oracle reuses the shared Lloyd's chain)."""
    from kstream_spark.operators import selection as SEL
    emb = _embs(StreamBuilder(spark), sf)
    cents = S.kmeans_centroids(emb, "embedding", k=8, iters=3,
                               id_col="vec_id")
    return SEL.cluster_balanced_select(emb, "vec_id", "embedding",
                                       centroids=cents, per_cell=12)


def _cluster_balanced_sql() -> str:
    return f"""
WITH {_lloyd_cells_cte(8, 3, 64)},
keyed AS (SELECT vec_id, cell_id,
            CAST(CAST(('0x' || substr(md5('cbal:' ||
                 CAST(vec_id AS VARCHAR)), 1, 12)) AS UBIGINT) AS BIGINT)
            AS sk
          FROM assigned)
SELECT vec_id, cell_id, rk FROM (
  SELECT vec_id, cell_id,
         CAST(row_number() OVER (PARTITION BY cell_id
                                 ORDER BY sk, vec_id) AS BIGINT) AS rk
  FROM keyed)
WHERE rk <= 12
"""


PIPELINE_INVENTORY["select_cluster_balanced"] = (q_select_cluster_balanced,
                                                 _cluster_balanced_sql())


# -- data-selection family (operators/selection.py) -------------------------
def q_select_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style hashed importance resampling toward a target source.
    share_tokens: the corpus token relation persists once and feeds both
    the weight aggregation and the per-doc scoring (the query-scale arm;
    dsir_scores' shape note) — the bounded 100-row result materializes
    via collect_freeing so the cache frees with the query."""
    from kstream_spark.operators import selection as SEL
    from kstream_spark.util import collect_freeing, local_df
    docs = _docs(StreamBuilder(spark), sf)
    caches: list = []
    out = SEL.select_dsir(docs, "doc_id", "text",
                          F.col("source") == "src18",
                          n_select=100, n_buckets=256,
                          caches=caches, share_tokens=True)
    return collect_freeing(out, *caches)


SQL_SELECT_DSIR = f"""
WITH w AS (SELECT doc_id, source,
                  list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                              x -> x <> '') AS words FROM documents),
tok AS (SELECT doc_id, (source = 'src18') AS t,
               CAST(CAST(('0x' || substr(md5('dsir:' || u), 1, 8)) AS UBIGINT)
                    % 256 AS BIGINT) AS b
        FROM (SELECT doc_id, source, unnest(words) AS u FROM w)),
counts AS (SELECT b, count(*) AS cs, count(*) FILTER (t) AS ct
           FROM tok GROUP BY b),
tot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM counts),
wt AS (SELECT b, CAST(round((ln((ct + 1) / (nt + 256))
                             - ln((cs + 1) / (ns + 256))) * 1e6, 0)
                      AS BIGINT) AS wgt
       FROM counts, tot),
doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(wgt) AS BIGINT) AS dsir_micro
        FROM tok JOIN wt USING (b) GROUP BY doc_id)
SELECT doc_id, n_tokens, dsir_micro,
       CAST(row_number() OVER (ORDER BY dsir_micro DESC, doc_id) AS BIGINT)
       AS rank
FROM doc QUALIFY rank <= 100
"""


def q_select_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center diversity coreset over the embeddings table."""
    from kstream_spark.operators import selection as SEL
    return SEL.kcenter_select(_embs(StreamBuilder(spark), sf),
                              "vec_id", "embedding", k=8)


def _kcenter_sql(k: int = 8) -> str:
    def d(var: str, cte: str) -> str:
        return (f"round(list_sum(list_transform(range(1, len({var}.v)+1), "
                f"i -> ({var}.v[i] - {cte}.v[i]) * ({var}.v[i] - {cte}.v[i])"
                f")), 6)")
    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)"]
    for i in range(2, k + 1):
        prev = ", ".join(f"c{j}" for j in range(1, i))
        dist = (f"least({', '.join(d('e', f'c{j}') for j in range(1, i))})"
                if i > 2 else d("e", "c1"))
        ctes.append(
            f"c{i} AS (SELECT e.vec_id, e.v, {dist} AS dd "
            f"FROM e, {prev} ORDER BY dd DESC, e.vec_id LIMIT 1)")
    selects = ["SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM c1"]
    selects += [f"SELECT CAST({i} AS BIGINT) AS rank, vec_id, dd AS dist "
                f"FROM c{i}" for i in range(2, k + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def q_sim_sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-quantized (int8-per-dim) asymmetric top-k."""
    return S.sq8_topk(_embs(StreamBuilder(spark), sf), "vec_id", "embedding",
                      query_ids=list(range(5)), k=10)


SQL_SIM_SQ8_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS i FROM e),
st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
bounds AS (SELECT list(mn ORDER BY i) AS mns,
                  list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
                       ELSE 0.0 END ORDER BY i) AS scs,
                  list((mx - mn) / 255.0 ORDER BY i) AS stps
           FROM st),
dq AS (SELECT vec_id,
              list_transform(range(1, len(v)+1),
                i -> mns[i] + least(255.0, floor((v[i] - mns[i]) * scs[i]))
                     * stps[i]) AS dv
       FROM e, bounds),
q AS (SELECT vec_id AS query_id, v AS qv FROM e
      WHERE vec_id IN (0, 1, 2, 3, 4)),
s AS (SELECT query_id, dq.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(qv)+1),
                                           i -> qv[i] * dv[i])), 6) AS score
      FROM q, dq WHERE query_id <> dq.vec_id)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS BIGINT)
       AS rank
FROM s QUALIFY rank <= 10
"""


def q_sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR-diversified re-rank of the exact top-12 candidates."""
    from kstream_spark.operators import selection as SEL
    return SEL.mmr_rerank(_embs(StreamBuilder(spark), sf), "vec_id",
                          "embedding", query_ids=list(range(5)),
                          n_candidates=12, k=5)


def _mmr_sql(n_candidates: int = 12, k: int = 5) -> str:
    head = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nm AS qn FROM n
      WHERE vec_id IN (0, 1, 2, 3, 4)),
s AS (SELECT query_id, n.vec_id AS cid,
             round(list_sum(list_transform(range(1, len(qv)+1),
                                           i -> qv[i] * n.v[i]))
                   / (qn * n.nm), 6) AS rel
      FROM q, n WHERE query_id <> n.vec_id),
cand AS (SELECT query_id, cid, rel,
                CAST(round(rel * 1e6, 0) AS BIGINT) AS rel_m FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, cid)
                 <= {n_candidates}),
cv AS (SELECT query_id, cid, rel_m, v, nm
       FROM cand JOIN n ON cand.cid = n.vec_id),
ps AS (SELECT a.query_id, a.cid AS ca, b.cid AS cb,
              CAST(round(round(list_sum(list_transform(range(1, len(a.v)+1),
                                            i -> a.v[i] * b.v[i]))
                    / (a.nm * b.nm), 6) * 1e6, 0) AS BIGINT) AS sim_m
       FROM cv a JOIN cv b
         ON a.query_id = b.query_id AND a.cid <> b.cid),
m1 AS (SELECT query_id, cid AS sel, 7 * rel_m AS sc1 FROM cand
       QUALIFY row_number() OVER (PARTITION BY query_id
                                  ORDER BY 7 * rel_m DESC, cid)
               = 1)"""
    ctes = [head]
    for i in range(2, k + 1):
        prevs = [f"m{j}" for j in range(1, i)]
        joins = " ".join(f"JOIN {m} ON {m}.query_id = c.query_id"
                         for m in prevs)
        pjoins = " ".join(
            f"JOIN ps p{j} ON p{j}.query_id = c.query_id "
            f"AND p{j}.ca = c.cid AND p{j}.cb = m{j}.sel"
            for j in range(1, i))
        ms = (f"greatest({', '.join(f'p{j}.sim_m' for j in range(1, i))})"
              if i > 2 else "p1.sim_m")
        notin = ", ".join(f"m{j}.sel" for j in range(1, i))
        ctes.append(
            f"m{i} AS (SELECT c.query_id, c.cid AS sel, "
            f"7 * c.rel_m - 3 * {ms} AS sc{i} "
            f"FROM cand c {joins} {pjoins} "
            f"WHERE c.cid NOT IN ({notin}) "
            f"QUALIFY row_number() OVER (PARTITION BY c.query_id "
            f"ORDER BY sc{i} DESC, c.cid) = 1)")
    sel = "\nUNION ALL ".join(
        f"SELECT query_id, sel AS sel_id, CAST({i} AS BIGINT) AS mmr_rank, "
        f"sc{i} AS mmr_score FROM m{i}" for i in range(1, k + 1))
    return ",\n".join(ctes) + "\n" + sel


def q_dedup_cross_source(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate rate matrix between sources (corpus feed audit)."""
    return D.cross_source_matrix(_docs(StreamBuilder(spark), sf),
                                 "doc_id", "text", "source",
                                 n=3, threshold=0.8)


SQL_DEDUP_CROSS_SOURCE = f"""
WITH j AS ({SQL_DEDUP_NGRAM_JACCARD}),
lab AS (SELECT least(da.source, db.source) AS src_a,
               greatest(da.source, db.source) AS src_b,
               CAST(round(j.jaccard * 1e6, 0) AS BIGINT) AS jm
        FROM j JOIN documents da ON j.doc_a = da.doc_id
               JOIN documents db ON j.doc_b = db.doc_id)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(jm) AS BIGINT) AS sum_j_micro
FROM lab GROUP BY 1, 2
"""


PIPELINE_INVENTORY["select_dsir"] = (q_select_dsir, SQL_SELECT_DSIR)
PIPELINE_INVENTORY["select_kcenter"] = (q_select_kcenter, _kcenter_sql())
PIPELINE_INVENTORY["sim_sq8_topk"] = (q_sim_sq8_topk, SQL_SIM_SQ8_TOPK)
PIPELINE_INVENTORY["sim_mmr_rerank"] = (q_sim_mmr_rerank, _mmr_sql())
PIPELINE_INVENTORY["dedup_cross_source"] = (q_dedup_cross_source,
                                            SQL_DEDUP_CROSS_SOURCE)


def q_sim_ivfsq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF + SQ8 composed index: cell-probed search over dequantized
    1-byte-per-dim codes (operators/similarity.ivfsq_topk)."""
    return S.ivfsq_topk(_embs(StreamBuilder(spark), sf), "vec_id",
                        "embedding", query_ids=list(range(5)),
                        k=10, n_cells=16, n_probe=4)


_IVFSQ_COS = ("round(list_sum(list_transform(range(1, len({a})+1), "
              "i -> {a}[i] * {b}[i]))"
              " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
              " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)")

SQL_SIM_IVFSQ_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS i FROM e),
st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
bounds AS (SELECT list(mn ORDER BY i) AS mns,
                  list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
                       ELSE 0.0 END ORDER BY i) AS scs,
                  list((mx - mn) / 255.0 ORDER BY i) AS stps
           FROM st),
dqe AS (SELECT vec_id, v,
               list_transform(range(1, len(v)+1),
                 i -> mns[i] + least(255.0, floor((v[i] - mns[i]) * scs[i]))
                      * stps[i]) AS dv
        FROM e, bounds),
cents AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
cos_ac AS (
  SELECT dqe.vec_id AS neighbor_id, dqe.dv, c.cell_id,
         {_IVFSQ_COS.format(a='dqe.v', b='c.cv')} AS cell_cos
  FROM dqe, cents c),
assigned AS (
  SELECT neighbor_id, dv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY cell_cos DESC, cell_id) AS rn
    FROM cos_ac) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
cos_qc AS (
  SELECT q.query_id, q.qv, c.cell_id,
         {_IVFSQ_COS.format(a='q.qv', b='c.cv')} AS cell_cos
  FROM q, cents c),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cell_cos DESC, cell_id) AS rn
    FROM cos_qc) WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         round(list_sum(list_transform(range(1, len(p.qv)+1),
                                       i -> p.qv[i] * a.dv[i])), 6) AS score
  FROM probes p JOIN assigned a USING (cell_id)
  WHERE p.query_id <> a.neighbor_id)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS BIGINT)
       AS rank
FROM scored QUALIFY rank <= 10
"""

PIPELINE_INVENTORY["sim_ivfsq_topk"] = (q_sim_ivfsq_topk, SQL_SIM_IVFSQ_TOPK)


def q_sim_sq8_recall(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 fidelity as a DRIVER-PROVABLE fact: recall@10 of the scalar-
    quantized asymmetric search against brute-force cosine, per query —
    the audit row for the 4x-compressed tier (8-bit per-dim codes should
    be near-lossless at dim 64; the oracle replays both pipelines and
    derives the identical intersection)."""
    emb = _embs(StreamBuilder(spark), sf)
    # r14: ONE query-side collect shared by the approximate and exact
    # arms (each used to filter-and-fetch the same 5 vectors itself)
    qrows, qdf = _audit_queries(spark, emb, list(range(5)))
    approx = S.sq8_topk(emb, "vec_id", "embedding",
                        query_ids=list(range(5)), k=10, queries=qdf) \
        .select("query_id", "neighbor_id")
    exact = S.cosine_topk(emb, "vec_id", "embedding",
                          queries=qdf, k=10) \
        .select("query_id", "neighbor_id")
    ind = F.broadcast(approx.withColumn("_hit", F.lit(1)))
    return (exact.join(ind, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_hit").cast("long").alias("n_hits"))
            .select("query_id", "n_hits",
                    (F.col("n_hits") >= 7).alias("recall_ok")))


def _sq8_recall_sql() -> str:
    return f"""
WITH sq AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_SQ8_TOPK}) t),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t),
hits AS (SELECT b.query_id, s.neighbor_id AS hit
         FROM brute b LEFT JOIN sq s
           ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id)
SELECT query_id, CAST(count(hit) AS BIGINT) AS n_hits,
       count(hit) >= 7 AS recall_ok
FROM hits GROUP BY query_id
"""


PIPELINE_INVENTORY["sim_sq8_recall"] = (q_sim_sq8_recall, _sq8_recall_sql())


def q_vec_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss 64->16 Rademacher projection
    (operators/vectors.random_projection): literal +-1 sign matrix,
    pure codegen add/subtract chains, zero shuffle.  Exploded to
    (vec_id, idx, p) for driver hashability (same convention as
    vec_normalize)."""
    from kstream_spark.operators.vectors import random_projection
    return (random_projection(_embs(StreamBuilder(spark), sf), "embedding",
                              in_dim=64, out_dim=16)
            .select("vec_id", F.posexplode("rp").alias("idx", "p"))
            .withColumn("idx", F.col("idx").cast("long")))


def _rp_chains() -> list[str]:
    """The 16 projection chains as DuckDB expressions over v (DOUBLE[]),
    generated from the SAME rp_sign_matrix the Spark operator uses —
    literal-for-literal identical arithmetic, left-associated in input
    order (0.25 = 1/sqrt(16) is a power of two, so the scaling is
    exact)."""
    from kstream_spark.operators.vectors import rp_sign_matrix
    chains = []
    for row in rp_sign_matrix(64, 16):
        body = "- v[1]" if row[0] < 0 else "v[1]"
        for d, s in enumerate(row[1:], start=2):
            body += f" {'-' if s < 0 else '+'} v[{d}]"
        # + 0.0 normalizes -0.0 -> 0.0 (signed-zero parity with the Spark
        # operator — see operators/vectors.random_projection)
        chains.append(f"round(({body}) * 0.25, 6) + 0.0")
    return chains


def _rp_sql() -> str:
    cols = ",\n  ".join(_rp_chains())
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, [{cols}] AS rp FROM e)
SELECT vec_id, CAST(ii.i AS BIGINT) AS idx, rp[ii.i + 1] AS p
FROM p CROSS JOIN range(0, 16) ii(i)
"""


PIPELINE_INVENTORY["vec_random_projection"] = (q_vec_random_projection,
                                               _rp_sql())


def q_sim_rp_recall(spark: SparkSession, sf: str) -> DataFrame:
    """JL-tier fidelity as a DRIVER-PROVABLE fact: recall@10 of the
    shortlist-then-rerank path (operators/similarity.rp_rerank_topk:
    projected-space top-100 shortlist, exact re-rank) against brute-force
    64-dim cosine, per query.  An exact re-rank can never displace a true
    top-10 member that made the shortlist, so composed recall ==
    |exact top-10 ∩ projected top-100| — which is what the oracle
    replays.  (Raw projected top-10 without the re-rank measures 1-2/10
    on this isotropic synthetic data; the shortlist recovers 4-8/10 —
    the honest price of 4x-cheaper scan dots here, see SCALING.md.)"""
    from kstream_spark.operators.vectors import random_projection
    emb = _embs(StreamBuilder(spark), sf)
    proj = random_projection(emb, "embedding", in_dim=64, out_dim=16)
    shortlist = S.cosine_topk(proj.select("vec_id", "rp"), "vec_id", "rp",
                              query_ids=list(range(5)), k=100) \
        .select("query_id", "neighbor_id")
    exact = S.cosine_topk(emb, "vec_id", "embedding",
                          query_ids=list(range(5)), k=10) \
        .select("query_id", "neighbor_id")
    ind = F.broadcast(shortlist.withColumn("_hit", F.lit(1)))
    return (exact.join(ind, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("_hit").cast("long").alias("n_hits")))


def _rp_recall_sql() -> str:
    cols = ",\n  ".join(_rp_chains())
    rp_cos = ("round(list_sum(list_transform(range(1, len({a})+1), "
              "i -> {a}[i] * {b}[i]))"
              " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
              " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, [{cols}] AS rp FROM e),
q AS (SELECT vec_id AS query_id, rp AS qv FROM p
      WHERE vec_id IN (0, 1, 2, 3, 4)),
s AS (SELECT query_id, p.vec_id AS neighbor_id,
        {rp_cos.format(a='qv', b='p.rp')} AS cos
      FROM q, p WHERE query_id <> p.vec_id),
rp_top AS (SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rank
    FROM s) WHERE rank <= 100),
brute AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_COSINE_TOPK}) t),
hits AS (SELECT b.query_id, r.neighbor_id AS hit
         FROM brute b LEFT JOIN rp_top r
           ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id)
SELECT query_id, CAST(count(hit) AS BIGINT) AS n_hits
FROM hits GROUP BY query_id
"""


PIPELINE_INVENTORY["sim_rp_recall"] = (q_sim_rp_recall, _rp_recall_sql())


def q_sim_rp_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The production JL-tier query: projected-space top-100 shortlist,
    exact full-dim cosine re-rank, top-10
    (operators/similarity.rp_rerank_topk)."""
    return S.rp_rerank_topk(_embs(StreamBuilder(spark), sf), "vec_id",
                            "embedding", query_ids=list(range(5)),
                            k=10, shortlist=100, out_dim=16, in_dim=64)


def _rp_rerank_sql() -> str:
    cols = ",\n  ".join(_rp_chains())
    rp_cos = ("round(list_sum(list_transform(range(1, len({a})+1), "
              "i -> {a}[i] * {b}[i]))"
              " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
              " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, [{cols}] AS rp FROM e),
q AS (SELECT vec_id AS query_id, rp AS qv FROM p
      WHERE vec_id IN (0, 1, 2, 3, 4)),
s AS (SELECT query_id, p.vec_id AS neighbor_id,
        {rp_cos.format(a='qv', b='p.rp')} AS pcos
      FROM q, p WHERE query_id <> p.vec_id),
shortlist AS (SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY pcos DESC, neighbor_id) AS rn
    FROM s) WHERE rn <= 100),
ex AS (SELECT sl.query_id, sl.neighbor_id,
         {rp_cos.format(a='qe.v', b='ne.v')} AS cos
       FROM shortlist sl
       JOIN e qe ON qe.vec_id = sl.query_id
       JOIN e ne ON ne.vec_id = sl.neighbor_id)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT)
       AS rank
FROM ex QUALIFY rank <= 10
"""


PIPELINE_INVENTORY["sim_rp_rerank_topk"] = (q_sim_rp_rerank_topk,
                                            _rp_rerank_sql())


def q_mm_afp_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-duplicate pairs (multimodal.afp_pairs): Haitsma-Kalker
    robust hash over the stubbed band energies (fake_decode_audio — 80
    integer segment sums standing in for framed filterbank energies),
    one re-encoded copy per document (energies jittered by k%3-1, the
    re-compression artifact the fingerprint is designed to survive),
    Hamming-LSH band join (shared banded_hamming_pairs machinery, never
    all-pairs), exact verify at max_hamming=3 — complete by pigeonhole
    over 4 LSH bands.  Completes the dedup modality triple:
    text (MinHash/SimHash/winnow), image (dHash), audio (HK)."""
    d0 = (_docs(StreamBuilder(spark), sf)
          .filter(F.length("text") >= 80).select("doc_id", "text"))
    base = M.fake_decode_audio(d0, "doc_id", "text", n_seg=80)
    orig = base.select((F.col("doc_id") * 2).alias("clip_id"), "energies")
    copy = base.select(
        (F.col("doc_id") * 2 + 1).alias("clip_id"),
        F.transform("energies",
                    lambda x, i: x + (i % F.lit(3) - 1)).alias("energies"))
    clips = orig.unionByName(copy).persist()  # decode once, hash many
    # hot-bucket cap (winnow's max_fp_df dial): boilerplate envelopes
    # hash whole cohorts into one band value — 322-occupancy buckets
    # measured at sf0.1, a superlinear pair space; the cap is REPLAYED
    # by the oracle's HAVING, so the query stays hash-exact
    return collect_freeing(
        M.afp_pairs(clips, "clip_id", "energies", max_hamming=3,
                    max_band_df=_AFP_BAND_DF), clips)


_AFP_BAND_DF = 50  # hot-bucket cap — ONE knob for driver call and oracle


def _mm_afp_sql(n_seg: int = 80, frames: int = 16, fbands: int = 4,
                lsh_bands: int = 4, max_hamming: int = 3,
                band_df: int | None = None) -> str:
    """DuckDB replay: segment sums + jitter copy + HK second-difference
    bits + banded candidates + Hamming verify."""
    nbits = (frames - 1) * fbands
    bbits = nbits // lsh_bands
    seg = []
    for k in range(n_seg):
        st = f"CAST(({k}*n)//{n_seg} AS INT)+1"
        ln = f"CAST((({k + 1})*n)//{n_seg} - ({k}*n)//{n_seg} AS INT)"
        seg.append(
            f"(CAST(coalesce(list_sum(list_transform("
            f"string_split_regex(substr(t,{st},{ln}),''),"
            f" ch -> ord(ch))),0) AS INT)"
            f" + jit * ({k} % 3 - 1)) AS e{k}")
    band_exprs = []
    for g in range(lsh_bands):
        terms = []
        for p in range(bbits):
            i = g * bbits + p
            f, b = i // fbands + 1, i % fbands
            d = (f"(e{f * (fbands + 1) + b} - e{f * (fbands + 1) + b + 1}"
                 f" - e{(f - 1) * (fbands + 1) + b}"
                 f" + e{(f - 1) * (fbands + 1) + b + 1})")
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
        band_exprs.append("(" + " + ".join(terms) + f") AS band{g}")
    band_case = " ".join(f"WHEN {g} THEN band{g}" for g in range(lsh_bands))
    hamming = " + ".join(
        f"bit_count(xor(x.band{g}, y.band{g}))" for g in range(lsh_bands))
    return f"""
WITH d0 AS (SELECT doc_id, text AS t, length(text) AS n FROM documents
            WHERE length(text) >= {n_seg}),
clips AS (SELECT doc_id*2 AS clip_id, t, n, 0 AS jit FROM d0
          UNION ALL SELECT doc_id*2+1, t, n, 1 FROM d0),
s AS (SELECT clip_id, {", ".join(seg)} FROM clips),
hb AS (SELECT clip_id, {", ".join(band_exprs)} FROM s),
sig AS (SELECT clip_id, b.band_idx,
          CASE b.band_idx {band_case} END AS val
        FROM hb CROSS JOIN
          (SELECT unnest(range({lsh_bands})) AS band_idx) b),
keep AS (SELECT band_idx, val FROM sig
         GROUP BY 1, 2 HAVING count(*) <= {band_df or _AFP_BAND_DF}),
sigc AS (SELECT sig.* FROM sig JOIN keep USING (band_idx, val)),
cand AS (SELECT DISTINCT a.clip_id AS clip_a, c.clip_id AS clip_b
         FROM sigc a JOIN sigc c ON a.band_idx = c.band_idx
           AND a.val = c.val AND a.clip_id < c.clip_id)
SELECT cand.clip_a, cand.clip_b, CAST({hamming} AS BIGINT) AS hamming
FROM cand JOIN hb x ON x.clip_id = cand.clip_a
          JOIN hb y ON y.clip_id = cand.clip_b
WHERE {hamming} <= {max_hamming}
"""


PIPELINE_INVENTORY["mm_afp_dedup"] = (q_mm_afp_dedup, _mm_afp_sql())


def q_mm_video_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Video near-dup by sampled-frame overlap (multimodal.
    frame_overlap_pairs): each document yields two 8-frame clips — the
    original and a TIME-SHIFTED copy (the payload trimmed by one frame
    stride, the cut/re-mux artifact frame-set matching is built for) —
    and the operator recovers the copy pairs from the exact-frame-hash
    equi-join (7 of 8 frames shared; bucketed candidates, never
    all-pairs).  Completes the dedup modality grid: text, image
    (dHash), audio (Haitsma-Kalker), video (frame-set overlap)."""
    stride = 32
    d0 = (_docs(StreamBuilder(spark), sf)
          .filter(F.length("text") >= 9 * stride).select("doc_id", "text"))
    orig = d0.select((F.col("doc_id") * 2).alias("clip_id"), "text")
    trimmed = d0.select((F.col("doc_id") * 2 + 1).alias("clip_id"),
                        F.expr(f"substring(text, {stride + 1})")
                        .alias("text"))
    clips = orig.unionByName(trimmed)
    # explode + hash in ONE select (a generator may ride alongside other
    # projection columns) — no self-join to re-attach text
    frames = (clips.select(
        "clip_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("frame_idx"))
        .select("clip_id",
                F.sha2(F.expr(
                    f"substring(text, frame_idx * {stride} + 1, "
                    f"{stride})"), 256).alias("frame_sha")))
    return M.frame_overlap_pairs(frames, "clip_id", "frame_sha",
                                 min_shared=3)


SQL_MM_VIDEO_DEDUP = """
WITH d0 AS (SELECT doc_id, text FROM documents
            WHERE length(text) >= 288),
clips AS (SELECT doc_id*2 AS clip_id, text FROM d0
          UNION ALL
          SELECT doc_id*2+1, substring(text, 33) FROM d0),
frames AS (SELECT DISTINCT clip_id,
             lower(sha256(substring(text, f.i * 32 + 1, 32))) AS h
           FROM clips CROSS JOIN (SELECT unnest(range(0, 8)) AS i) f)
SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM frames a JOIN frames b ON a.h = b.h AND a.clip_id < b.clip_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""


PIPELINE_INVENTORY["mm_video_dedup"] = (q_mm_video_dedup,
                                        SQL_MM_VIDEO_DEDUP)


def q_dedup_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking dedup audit (dedup.cdc_chunks): rolling-
    hash boundaries chunk every document (shift-resistant, works on any
    byte payload), then per document: chunk count and how many of its
    chunks are SHARED verbatim with another document — the storage-layer
    dedup ratio a blob store would realize."""
    from kstream_spark.operators.dedup import cdc_chunks
    # doc_id < 5000 bounds the ORACLE's per-position lambda replay at
    # sf1 (covers every doc at the driver's sf0.01); the operator itself
    # is a linear per-row projection at any scale
    d0 = _docs(StreamBuilder(spark), sf).filter(F.col("doc_id") < 5000)
    # persist the chunk relation: it feeds BOTH the per-hash doc-count
    # aggregation and the join back, and the partial agg on one side
    # defeats exchange reuse, so without the persist the Arrow chunking
    # pass (the expensive part) runs twice (the q_dedup_winnow pattern;
    # bench/sweep harnesses clearCache between queries, releasing it)
    ch = cdc_chunks(d0, "doc_id", "text").persist()
    per = (ch.groupBy("chunk_md5")
           .agg(F.count_distinct("doc_id").alias("_nd")))
    return (ch.join(per, "chunk_md5")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
                 .cast("long").alias("n_shared_chunks"),
                 F.sum("chunk_len").cast("long").alias("n_bytes")))


def _cdc_sql(window: int = 16, mask_bits: int = 6) -> str:
    B, M = 257, (1 << 31) - 1
    pows = [pow(B, j, M) for j in range(window)]
    pows_sql = ",".join(str(p) for p in pows)
    mask = 1 << mask_bits
    return f"""
WITH d AS (SELECT doc_id, text AS t, length(text) AS n,
             list_transform(string_split_regex(text, ''),
                            ch -> CAST(ord(ch) AS BIGINT)) AS codes
           FROM documents WHERE doc_id < 5000),
b AS (SELECT doc_id, t, n,
        list_filter(range({window}, greatest(n, {window}) + 1), i ->
          i <= n AND
          list_sum(list_transform(range(0, {window}),
            j -> codes[i - j] * ([{pows_sql}]::BIGINT[])[j + 1] % {M}))
          % {M} % {mask} = 0) AS bounds
      FROM d),
se AS (SELECT doc_id, t,
         list_prepend(0, bounds) AS starts,
         list_append(bounds, CAST(n AS BIGINT)) AS ends
       FROM b),
ch AS (SELECT doc_id,
         md5(substr(t, CAST(starts[k] AS INT) + 1,
                    CAST(ends[k] - starts[k] AS INT))) AS chunk_md5,
         ends[k] - starts[k] AS chunk_len
       FROM se, unnest(range(1, len(starts) + 1)) AS u(k)
       WHERE ends[k] - starts[k] > 0),
per AS (SELECT chunk_md5, count(DISTINCT doc_id) AS nd
        FROM ch GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(sum(chunk_len) AS BIGINT) AS n_bytes
FROM ch JOIN per USING (chunk_md5)
GROUP BY doc_id
"""


PIPELINE_INVENTORY["dedup_cdc_chunks"] = (q_dedup_cdc_chunks, _cdc_sql())


# -- corpus-filter rule stacks + entropy (round 10) ---------------------------
def q_text_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule stack (operators/text.gopher_filter) with bounds
    calibrated to the fixture's 10-99-word documents so every rule
    discriminates; ref analog: none (kstream filters via user predicates,
    kstream/stream.go Filter) — the published rule STACK is the surface."""
    return TX.gopher_filter(_docs(StreamBuilder(spark), sf), "doc_id", "text",
                            min_words=20, max_words=80, min_stopwords=1)


_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in TX.GOPHER_STOPSET)

SQL_TEXT_GOPHER_FILTER = f"""
WITH base AS (
  SELECT doc_id, text AS t,
    list_filter(string_split_regex(lower(text), '{RE2_WS}'), x -> x <> '') AS w,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM documents),
sig AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    round(length(regexp_replace(t, '\\s', '', 'g'))
          / greatest(len(w), 1), 6) AS mean_word_len,
    round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          / greatest(len(w), 1), 6) AS alpha_word_frac,
    CAST(len(list_intersect(list_distinct(w), [{_GOPHER_STOP_SQL}]))
         AS BIGINT) AS n_stopwords,
    round(len(regexp_extract_all(t, '#|\\.\\.\\.'))
          / greatest(len(w), 1), 6) AS symbol_ratio,
    round(len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
          / greatest(len(lines), 1), 6) AS bullet_line_frac,
    round(len(list_filter(lines, x -> regexp_matches(trim(x), '\\.\\.\\.$')))
          / greatest(len(lines), 1), 6) AS ellipsis_line_frac
  FROM base),
fl AS (
  SELECT *,
    (n_words < 20 OR n_words > 80) AS f_wc,
    (mean_word_len < 3.0 OR mean_word_len > 10.0) AS f_mwl,
    (alpha_word_frac < 0.8) AS f_alpha,
    (n_stopwords < 1) AS f_stop,
    (symbol_ratio > 0.1) AS f_sym,
    (bullet_line_frac > 0.9) AS f_bullet,
    (ellipsis_line_frac > 0.3) AS f_ell
  FROM sig)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_stopwords,
       symbol_ratio, bullet_line_frac, ellipsis_line_frac,
       NOT (f_wc OR f_mwl OR f_alpha OR f_stop OR f_sym OR f_bullet OR f_ell)
         AS keep,
       concat_ws(',',
         CASE WHEN f_wc THEN 'word_count' END,
         CASE WHEN f_mwl THEN 'mean_word_len' END,
         CASE WHEN f_alpha THEN 'alpha_words' END,
         CASE WHEN f_stop THEN 'stopwords' END,
         CASE WHEN f_sym THEN 'symbol_ratio' END,
         CASE WHEN f_bullet THEN 'bullet_lines' END,
         CASE WHEN f_ell THEN 'ellipsis_lines' END) AS fail_reasons
FROM fl
"""


def q_text_c4_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line cleaning (operators/text.c4_line_clean).  The fixture is
    single-line and punctuation-free, so the registered query relaxes the
    terminal-punctuation rule and keys the length rule at 40 words; the
    full rule set (punctuation + drop markers + multi-line) is exercised
    by tests/test_text_filters.py on synthetic multi-line docs."""
    return TX.c4_line_clean(_docs(StreamBuilder(spark), sf), "doc_id", "text",
                            min_line_words=40, require_terminal_punct=False)


SQL_TEXT_C4_CLEAN = f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM documents),
k AS (
  SELECT doc_id, lines,
    list_transform(
      list_filter(lines, x ->
        len(list_filter(string_split_regex(trim(x), '{RE2_WS}'),
                        y -> y <> '')) >= 40
        AND NOT contains(lower(trim(x)), 'javascript')
        AND NOT contains(lower(trim(x)), 'lorem ipsum')
        AND NOT contains(lower(trim(x)), '{{')),
      x -> trim(x)) AS kept
  FROM base)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_hash
FROM k
"""


def q_text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc unigram entropy (operators/text.doc_entropy): the
    degenerate-text signal; Spark side is a zero-shuffle sorted-array
    run-length fold, the oracle is the definitional unnest + two GROUP
    BYs — hash equality proves the fold computes the definition."""
    return TX.doc_entropy(_docs(StreamBuilder(spark), sf), "doc_id", "text")


SQL_TEXT_ENTROPY = f"""
WITH {_W},
wx AS (SELECT doc_id,
         list_filter(words, x -> x <> '') AS w FROM w),
c AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS c
      FROM wx, unnest(w) AS t(word) GROUP BY 1, 2),
agg AS (SELECT doc_id, sum(c) AS n, count(*) AS d,
               sum(c * log2(c)) AS sclg
        FROM c GROUP BY 1)
SELECT wx.doc_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_words,
       CAST(coalesce(d, 0) AS BIGINT) AS n_distinct,
       round(CASE WHEN n > 0 THEN log2(n) - sclg / n ELSE 0.0 END, 6)
         AS entropy,
       round(CASE WHEN d > 1 THEN (log2(n) - sclg / n) / log2(d)
                  ELSE 0.0 END, 6) AS norm_entropy
FROM wx LEFT JOIN agg USING (doc_id)
"""


PIPELINE_INVENTORY["text_gopher_filter"] = (q_text_gopher_filter,
                                            SQL_TEXT_GOPHER_FILTER)
PIPELINE_INVENTORY["text_c4_clean"] = (q_text_c4_clean, SQL_TEXT_C4_CLEAN)
PIPELINE_INVENTORY["text_entropy"] = (q_text_entropy, SQL_TEXT_ENTROPY)
