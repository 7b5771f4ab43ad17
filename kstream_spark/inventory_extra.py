"""Additional inventory: SimHash dedup, pandas grouped-map UDAF, JSON column
handling, cube grouping."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder
from kstream_spark.functions.text import RE2_WS
from kstream_spark.operators import dedup as D

_W = (f"w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words "
      "FROM documents)")
_HEXHI = "('8','9','a','b','c','d','e','f')"


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = StreamBuilder(spark).table(f"{sf}/documents.parquet").to_df()
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=1)


def _simhash_sql() -> str:
    bits, chunks = D.SIMHASH_BITS, D.SIMHASH_CHUNKS
    width = bits // chunks
    sums = ", ".join(
        f"sum(CASE WHEN substr(md5(w), {i + 1}, 1) IN {_HEXHI} "
        f"THEN 1 ELSE 0 END) AS s{i}" for i in range(bits))
    chunk_exprs = ", ".join(
        "(" + " + ".join(
            f"(CASE WHEN s{c * width + j} * 2 >= n THEN {1 << (width - 1 - j)} "
            f"ELSE 0 END)" for j in range(width)) + f") AS c{c}"
        for c in range(chunks))
    chunk_union = " UNION ALL ".join(
        f"SELECT doc_id, {c} AS ci, c{c} AS cv FROM sig" for c in range(chunks))
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(chunks))
    return f"""
WITH {_W},
tok AS (SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(words)-2, 0)+1),
                               i -> array_to_string(words[i:i+2], ' '))) AS w
       FROM w),
sums AS (SELECT doc_id, count(*) AS n, {sums} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, {chunk_exprs} FROM sums),
ch AS ({chunk_union}),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM ch x JOIN ch y ON x.ci = y.ci AND x.cv = y.cv
                          AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand JOIN sig a ON a.doc_id = doc_a JOIN sig b ON b.doc_id = doc_b
WHERE {ham} <= 1
"""


# Pandas grouped-map UDAF (the UDF surface, SURVEY §2.6): per-user z-score.
# Arrow-batched applyInPandas — the sanctioned slow path for per-group
# imperative logic Spark expressions can't state.
def q_udaf_zscore(spark: SparkSession, sf: str) -> DataFrame:
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df() \
        .select("event_id", "user_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        out = pdf[["event_id", "user_id"]].copy()
        out["z"] = ((pdf["value"] - mu) / sd).round(4)
        return out

    return ev.groupBy("user_id").applyInPandas(
        zscore, "event_id long, user_id long, z double")


SQL_UDAF_ZSCORE = """
SELECT event_id, user_id,
       round((value - avg(value) OVER (PARTITION BY user_id))
             / stddev_samp(value) OVER (PARTITION BY user_id), 4) AS z
FROM events
"""


# JSON value handling (the reference's values are JSON payloads decoded by
# encoders, kstream/encoding/json_encoder.go:48-61)
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df()
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


# Cube grouping (superset)
def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df()
    return (ev.cube("event_type", (F.col("user_id") % 10).alias("cohort"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


SQL_CUBE = """
SELECT event_type, user_id % 10 AS cohort, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY CUBE (event_type, user_id % 10)
"""


# IVF approximate top-k (scale path for similarity search).  Approximate
# w.r.t. brute force but fully DETERMINISTIC (lowest-id centroids, rounded
# cosines, id tie-breaks) — so the SQL oracle reproduces the whole
# quantize->probe->rank pipeline exactly; recall vs brute force is covered
# by tests/test_pipeline.py.
def q_sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.operators.similarity import ivf_topk
    emb = StreamBuilder(spark).table(f"{sf}/embeddings.parquet").to_df()
    return ivf_topk(emb, "vec_id", "embedding", query_ids=list(range(5)),
                    k=10, n_cells=16, n_probe=4)


_COS = ("round(list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
        " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)")

SQL_SIM_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
cos_ac AS (
  SELECT e.vec_id AS neighbor_id, e.v AS nv, c.cell_id,
         {_COS.format(a='e.v', b='c.cv')} AS cell_cos
  FROM e, cents c),
assigned AS (
  SELECT neighbor_id, nv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY cell_cos DESC, cell_id) AS rn
    FROM cos_ac) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
cos_qc AS (
  SELECT q.query_id, q.qv, c.cell_id,
         {_COS.format(a='q.qv', b='c.cv')} AS cell_cos
  FROM q, cents c),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cell_cos DESC, cell_id) AS rn
    FROM cos_qc) WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_COS.format(a='p.qv', b='a.nv')} AS cos
  FROM probes p JOIN assigned a USING (cell_id)
  WHERE p.query_id <> a.neighbor_id)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 10
"""


EXTRA_INVENTORY: dict[str, tuple] = {
    "dedup_simhash": (q_dedup_simhash, _simhash_sql()),
    "udaf_pandas_zscore": (q_udaf_zscore, SQL_UDAF_ZSCORE),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "agg_cube": (q_cube, SQL_CUBE),
    "sim_ivf_topk": (q_sim_ivf_topk, SQL_SIM_IVF_TOPK),
}


def q_text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.operators.text import tf_idf_top_terms
    docs = StreamBuilder(spark).table(f"{sf}/documents.parquet").to_df()
    return tf_idf_top_terms(docs, "doc_id", "text", k=3)


SQL_TEXT_TFIDF = f"""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words
           FROM documents),
tok AS (SELECT doc_id, unnest(words) AS w FROM w),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok)
          GROUP BY w),
scored AS (SELECT doc_id, w,
             round(tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS score
           FROM tf JOIN dfreq USING (w) CROSS JOIN n)
SELECT doc_id, w AS term, score,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, w) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 3
"""

EXTRA_INVENTORY["text_tfidf"] = (q_text_tfidf, SQL_TEXT_TFIDF)


def q_udtf_chunk_text(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (SURVEY §2.6 table-function surface): context-window
    chunking for LLM training corpora — each doc fans out to 32-word
    chunks at stride 24, via a LATERAL table-function join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk_text string, n_words bigint")
    class ChunkText:
        def eval(self, text: str):
            import re
            ws = re.split(r"\s+", text)
            for start in range(0, len(ws), 24):
                chunk = ws[start:start + 32]
                yield start // 24, " ".join(chunk), len(chunk)

    spark.udtf.register("chunk_text_udtf", ChunkText)
    docs = StreamBuilder(spark).table(f"{sf}/documents.parquet").to_df()
    docs.createOrReplaceTempView("documents_for_chunking")
    return spark.sql("""
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_words
        FROM documents_for_chunking d, LATERAL chunk_text_udtf(d.text) c
    """)


SQL_UDTF_CHUNK_TEXT = rf"""
WITH w AS (SELECT doc_id, string_split_regex(text, '{RE2_WS}') AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS start FROM w)
SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
       array_to_string(ws[start + 1 : start + 32], ' ') AS chunk_text,
       CAST(len(ws[start + 1 : start + 32]) AS BIGINT) AS n_words
FROM idx
"""


EXTRA_INVENTORY["udtf_chunk_text"] = (q_udtf_chunk_text, SQL_UDTF_CHUNK_TEXT)


def q_sketch_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ distinct users per event type, ACCURACY-GATED so the driver can
    hash-match it: an approximate estimate can't equal a SQL oracle, but the
    claim "the sketch lands within its error bound of the exact answer" can
    — the query emits (exact_distinct, n_rows, within_bound) and the oracle
    emits the exact values with within_bound=true.  A sketch drifting out of
    bound turns the row red.  (The raw-estimate operator is
    sketches.hll_distinct; tests/test_sketches.py asserts bounds too.)"""
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df()
    # exact distinct via two-step aggregation (pre-aggregate on the pair,
    # then count) — avoids the Expand a mixed countDistinct+approx agg
    # plans, and the pair-level partial combines map-side like any agg
    per = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    exact = per.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct"), F.sum("c").alias("n_rows"))
    est = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("est"))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_distinct", "n_rows",
                    (F.abs(F.col("est") - F.col("exact_distinct"))
                     <= F.greatest(F.round(F.col("exact_distinct") * 0.05),
                                   F.lit(2))).alias("within_bound")))


SQL_SKETCH_HLL = """
SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
       count(*) AS n_rows, true AS within_bound
FROM events GROUP BY event_type
"""


def q_sketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """GK approximate quantiles per event type, ACCURACY-GATED like
    sketch_hll_distinct: for each probed percentile the query checks the
    returned element's actual rank sits within the GK rank-error bound
    (1/accuracy, plus a 2-row convention slack) of the target rank, and
    emits booleans the exact-SQL oracle asserts are all true."""
    from kstream_spark.operators.sketches import approx_quantiles
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df() \
        .select("event_type", "value")
    ap = approx_quantiles(ev, ["event_type"], "value")  # q50, q95, q99
    j = ev.join(F.broadcast(ap), "event_type")
    n = F.count("*")
    tol = F.greatest(F.round(n * 0.01), F.lit(2))

    def rank_ok(p: int):
        at_most = F.sum((F.col("value") <= F.col(f"q{p}")).cast("long"))
        target = F.round(n * (p / 100.0))
        return (F.abs(at_most - target) <= tol).alias(f"q{p}_ok")

    return (j.groupBy("event_type")
            .agg(n.alias("n_rows"), rank_ok(50), rank_ok(95), rank_ok(99)))


SQL_SKETCH_QUANTILES = """
SELECT event_type, count(*) AS n_rows,
       true AS q50_ok, true AS q95_ok, true AS q99_ok
FROM events GROUP BY event_type
"""


EXTRA_INVENTORY["sketch_hll_distinct"] = (q_sketch_hll_distinct, SQL_SKETCH_HLL)
EXTRA_INVENTORY["sketch_quantiles"] = (q_sketch_quantiles, SQL_SKETCH_QUANTILES)


def q_sketch_freq_items(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries-style heavy hitters (sketches.frequent_items), gated on
    the algorithm's actual guarantee: every item with frequency STRICTLY
    greater than support*n MUST appear in the sketch's candidate set (false
    positives are allowed, false negatives are not — Spark's freqItems doc
    states the strict bound, so an item at exactly support*n may be absent
    and both sides of the gate use > to match).  The query emits each
    truly-frequent item with a found flag; the exact-SQL oracle emits the
    same items with true."""
    from pyspark.sql import Window as W
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df()
    fi = ev.stat.freqItems(["event_type"], support=0.15)  # 1 row, array col
    exact = (ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
             .withColumn("tot", F.sum("cnt").over(W.partitionBy()))
             .filter(F.col("cnt") > 0.15 * F.col("tot")))
    return (exact.crossJoin(F.broadcast(fi))
            .select("event_type", "cnt",
                    F.array_contains(F.col("event_type_freqItems"),
                                     F.col("event_type")).alias("found")))


SQL_SKETCH_FREQ_ITEMS = """
WITH tot AS (SELECT count(*) AS t FROM events)
SELECT event_type, count(*) AS cnt, true AS found
FROM events, tot GROUP BY event_type, t
HAVING count(*) > 0.15 * t
"""

EXTRA_INVENTORY["sketch_freq_items"] = (q_sketch_freq_items,
                                        SQL_SKETCH_FREQ_ITEMS)


def q_sketch_hll_union(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch distinct: a DataSketches HLL per (event_type, day)
    then a lossless sketch UNION across days — the store-sketches-at-
    ingest, merge-on-read pattern that answers cross-partition distinct
    questions at 100 TB without re-scanning history.  ACCURACY-GATED like
    sketch_hll_distinct: emits (exact_distinct, n_segments, within_bound)
    where the estimate must land within 5% of exact."""
    from kstream_spark.operators.sketches import hll_mergeable_distinct
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df() \
        .withColumn("day", F.to_date("ts"))
    est = hll_mergeable_distinct(ev, ["event_type"], "day", "user_id")
    per = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    exact = per.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct"))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_distinct", "n_segments",
                    (F.abs(F.col("est") - F.col("exact_distinct"))
                     <= F.greatest(F.round(F.col("exact_distinct") * 0.05),
                                   F.lit(2))).alias("within_bound")))


SQL_SKETCH_HLL_UNION = """
SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_segments,
       true AS within_bound
FROM events GROUP BY event_type
"""

EXTRA_INVENTORY["sketch_hll_union"] = (q_sketch_hll_union,
                                       SQL_SKETCH_HLL_UNION)


def q_fn_array_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function surface: set algebra over token arrays entirely in
    codegen (distinct/intersect/except/sort/contains)."""
    docs = StreamBuilder(spark).table(f"{sf}/documents.parquet").to_df()
    stop = F.array(*[F.lit(s) for s in
                     ("the", "a", "and", "of", "value", "table")])
    toks = F.array_sort(F.array_distinct(
        F.split(F.lower(F.col("text")), r"\s+")))
    d = docs.select("doc_id", toks.alias("_t"))
    return d.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_distinct"),
        F.size(F.array_intersect(F.col("_t"), stop)).cast("long")
        .alias("n_stop"),
        F.size(F.array_except(F.col("_t"), stop)).cast("long")
        .alias("n_content"),
        F.array_contains(F.col("_t"), "spark").alias("mentions_spark"),
        F.element_at(F.col("_t"), 1).alias("first_token"))


SQL_FN_ARRAY_OPS = rf"""
WITH d AS (SELECT doc_id,
             list_sort(list_distinct(string_split_regex(lower(text),
                                                        '{RE2_WS}'))) AS t
           FROM documents),
s AS (SELECT ['the', 'a', 'and', 'of', 'value', 'table'] AS stop)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_distinct,
       CAST(len(list_filter(t, x -> list_contains(stop, x))) AS BIGINT)
         AS n_stop,
       CAST(len(list_filter(t, x -> NOT list_contains(stop, x))) AS BIGINT)
         AS n_content,
       list_contains(t, 'spark') AS mentions_spark,
       t[1] AS first_token
FROM d, s
"""

EXTRA_INVENTORY["fn_array_ops"] = (q_fn_array_ops, SQL_FN_ARRAY_OPS)


def q_wf_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """Quartile bucketing + percent_rank over per-customer order totals —
    the ranking-window surface beyond row_number/lag (wf_lag_lead).

    CONTRACT: the global (unpartitioned) window serializes its input onto
    one task, so this form is only for AGGREGATE inputs — here the
    per-customer rollup, orders of magnitude smaller than the fact table.
    When the ranked relation is itself large, use the two-phase
    ``operators/ranking.with_ntile_percent_rank`` (registered as
    ``wf_ntile_dist`` — identical output, no single-partition sort)."""
    from pyspark.sql import Window as W
    orders = StreamBuilder(spark).table(f"{sf}/orders.parquet").to_df()
    per = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"))
    w = W.orderBy(F.desc("total"), F.asc("o_custkey"))
    return per.select(
        "o_custkey", "total",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"))


SQL_WF_NTILE = """
WITH per AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS total
             FROM orders GROUP BY o_custkey)
SELECT o_custkey, total,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM per
WINDOW w AS (ORDER BY total DESC, o_custkey ASC)
"""

EXTRA_INVENTORY["wf_ntile"] = (q_wf_ntile, SQL_WF_NTILE)


def q_wf_ntile_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase distributed ntile/percent_rank — output-identical to
    wf_ntile but with NO single-partition sort of the ranked data: range
    shuffle + local sort + monotonic-id local ranks + broadcast offsets
    (operators/ranking.py).  The registered proof that global ranking
    survives a ranked relation too big for one task."""
    from kstream_spark.operators.ranking import with_ntile_percent_rank
    orders = StreamBuilder(spark).table(f"{sf}/orders.parquet").to_df()
    per = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"))
    return with_ntile_percent_rank(
        per, [F.desc("total"), F.asc("o_custkey")], n_buckets=4) \
        .select("o_custkey", "total", "quartile", "pct_rank")


EXTRA_INVENTORY["wf_ntile_dist"] = (q_wf_ntile_dist, SQL_WF_NTILE)


def q_wf_value_functions(spark: SparkSession, sf: str) -> DataFrame:
    """first_value / last_value / nth_value over per-customer order
    history — the frame-dependent value-window surface (last_value needs
    an explicit unbounded-following frame or it reads the running last;
    both engines agree on the frame here)."""
    from pyspark.sql import Window as W
    orders = StreamBuilder(spark).table(f"{sf}/orders.parquet").to_df()
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_orderkey", "o_custkey",
        F.first_value("o_totalprice").over(wfull).alias("first_price"),
        F.last_value("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
        F.cume_dist().over(w).alias("cd"))


SQL_WF_VALUE_FUNCTIONS = """
SELECT o_orderkey, o_custkey,
       first_value(o_totalprice) OVER wf AS first_price,
       last_value(o_totalprice) OVER wf AS last_price,
       nth_value(o_totalprice, 2) OVER wf AS second_price,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

EXTRA_INVENTORY["wf_value_functions"] = (q_wf_value_functions,
                                         SQL_WF_VALUE_FUNCTIONS)


def q_sketch_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV theta-sketch pairwise source overlap (k=256 minimum md5
    hashes of distinct 3-shingles per source) — a DETERMINISTIC sketch,
    so unlike the HLL rows this one carries a full value-hash oracle.
    Restricted to 4 sources to keep the oracle replay readable; the
    operator handles all pairs identically."""
    from kstream_spark.builder import StreamBuilder
    from kstream_spark.operators.sketches import kmv_source_overlap
    from kstream_spark.util import collect_freeing
    docs = (StreamBuilder(spark)
            .table(f"{sf}/documents.parquet", name="documents").to_df()
            .filter(F.col("source").isin("src18", "src6", "src7", "src12")))
    caches: list = []
    out = kmv_source_overlap(docs, "doc_id", "text", "source",
                             k=128, n=3, caches=caches)
    return collect_freeing(out, *caches)


SQL_SKETCH_KMV_OVERLAP = rf"""
WITH d AS (SELECT * FROM documents
           WHERE source IN ('src18', 'src6', 'src7', 'src12')),
w AS (SELECT source AS src, string_split_regex(lower(text), '{RE2_WS}') AS words
      FROM d),
sh AS (SELECT DISTINCT src,
              md5('kmv:' || unnest(list_transform(
                  range(1, greatest(len(words) - 2, 0) + 1),
                  i -> array_to_string(words[i:i+2], ' ')))) AS h
       FROM w),
sk AS (SELECT src, h FROM (
         SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h)
                AS rn FROM sh) WHERE rn <= 128),
srcs AS (SELECT DISTINCT src FROM sk),
pairs AS (SELECT a.src AS src_a, b.src AS src_b
          FROM srcs a JOIN srcs b ON a.src < b.src),
pr AS (SELECT DISTINCT p.src_a, p.src_b, s.h
       FROM pairs p JOIN sk s ON s.src = p.src_a OR s.src = p.src_b),
uni AS (SELECT src_a, src_b, h FROM (
          SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                       ORDER BY h) AS rn FROM pr)
        WHERE rn <= 128),
flg AS (SELECT u.src_a, u.src_b,
               CASE WHEN a.h IS NULL THEN 0 ELSE 1 END
               * CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS b2
        FROM uni u
        LEFT JOIN sk a ON a.src = u.src_a AND a.h = u.h
        LEFT JOIN sk b ON b.src = u.src_b AND b.h = u.h)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_used,
       CAST(sum(b2) AS BIGINT) AS n_both,
       CAST(round(sum(b2) * 1e6 / count(*), 0) AS BIGINT) AS jaccard_micro
FROM flg GROUP BY 1, 2
"""

EXTRA_INVENTORY["sketch_kmv_overlap"] = (q_sketch_kmv_overlap,
                                         SQL_SKETCH_KMV_OVERLAP)
